package graft.operators

import graft.Tables
import graft.functions.TextFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table, each with a DuckDB
  * oracle computing the identical formula (SURVEY.md §7.1 item 8 /
  * training-data-pipeline extension surface).
  */
object TextQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.loadFan(s, dir, "documents", "doc_id")

  /** Common DuckDB fragments mirroring TextFunctions. */
  private val duckToks = "regexp_split_to_array(trim(text), '\\s+')"
  private def duckStopCount(toksExpr: String, words: Seq[String]): String =
    s"len(list_filter($toksExpr, t -> t IN (${words.map("'" + _ + "'").mkString(",")})))"

  // ------------------------------------------------------ token counting
  def txtTokens(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    d.select(
      col("doc_id"),
      tokenCount(col("text")).as("n_tokens"),
      length(col("text")).cast("long").as("n_chars_calc"),
      size(bpeTokens(col("text"))).cast("long").as("n_bpe_tokens"))
      .orderBy(col("doc_id"))
  }

  val txtTokensSql: String =
    s"""SELECT doc_id,
       |  CAST(len($duckToks) AS BIGINT) AS n_tokens,
       |  CAST(length(text) AS BIGINT) AS n_chars_calc,
       |  CAST(len(regexp_extract_all(text, '''[a-z]+|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+')) AS BIGINT) AS n_bpe_tokens
       |FROM documents ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------ quality scoring
  def txtQuality(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    d.select(
      col("doc_id"),
      tokenCount(col("text")).as("n_tokens"),
      stopwordCount(tokens(col("text")), EnglishStops).as("n_stop"),
      punctCount(col("text")).as("n_punct"),
      qualityScore(col("text")).as("quality"))
      .orderBy(col("doc_id"))
  }

  val txtQualitySql: String = {
    val stops = duckStopCount(duckToks, EnglishStops)
    s"""SELECT doc_id,
       |  CAST(len($duckToks) AS BIGINT) AS n_tokens,
       |  CAST($stops AS BIGINT) AS n_stop,
       |  CAST(length(text) - length(regexp_replace(text, '[.,!?;:()-]', '', 'g')) AS BIGINT) AS n_punct,
       |  ROUND(LEAST(GREATEST(
       |    LEAST(len($duckToks) / 64.0, 1.0) * 0.5
       |    + LEAST(($stops * 1.0 / len($duckToks)) * 5.0, 1.0) * 0.4
       |    + (1.0 - LEAST(((length(text) - length(regexp_replace(text, '[.,!?;:()-]', '', 'g'))) * 1.0
       |         / GREATEST(length(text), 1)) * 10.0, 1.0)) * 0.1,
       |    0.0), 1.0), 6) AS quality
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------ language ID
  def txtLangId(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    // materialize the four marker scores through a projection boundary,
    // then argmax over plain columns — one codegen'd regexp_count per
    // language per row (the r2 shape inlined interpreted HOF score
    // expressions into every `when`/`greatest`, ~24 evals per row)
    val scored = d.select(col("doc_id") +:
      LangMarkers.map { case (lang, m) => markerCount(col("text"), m).as(s"s_$lang") }: _*)
    val pred = langIdFromScores(LangMarkers.map { case (lang, _) => lang -> col(s"s_$lang") })
    scored.select(pred.as("lang_pred"))
      .groupBy(col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang_pred"))
  }

  val txtLangIdSql: String = {
    val scoreExprs = LangMarkers.map { case (lang, markers) =>
      lang -> duckStopCount(duckToks, markers)
    }
    val best = s"GREATEST(${scoreExprs.map(_._2).mkString(", ")})"
    val cases = scoreExprs.map { case (lang, sc) =>
      s"WHEN $sc > 0 AND $sc = $best THEN '$lang'"
    }.mkString(" ")
    s"""SELECT lang_pred, COUNT(*) AS n_docs FROM (
       |  SELECT CASE $cases ELSE 'und' END AS lang_pred FROM documents
       |) GROUP BY lang_pred ORDER BY lang_pred""".stripMargin
  }

  // ------------------------------------------------------ unigram entropy
  /** Token-unigram entropy per document (plus type-token ratio and a
    * normalized form): the distribution-shape quality signal that catches
    * gibberish (low entropy = few tokens repeated; high normalized entropy
    * = near-uniform). Each term's p·ln p contribution is cast to
    * DECIMAL(30,15) before summing — exact associative addition, so
    * Spark's partial-aggregation order and the oracle's sequential scan
    * agree (ln itself matches per-element; see q28/tfidf precedent).
    *
    * Scale: explode → map-combined (doc, term) counts → doc-level
    * aggregation joined on doc_id. Two map-combined shuffles, both keyed
    * by document — no skew beyond document size. */
  def txtEntropy(s: SparkSession, dir: String): DataFrame = {
    // tf feeds TWO branches (tot aggregation + join left side); without a
    // persist each branch re-runs the explode + count (txtTfidf precedent)
    val tf = docs(s, dir)
      .select(col("doc_id"), explode(tokens(lower(col("text")))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = tf.groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n"), count(lit(1)).as("types"))
    val p = col("cnt").cast("double") / col("n").cast("double")
    val out = tf.join(tot, Seq("doc_id"))
      .groupBy(col("doc_id"), col("n"), col("types"))
      .agg(sum((p * log(p)).cast("decimal(30,15)")).as("hsum"))
      .select(col("doc_id"),
        col("n").as("n_tokens"),
        col("types").as("n_types"),
        // types/n is a small-integer ratio that CAN land exactly on a .x5
        // rounding boundary (e.g. 1/640) where the engines' round() rules
        // diverge - use the floor(x*1e6+0.5) HALF_UP spelling (identical
        // IEEE op sequence both engines; see q14's bal_hundreds)
        (floor(col("types").cast("double") / col("n").cast("double") * 1e6 + 0.5) /
          1e6).as("ttr"),
        (round(-col("hsum").cast("double"), 6) + 0.0).as("entropy"),
        when(col("types") > 1,
          round(-col("hsum").cast("double") / log(col("types").cast("double")), 6) + 0.0)
          .otherwise(lit(0.0)).as("entropy_norm"))
      .orderBy(col("doc_id"))
      // one row per doc — materialize, then release the corpus-scale
      // (doc, term) cache instead of leaking it until clearCache
      .localCheckpoint()
    tf.unpersist()
    out
  }

  val txtEntropySql: String =
    """WITH terms AS (
      |  SELECT doc_id,
      |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
      |  FROM documents
      |), tf AS (
      |  SELECT doc_id, term, COUNT(*) AS cnt FROM terms GROUP BY 1, 2
      |), tot AS (
      |  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n,
      |    CAST(COUNT(*) AS BIGINT) AS types
      |  FROM tf GROUP BY 1
      |), h AS (
      |  SELECT tf.doc_id, tot.n, tot.types,
      |    SUM(CAST((CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE))
      |      * ln(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE)) AS DECIMAL(30,15)))
      |      AS hsum
      |  FROM tf JOIN tot ON tf.doc_id = tot.doc_id
      |  GROUP BY 1, 2, 3
      |)
      |SELECT doc_id, n AS n_tokens, types AS n_types,
      |  FLOOR(CAST(types AS DOUBLE) / CAST(n AS DOUBLE) * 1000000.0 + 0.5)
      |    / 1000000.0 AS ttr,
      |  ROUND(-CAST(hsum AS DOUBLE), 6) + 0.0 AS entropy,
      |  CASE WHEN types > 1
      |    THEN ROUND(-CAST(hsum AS DOUBLE) / ln(CAST(types AS DOUBLE)), 6) + 0.0
      |    ELSE 0.0 END AS entropy_norm
      |FROM h ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------ fingerprinting
  def txtFingerprint(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    d.select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .orderBy(col("doc_id"))
  }

  val txtFingerprintSql: String =
    """SELECT doc_id,
      |  md5(array_to_string(regexp_split_to_array(trim(lower(text)), '\s+'), ' ')) AS fp
      |FROM documents ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------ blocklist scrub
  /** Blocklist term scrubbing — the sanitization step of a training-data
    * pipeline (PII tokens, boilerplate markers, policy-blocked terms):
    * drop every blocklisted token from the stream, report how many were
    * removed, and fingerprint the scrubbed stream (md5 — same canonical
    * form both engines) so downstream exact-dedup runs on the CLEANED
    * text. Order-preserving token filter, NOT a set difference —
    * `array_except` would dedupe the survivors and corrupt the stream.
    *
    * Scale: pure map-side projection (tokenize, filter, hash per row) —
    * no shuffle at any corpus size. */
  val Blocklist: Seq[String] = Seq("customer", "merge", "blockedterm")

  /** Order-preserving survivor stream after blocklist removal — THE scrub
    * expression: every consumer (the driver query, the `graft_scrub_fp`
    * SQL function, the specs) must build on this one definition, or the
    * SQL surface silently drifts from txt_scrub's scrubbed_fp. */
  def scrubKept(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    filter(tokens(lower(text)), t => !t.isin(Blocklist: _*))

  /** md5 fingerprint of the scrubbed stream (txt_scrub's `scrubbed_fp`). */
  def scrubFp(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    md5(array_join(scrubKept(text), " "))

  def txtScrub(s: SparkSession, dir: String): DataFrame =
    txtScrubOf(docs(s, dir))

  /** The scrub projection over any (doc_id, text) frame — the single
    * expression both the driver query and PropertySpec run, so the spec's
    * order/repeat invariants constrain the PRODUCTION operator (a local
    * re-derivation in the test would pin nothing). */
  private[graft] def txtScrubOf(d: DataFrame): DataFrame = {
    val toks = tokens(lower(col("text")))
    val kept = scrubKept(col("text"))
    d.select(
      col("doc_id"),
      (size(toks) - size(kept)).cast("long").as("n_removed"),
      size(kept).cast("long").as("n_kept"),
      scrubFp(col("text")).as("scrubbed_fp"))
      .orderBy(col("doc_id"))
  }

  val txtScrubSql: String = {
    val inList = Blocklist.map("'" + _ + "'").mkString(", ")
    s"""WITH t AS (
       |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
       |  FROM documents
       |), k AS (
       |  SELECT doc_id, toks,
       |    list_filter(toks, t -> t NOT IN ($inList)) AS kept
       |  FROM t
       |)
       |SELECT doc_id,
       |  CAST(len(toks) - len(kept) AS BIGINT) AS n_removed,
       |  CAST(len(kept) AS BIGINT) AS n_kept,
       |  md5(array_to_string(kept, ' ')) AS scrubbed_fp
       |FROM k ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------ vocabulary stats
  /** Corpus vocabulary head — the dataset-card numbers: for the `topK`
    * highest-collection-frequency terms, the collection frequency (total
    * occurrences), document frequency (docs containing), and rank.
    *
    * Scale: explode → map-combined (doc, term) counts → map-combined term
    * rollup (cf = sum, df = count — the per-doc pre-aggregation makes the
    * distinct-doc count a plain count, no count_distinct shuffle), then a
    * TakeOrdered head. Two linear shuffles; the vocabulary relation is the
    * only thing that survives, and the head is `topK` rows. */
  def txtVocab(s: SparkSession, dir: String, topK: Int = 50): DataFrame = {
    val tf = docs(s, dir)
      .select(col("doc_id"), explode(tokens(lower(col("text")))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("cnt"))
    val vocab = tf.groupBy(col("term"))
      .agg(sum(col("cnt")).as("cf"), count(lit(1)).as("df"))
    vocab
      .orderBy(col("cf").desc, col("term"))
      .limit(topK)
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("cf").desc, col("term"))))
      .select(col("rank").cast("long").as("rank"), col("term"), col("cf"), col("df"))
      .orderBy(col("rank"))
  }

  val txtVocabSql: String =
    """WITH terms AS (
      |  SELECT doc_id,
      |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
      |  FROM documents
      |), tf AS (
      |  SELECT doc_id, term, COUNT(*) AS cnt FROM terms GROUP BY 1, 2
      |), vocab AS (
      |  SELECT term, CAST(SUM(cnt) AS BIGINT) AS cf,
      |    CAST(COUNT(*) AS BIGINT) AS df
      |  FROM tf GROUP BY 1
      |)
      |SELECT CAST(ROW_NUMBER() OVER (ORDER BY cf DESC, term) AS BIGINT) AS rank,
      |  term, cf, df
      |FROM vocab ORDER BY cf DESC, term LIMIT 50""".stripMargin

  // ------------------------------------------------- token-length histogram
  /** Token-count histogram per source — the mixture diagnostic a curation
    * run reads before setting length filters: bucket documents by
    * floor(n_tokens / 16) · 16 and count per (source, bucket). Integer
    * arithmetic end to end, so the oracle matches bit-for-bit.
    *
    * Scale: one map-combined aggregation keyed by (source, bucket) —
    * output is |sources| × |buckets| rows, constant-ish at any corpus
    * size. */
  def txtLenHist(s: SparkSession, dir: String, bucketWidth: Int = 16): DataFrame =
    docs(s, dir)
      .select(col("source"),
        (floor(tokenCount(col("text")) / bucketWidth) * bucketWidth)
          .cast("long").as("bucket"),
        tokenCount(col("text")).as("n_tokens"))
      .groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tot_tokens"))
      .orderBy(col("source"), col("bucket"))

  val txtLenHistSql: String =
    s"""WITH d AS (
       |  SELECT source, CAST(len($duckToks) AS BIGINT) AS n_tokens
       |  FROM documents
       |)
       |SELECT source,
       |  CAST(FLOOR(n_tokens / 16) * 16 AS BIGINT) AS bucket,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens
       |FROM d GROUP BY 1, 2 ORDER BY source, bucket""".stripMargin

  // ------------------------------------------------------------------ BM25
  /** Okapi BM25 ranking of the corpus against a fixed query-term set — the
    * relevance scorer a retrieval/curation pipeline uses to pull topical
    * slices out of a web corpus. Lucene's non-negative idf form
    * `ln(1 + (N − df + 0.5)/(df + 0.5))`; k1 = 1.2, b = 0.75. Per-term
    * contributions are cast to DECIMAL(30,15) before the per-doc sum, so
    * Spark's partial-aggregation order and the oracle's sequential scan
    * agree exactly; the rank sorts on the ROUNDED score (identical both
    * engines) with doc_id tiebreak, so the LIMIT boundary is stable.
    *
    * Scale: tokens filter to the query terms BEFORE the tf aggregation
    * (the exploded stream shrinks to |Q| terms per doc) and the doc
    * length rides ALONG the stream as a grouping key (functionally
    * dependent on doc_id — the shingle-carry discipline), so there is no
    * doc-keyed join back to the corpus; df and the corpus stats cross as
    * broadcast relations (|Q| rows, 1 row), the score is one doc-keyed
    * map-combined sum, and the head is a TakeOrdered. The one
    * corpus-sized shuffle is the (doc, term) tf aggregation itself. */
  val Bm25Query: Seq[String] = Seq("spark", "join", "window")

  def txtBm25(s: SparkSession, dir: String, topK: Int = 20,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val d = docs(s, dir)
    val stats = d.select(tokenCount(col("text")).as("dl"))
      .agg(count(lit(1)).as("n_docs"),
        (sum(col("dl")).cast("double") / count(lit(1)).cast("double")).as("avgdl"))
    // materialize tokens through a projection boundary so `size` and
    // `explode` read the same array, then carry dl as a dependent group key
    val qtf = d.select(col("doc_id"), tokens(lower(col("text"))).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("term"))
      .filter(col("term").isin(Bm25Query: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = qtf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val contrib = qtf
      .join(broadcast(df), Seq("term"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        (log(lit(1.0) + (col("n_docs").cast("double") - col("df").cast("double") + 0.5)
            / (col("df").cast("double") + 0.5)) *
          (col("tf").cast("double") * (k1 + 1.0)) /
          (col("tf").cast("double") +
            lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / col("avgdl"))))
          .as("c"))
    contrib.groupBy(col("doc_id"))
      .agg(sum(col("c").cast("decimal(30,15)")).as("raw"))
      .select(col("doc_id"), (round(col("raw").cast("double"), 6) + 0.0).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topK)
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col("doc_id"))))
      .select(col("rank").cast("long").as("rank"), col("doc_id"), col("score"))
      .orderBy(col("rank"))
  }

  val txtBm25Sql: String = {
    val inList = Bm25Query.map("'" + _ + "'").mkString(", ")
    s"""WITH dl AS (
       |  SELECT doc_id, CAST(len($duckToks) AS BIGINT) AS dl FROM documents
       |), stats AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
       |  FROM dl
       |), terms AS (
       |  SELECT doc_id,
       |    unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
       |  FROM documents
       |), qtf AS (
       |  SELECT doc_id, term, COUNT(*) AS tf FROM terms
       |  WHERE term IN ($inList) GROUP BY 1, 2
       |), df AS (
       |  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM qtf GROUP BY 1
       |), contrib AS (
       |  SELECT qtf.doc_id,
       |    ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
       |        / (CAST(df.df AS DOUBLE) + 0.5))
       |      * (CAST(tf AS DOUBLE) * (1.2 + 1.0))
       |      / (CAST(tf AS DOUBLE)
       |        + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl.dl AS DOUBLE) / avgdl)) AS c
       |  FROM qtf JOIN df ON qtf.term = df.term
       |  JOIN dl ON qtf.doc_id = dl.doc_id CROSS JOIN stats
       |), scored AS (
       |  SELECT doc_id,
       |    ROUND(CAST(SUM(CAST(c AS DECIMAL(30,15))) AS DOUBLE), 6) + 0.0 AS score
       |  FROM contrib GROUP BY 1
       |)
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank,
       |  doc_id, score
       |FROM scored ORDER BY score DESC, doc_id LIMIT 20""".stripMargin
  }

  // ------------------------------------------------- unigram-LM perplexity
  /** Unigram language-model perplexity per document — the CCNet-style
    * quality signal: train the unigram model ON the corpus itself
    * (`p(t) = cf(t) / total_tokens`), score each doc by its average
    * negative log-likelihood and `ppl = exp(avg_nll)`. Documents built
    * from rare tokens score high (gibberish / off-distribution); documents
    * of common tokens score low. Per-token contributions are cast to
    * DECIMAL(30,15) before the per-doc sum (exact, order-free — the
    * entropy/BM25 discipline); ln/exp evaluate per element identically on
    * both engines.
    *
    * Scale: (doc, term) tf is map-combined; the unigram table is
    * vocabulary-sized (shuffle join keyed by term — broadcastable when the
    * vocab fits, and Spark picks that automatically); the corpus total
    * crosses as a broadcast scalar. One doc-keyed sum. */
  def txtUnigramPpl(s: SparkSession, dir: String): DataFrame = {
    val tf = docs(s, dir)
      .select(col("doc_id"), explode(tokens(lower(col("text")))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val uni = tf.groupBy(col("term")).agg(sum(col("tf")).as("cf"))
    val total = tf.agg(sum(col("tf")).as("total"))
    val report = tf
      .join(uni, Seq("term"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("tf"),
        log(col("cf").cast("double") / col("total").cast("double")).as("lnp"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        sum((col("tf").cast("double") * col("lnp")).cast("decimal(30,15)")).as("ll"))
      .select(col("doc_id"), col("n_tokens"),
        (round(-col("ll").cast("double") / col("n_tokens").cast("double"), 6) + 0.0)
          .as("avg_nll"),
        (round(exp(-col("ll").cast("double") / col("n_tokens").cast("double")), 6) + 0.0)
          .as("ppl"))
      .orderBy(col("doc_id"))
      .localCheckpoint()
    tf.unpersist()
    report
  }

  val txtUnigramPplSql: String =
    """WITH terms AS (
      |  SELECT doc_id,
      |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
      |  FROM documents
      |), tf AS (
      |  SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2
      |), uni AS (
      |  SELECT term, CAST(SUM(tf) AS BIGINT) AS cf FROM tf GROUP BY 1
      |), tot AS (
      |  SELECT CAST(SUM(tf) AS BIGINT) AS total FROM tf
      |), ll AS (
      |  SELECT tf.doc_id, CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
      |    SUM(CAST(CAST(tf.tf AS DOUBLE)
      |      * ln(CAST(cf AS DOUBLE) / CAST(total AS DOUBLE)) AS DECIMAL(30,15)))
      |      AS ll
      |  FROM tf JOIN uni ON tf.term = uni.term CROSS JOIN tot
      |  GROUP BY 1
      |)
      |SELECT doc_id, n_tokens,
      |  ROUND(-CAST(ll AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) + 0.0 AS avg_nll,
      |  ROUND(exp(-CAST(ll AS DOUBLE) / CAST(n_tokens AS DOUBLE)), 6) + 0.0 AS ppl
      |FROM ll ORDER BY doc_id""".stripMargin

  // ---------------------------------------------- CCNet perplexity buckets
  /** CCNet-style quality bucketing: split each source's documents into
    * head / middle / tail thirds by LM perplexity (head = most fluent —
    * the slice CCNet keeps for high-quality corpora; tail = the candidate
    * discard). Perplexity is [[txtUnigramPpl]]'s corpus-trained score;
    * tertiles are NTILE(3) within source ordered by (ppl, doc_id) — the
    * doc_id tiebreak makes the assignment deterministic on both engines
    * even when rounded ppl values tie.
    *
    * Scale: NTILE needs a per-source total order — one sort shuffle keyed
    * by source, fine while every source fits a task spill budget. The
    * 100-TB form swaps the window for two APPROX tertile thresholds per
    * source (one `percentile_approx` pass → |sources|·2-row broadcast
    * model → map-side bucket assignment), trading exact thirds for a
    * one-pass mergeable sketch; the oracle-gated NTILE form is the exact
    * reference that certifies it. */
  def txtPplBuckets(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("ppl"), col("doc_id"))
    txtUnigramPpl(s, dir)
      .join(docs(s, dir).select(col("doc_id"), col("source")), Seq("doc_id"))
      .withColumn("t", ntile(3).over(w))
      .select(col("doc_id"), col("source"), col("ppl"),
        when(col("t") === 1, "head").when(col("t") === 2, "middle")
          .otherwise("tail").as("bucket"))
      .orderBy(col("doc_id"))
  }

  /** The 100-TB form of [[txtPplBuckets]]: per-source tertile THRESHOLDS
    * from one mergeable `percentile_approx` pass (|sources|·2 doubles —
    * broadcast model state), then map-side bucket assignment. No
    * per-source sort shuffle; the trade is approximate thirds at the
    * sketch's rank-error bound. Not driver-gated (the exact NTILE twin is
    * the oracle-gated reference); the spec certifies ≥90% bucket agreement
    * between the two forms. */
  def txtPplBucketsApprox(s: SparkSession, dir: String,
      accuracy: Int = 10000): DataFrame = {
    val ppl = txtUnigramPpl(s, dir)
      .join(docs(s, dir).select(col("doc_id"), col("source")), Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("ppl"))
    val th = ppl.groupBy(col("source"))
      .agg(percentile_approx(col("ppl"),
        array(lit(1.0 / 3), lit(2.0 / 3)), lit(accuracy)).as("th"))
    ppl.join(broadcast(th), Seq("source"))
      .select(col("doc_id"), col("source"), col("ppl"),
        when(col("ppl") <= element_at(col("th"), 1), "head")
          .when(col("ppl") <= element_at(col("th"), 2), "middle")
          .otherwise("tail").as("bucket"))
      .orderBy(col("doc_id"))
  }

  val txtPplBucketsSql: String =
    """WITH terms AS (
      |  SELECT doc_id,
      |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
      |  FROM documents
      |), tf AS (
      |  SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2
      |), uni AS (
      |  SELECT term, CAST(SUM(tf) AS BIGINT) AS cf FROM tf GROUP BY 1
      |), tot AS (
      |  SELECT CAST(SUM(tf) AS BIGINT) AS total FROM tf
      |), ll AS (
      |  SELECT tf.doc_id, CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
      |    SUM(CAST(CAST(tf.tf AS DOUBLE)
      |      * ln(CAST(cf AS DOUBLE) / CAST(total AS DOUBLE)) AS DECIMAL(30,15)))
      |      AS ll
      |  FROM tf JOIN uni ON tf.term = uni.term CROSS JOIN tot
      |  GROUP BY 1
      |), ppl AS (
      |  SELECT doc_id,
      |    ROUND(exp(-CAST(ll AS DOUBLE) / CAST(n_tokens AS DOUBLE)), 6) + 0.0 AS ppl
      |  FROM ll
      |), ranked AS (
      |  SELECT p.doc_id, d.source, p.ppl,
      |    NTILE(3) OVER (PARTITION BY d.source ORDER BY p.ppl, p.doc_id) AS t
      |  FROM ppl p JOIN documents d USING (doc_id)
      |)
      |SELECT doc_id, source, ppl,
      |  CASE WHEN t = 1 THEN 'head' WHEN t = 2 THEN 'middle' ELSE 'tail' END AS bucket
      |FROM ranked ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- bigram-LM perplexity
  /** Bigram language-model perplexity per document — the next step up from
    * [[txtUnigramPpl]] on the same CCNet-style quality axis: a document of
    * plausible words in IMPLAUSIBLE order (shuffled text, keyword stuffing)
    * scores near-unigram under the unigram model but high here. Model
    * trained on the corpus itself with add-k smoothing:
    * `p(w2|w1) = (c(w1 w2) + k) / (c(w1 ·) + k·|V|)`, k = 0.5, where
    * `c(w1 ·)` counts w1 as a bigram context and |V| is the corpus
    * vocabulary. Per-doc score = exp of the average negative log-likelihood
    * over the doc's bigrams (docs shorter than 2 tokens drop out). The
    * per-token ln contributions sum through DECIMAL(30,15) (exact,
    * order-free — the entropy/BM25/unigram discipline).
    *
    * Scale: (doc, bigram) tf is map-combined; the bigram and context
    * tables are model-sized shuffle joins keyed by bigram / context token
    * (broadcastable when they fit — Spark picks that); |V| crosses as a
    * broadcast scalar; one doc-keyed sum. No driver state. */
  def txtBigramPpl(s: SparkSession, dir: String, kSmooth: Double = 0.5): DataFrame = {
    val tf = docs(s, dir)
      .select(col("doc_id"), tokens(lower(col("text"))).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(
        transform(sequence(lit(1), size(col("toks")) - 1), i =>
          struct(element_at(col("toks"), i).as("w1"),
            concat_ws(" ", element_at(col("toks"), i),
              element_at(col("toks"), i + 1)).as("b")))).as("p"))
      .select(col("doc_id"), col("p.w1"), col("p.b"))
      .groupBy(col("doc_id"), col("w1"), col("b"))
      .agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val c2 = tf.groupBy(col("b")).agg(sum(col("tf")).as("c2"))
    val c1 = tf.groupBy(col("w1")).agg(sum(col("tf")).as("c1"))
    val vocab = docs(s, dir)
      .select(explode(tokens(lower(col("text")))).as("term"))
      .agg(countDistinct(col("term")).as("v"))
    val report = tf
      .join(c2, Seq("b")).join(c1, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"), col("tf"),
        log((col("c2").cast("double") + kSmooth) /
          (col("c1").cast("double") + col("v").cast("double") * kSmooth)).as("lnp"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_bigrams"),
        sum((col("tf").cast("double") * col("lnp")).cast("decimal(30,15)")).as("ll"))
      .select(col("doc_id"), col("n_bigrams"),
        (round(-col("ll").cast("double") / col("n_bigrams").cast("double"), 6) + 0.0)
          .as("avg_nll"),
        (round(exp(-col("ll").cast("double") / col("n_bigrams").cast("double")), 6) + 0.0)
          .as("ppl"))
      .orderBy(col("doc_id"))
      .localCheckpoint()
    tf.unpersist()
    report
  }

  val txtBigramPplSql: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      |  FROM documents
      |), bgsites AS (
      |  SELECT doc_id, unnest(range(1, len(t))) AS i, t
      |  FROM toks WHERE len(t) >= 2
      |), bg AS (
      |  SELECT doc_id, t[i] AS w1, t[i] || ' ' || t[i+1] AS b FROM bgsites
      |), tf AS (
      |  SELECT doc_id, w1, b, COUNT(*) AS tf FROM bg GROUP BY 1, 2, 3
      |), c2 AS (
      |  SELECT b, CAST(SUM(tf) AS BIGINT) AS c2 FROM tf GROUP BY 1
      |), c1 AS (
      |  SELECT w1, CAST(SUM(tf) AS BIGINT) AS c1 FROM tf GROUP BY 1
      |), voc AS (
      |  SELECT CAST(COUNT(DISTINCT term) AS BIGINT) AS v
      |  FROM (SELECT unnest(t) AS term FROM toks)
      |), ll AS (
      |  SELECT tf.doc_id, CAST(SUM(tf.tf) AS BIGINT) AS n_bigrams,
      |    SUM(CAST(CAST(tf.tf AS DOUBLE)
      |      * ln((CAST(c2 AS DOUBLE) + 0.5)
      |          / (CAST(c1 AS DOUBLE) + 0.5 * CAST(v AS DOUBLE)))
      |      AS DECIMAL(30,15))) AS ll
      |  FROM tf JOIN c2 USING (b) JOIN c1 USING (w1) CROSS JOIN voc
      |  GROUP BY 1
      |)
      |SELECT doc_id, n_bigrams,
      |  ROUND(-CAST(ll AS DOUBLE) / CAST(n_bigrams AS DOUBLE), 6) + 0.0 AS avg_nll,
      |  ROUND(exp(-CAST(ll AS DOUBLE) / CAST(n_bigrams AS DOUBLE)), 6) + 0.0 AS ppl
      |FROM ll ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- Zipf-fit health check
  /** Vocabulary rank–frequency Zipf fit: the log-log regression slope of
    * collection frequency against rank — natural-language corpora sit
    * near slope −1 (Zipf's law); machine-generated spam, template floods,
    * or truncated vocabularies bend the curve, so (slope, r²) is a cheap
    * corpus-health gate and a before/after check for dedup runs (removing
    * a template flood visibly restores the fit). One row:
    * (n_types, n_tokens, zipf_slope, r2).
    *
    * Determinism: ranks order by (cf DESC, term) — total, engine-stable;
    * each regression moment (x, y, xy, x², y²) is DECIMAL(30,15)-cast per
    * element before summing, slope/r² then computed from the exact sums
    * in identical double arithmetic.
    *
    * Scale: tf → cf is the map-combined vocabulary shuffle every LM op
    * here pays; the vocabulary rank is TWO-PHASE
    * ([[Ranking.twoPhaseRank]]), so even a no-df-floor web-scale
    * vocabulary never sorts on one reducer, and the regression is one
    * aggregation over the ranked frame. */
  def txtZipf(s: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(30,15)"
    val cf = docs(s, dir)
      .select(explode(tokens(lower(col("text")))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cf"))
    val ranked = Ranking
      .twoPhaseRank(cf, "rk", 32, col("cf").desc, col("term"))
      .select(log(col("rk").cast("double")).as("x"),
        log(col("cf").cast("double")).as("y"), col("cf"))
    ranked.agg(
        count(lit(1)).as("n_types"),
        sum(col("cf")).as("n_tokens"),
        sum(col("x").cast(dec)).as("sx"),
        sum(col("y").cast(dec)).as("sy"),
        sum((col("x") * col("y")).cast(dec)).as("sxy"),
        sum((col("x") * col("x")).cast(dec)).as("sxx"),
        sum((col("y") * col("y")).cast(dec)).as("syy"))
      .select(col("n_types"), col("n_tokens"),
        (round((col("n_types").cast("double") * col("sxy").cast("double")
            - col("sx").cast("double") * col("sy").cast("double"))
          / (col("n_types").cast("double") * col("sxx").cast("double")
            - col("sx").cast("double") * col("sx").cast("double")), 6) + 0.0)
          .as("zipf_slope"),
        (round(
          ((col("n_types").cast("double") * col("sxy").cast("double")
            - col("sx").cast("double") * col("sy").cast("double"))
          * (col("n_types").cast("double") * col("sxy").cast("double")
            - col("sx").cast("double") * col("sy").cast("double")))
          / ((col("n_types").cast("double") * col("sxx").cast("double")
            - col("sx").cast("double") * col("sx").cast("double"))
          * (col("n_types").cast("double") * col("syy").cast("double")
            - col("sy").cast("double") * col("sy").cast("double"))), 6) + 0.0)
          .as("r2"))
  }

  val txtZipfSql: String =
    """WITH terms AS (
      |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
      |  FROM documents
      |), cf AS (
      |  SELECT term, CAST(COUNT(*) AS BIGINT) AS cf FROM terms GROUP BY 1
      |), ranked AS (
      |  SELECT cf,
      |    ln(CAST(ROW_NUMBER() OVER (ORDER BY cf DESC, term) AS DOUBLE)) AS x,
      |    ln(CAST(cf AS DOUBLE)) AS y
      |  FROM cf
      |), m AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_types,
      |    CAST(SUM(cf) AS BIGINT) AS n_tokens,
      |    CAST(SUM(CAST(x AS DECIMAL(30,15))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(y AS DECIMAL(30,15))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(x * y AS DECIMAL(30,15))) AS DOUBLE) AS sxy,
      |    CAST(SUM(CAST(x * x AS DECIMAL(30,15))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(y * y AS DECIMAL(30,15))) AS DOUBLE) AS syy
      |  FROM ranked
      |)
      |SELECT n_types, n_tokens,
      |  ROUND((CAST(n_types AS DOUBLE) * sxy - sx * sy)
      |    / (CAST(n_types AS DOUBLE) * sxx - sx * sx), 6) + 0.0 AS zipf_slope,
      |  ROUND(((CAST(n_types AS DOUBLE) * sxy - sx * sy)
      |      * (CAST(n_types AS DOUBLE) * sxy - sx * sy))
      |    / ((CAST(n_types AS DOUBLE) * sxx - sx * sx)
      |      * (CAST(n_types AS DOUBLE) * syy - sy * sy)), 6) + 0.0 AS r2
      |FROM m""".stripMargin

  // --------------------------------------------- tokenizer fertility
  /** Tokenizer fertility report per source: BPE-ish subword tokens per
    * whitespace word and characters per subword token — the
    * bytes-per-token economics a tokenizer/mixture decision reads (a
    * source whose fertility is 2× pays 2× the context budget for the
    * same text; multilingual pipelines watch this per language). Integer
    * sums end to end, ratios rounded only at emission.
    *
    * Scale: one map pass (both tokenizers are per-row regex splits) into
    * a |sources|-group map-combined aggregation — model-sized output. */
  def txtFertility(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("source"),
        tokenCount(col("text")).as("ws"),
        size(bpeTokens(col("text"))).cast("long").as("bpe"),
        length(col("text")).cast("long").as("chars"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws")).as("n_ws_tokens"),
        sum(col("bpe")).as("n_bpe_tokens"),
        sum(col("chars")).as("n_chars"))
      .select(col("source"), col("n_docs"), col("n_ws_tokens"),
        col("n_bpe_tokens"), col("n_chars"),
        (round(col("n_bpe_tokens").cast("double")
          / col("n_ws_tokens").cast("double"), 6) + 0.0).as("bpe_per_word"),
        (round(col("n_chars").cast("double")
          / col("n_bpe_tokens").cast("double"), 6) + 0.0).as("chars_per_bpe"))
      .orderBy(col("source"))

  val txtFertilitySql: String =
    s"""WITH per AS (
       |  SELECT source,
       |    CAST(len($duckToks) AS BIGINT) AS ws,
       |    CAST(len(regexp_extract_all(text, '''[a-z]+|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+')) AS BIGINT) AS bpe,
       |    CAST(length(text) AS BIGINT) AS chars
       |  FROM documents
       |), agg AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(ws) AS BIGINT) AS n_ws_tokens,
       |    CAST(SUM(bpe) AS BIGINT) AS n_bpe_tokens,
       |    CAST(SUM(chars) AS BIGINT) AS n_chars
       |  FROM per GROUP BY source
       |)
       |SELECT source, n_docs, n_ws_tokens, n_bpe_tokens, n_chars,
       |  ROUND(CAST(n_bpe_tokens AS DOUBLE) / CAST(n_ws_tokens AS DOUBLE), 6)
       |    + 0.0 AS bpe_per_word,
       |  ROUND(CAST(n_chars AS DOUBLE) / CAST(n_bpe_tokens AS DOUBLE), 6)
       |    + 0.0 AS chars_per_bpe
       |FROM agg ORDER BY source""".stripMargin

  // -------------------------------------- Kneser–Ney bigram perplexity
  /** Interpolated Kneser–Ney bigram perplexity — the smoothing used by
    * production LM-quality filters (KenLM in CCNet/RefinedWeb): instead of
    * add-k's uniform fallback, the backoff weight is the CONTINUATION
    * probability `N1+(·w) / |bigram types|` (how many distinct contexts a
    * word follows — "francisco" is frequent but follows only "san", so its
    * continuation mass is tiny). Absolute discount D = 0.75:
    * `p(w|v) = max(c(vw)−D, 0)/c(v) + D·N1+(v·)/c(v) · N1+(·w)/T`.
    * Scoring the training corpus itself, every scored bigram has
    * c(vw) ≥ 1, so no zero-probability branch is reachable. Per-token ln p
    * contributions enter DECIMAL(30,15) before the per-doc sum (the
    * [[txtBigramPpl]] discipline); ln/exp evaluate identically per element.
    *
    * Scale: same shape as [[txtBigramPpl]] — the (doc, bigram) tf shuffle
    * is the cost; the bigram model (c2/c1/fan-out/fan-in tables) is
    * vocabulary-shaped and joins by term keys; the bigram-type total
    * crosses as a broadcast scalar. */
  def txtKnPpl(s: SparkSession, dir: String, discount: Double = 0.75): DataFrame = {
    val tf = docs(s, dir)
      .select(col("doc_id"), tokens(lower(col("text"))).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(
        transform(sequence(lit(1), size(col("toks")) - 1), i =>
          struct(element_at(col("toks"), i).as("w1"),
            element_at(col("toks"), i + 1).as("w2")))).as("p"))
      .select(col("doc_id"), col("p.w1"), col("p.w2"))
      .groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cb = tf.groupBy(col("w1"), col("w2")).agg(sum(col("tf")).as("c2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val c1 = cb.groupBy(col("w1"))
      .agg(sum(col("c2")).as("c1"), count(lit(1)).as("n1fwd"))
    val cont = cb.groupBy(col("w2")).agg(count(lit(1)).as("n1rev"))
    val types = cb.agg(count(lit(1)).as("t"))
    val d = lit(discount)
    val report = tf
      .join(cb, Seq("w1", "w2")).join(c1, Seq("w1")).join(cont, Seq("w2"))
      .crossJoin(broadcast(types))
      .select(col("doc_id"), col("tf"),
        log(greatest(col("c2").cast("double") - d, lit(0.0))
            / col("c1").cast("double")
          + d * col("n1fwd").cast("double") / col("c1").cast("double")
            * (col("n1rev").cast("double") / col("t").cast("double")))
          .as("lnp"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_bigrams"),
        sum((col("tf").cast("double") * col("lnp")).cast("decimal(30,15)")).as("ll"))
      .select(col("doc_id"), col("n_bigrams"),
        (round(-col("ll").cast("double") / col("n_bigrams").cast("double"), 6) + 0.0)
          .as("avg_nll"),
        (round(exp(-col("ll").cast("double") / col("n_bigrams").cast("double")), 6) + 0.0)
          .as("ppl"))
      .orderBy(col("doc_id"))
      .localCheckpoint()
    tf.unpersist(); cb.unpersist()
    report
  }

  val txtKnPplSql: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
      |  FROM documents
      |), bgsites AS (
      |  SELECT doc_id, unnest(range(1, len(t))) AS i, t
      |  FROM toks WHERE len(t) >= 2
      |), bg AS (
      |  SELECT doc_id, t[i] AS w1, t[i+1] AS w2 FROM bgsites
      |), tf AS (
      |  SELECT doc_id, w1, w2, COUNT(*) AS tf FROM bg GROUP BY 1, 2, 3
      |), cb AS (
      |  SELECT w1, w2, CAST(SUM(tf) AS BIGINT) AS c2 FROM tf GROUP BY 1, 2
      |), c1 AS (
      |  SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1,
      |    CAST(COUNT(*) AS BIGINT) AS n1fwd
      |  FROM cb GROUP BY 1
      |), cont AS (
      |  SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1rev FROM cb GROUP BY 1
      |), ty AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS t FROM cb
      |), ll AS (
      |  SELECT tf.doc_id, CAST(SUM(tf.tf) AS BIGINT) AS n_bigrams,
      |    SUM(CAST(CAST(tf.tf AS DOUBLE)
      |      * ln(GREATEST(CAST(c2 AS DOUBLE) - 0.75, 0.0) / CAST(c1 AS DOUBLE)
      |          + 0.75 * CAST(n1fwd AS DOUBLE) / CAST(c1 AS DOUBLE)
      |            * (CAST(n1rev AS DOUBLE) / CAST(t AS DOUBLE)))
      |      AS DECIMAL(30,15))) AS ll
      |  FROM tf JOIN cb USING (w1, w2) JOIN c1 USING (w1)
      |  JOIN cont USING (w2) CROSS JOIN ty
      |  GROUP BY 1
      |)
      |SELECT doc_id, n_bigrams,
      |  ROUND(-CAST(ll AS DOUBLE) / CAST(n_bigrams AS DOUBLE), 6) + 0.0 AS avg_nll,
      |  ROUND(exp(-CAST(ll AS DOUBLE) / CAST(n_bigrams AS DOUBLE)), 6) + 0.0 AS ppl
      |FROM ll ORDER BY doc_id""".stripMargin

  // ------------------------------------------ curriculum ordering
  /** Quality-stratified curriculum order: rank documents into quality
    * quartiles WITHIN each source (so no source's scale distorts the
    * bands), then emit a deterministic global training order that walks
    * the quartiles best-first with documents hash-interleaved across
    * sources inside each band — curriculum learning's "clean data first"
    * schedule without ever producing a long single-source run. Emits
    * (doc_id, source, quality, bucket, seq); consuming in `seq` order IS
    * the curriculum.
    *
    * Scale: the per-source NTILE needs a per-source sort (acceptable
    * when sources are balanced; the histogram-quantile form of
    * [[graft.operators.CurationOps.txtQualityCal]] is the swap-in when
    * one source dominates). The GLOBAL order is the [[SamplingOps.dsShuffle]]
    * two-phase rank — range-partition on (bucket, hash), local
    * row_number, driver exclusive-scan of the 32 per-partition COUNTS —
    * so no single reducer ever sorts the corpus and the driver sees
    * partition totals, never rows. */
  def txtCurriculum(s: SparkSession, dir: String, nBuckets: Int = 4,
      parts: Int = 32): DataFrame = {
    val wSrc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("quality").desc, col("doc_id"))
    val bucketed = docs(s, dir)
      .select(col("doc_id"), col("source"),
        qualityScore(col("text")).as("quality"),
        md5(col("doc_id").cast("string")).as("hkey"))
      .withColumn("bucket", ntile(nBuckets).over(wSrc).cast("long"))
      .repartitionByRange(parts, col("bucket"), col("hkey"), col("doc_id"))
      .withColumn("pid", spark_partition_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val totals = bucketed.groupBy(col("pid")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val bases = totals.scanLeft((0, 0L)) { case ((_, acc), (pid, n)) =>
      (pid + 1, acc + n)
    }.init.zip(totals).map { case ((_, base), (pid, _)) => (pid, base) }
    val baseDf = s.createDataFrame(bases.toSeq).toDF("pid", "base")
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy(col("pid"))
      .orderBy(col("bucket"), col("hkey"), col("doc_id"))
    val report = bucketed
      .withColumn("local_rank", row_number().over(wLocal))
      .join(broadcast(baseDf), Seq("pid"))
      .select(col("doc_id"), col("source"), col("quality"), col("bucket"),
        (col("base") + col("local_rank")).cast("long").as("seq"))
      .orderBy(col("doc_id"))
      .localCheckpoint()
    bucketed.unpersist()
    report
  }

  val txtCurriculumSql: String = {
    val stops = duckStopCount(duckToks, EnglishStops)
    s"""WITH q AS (
       |  SELECT doc_id, source,
       |    ROUND(LEAST(GREATEST(
       |      LEAST(len($duckToks) / 64.0, 1.0) * 0.5
       |      + LEAST(($stops * 1.0 / len($duckToks)) * 5.0, 1.0) * 0.4
       |      + (1.0 - LEAST(((length(text) - length(regexp_replace(text, '[.,!?;:()-]', '', 'g'))) * 1.0
       |           / GREATEST(length(text), 1)) * 10.0, 1.0)) * 0.1,
       |      0.0), 1.0), 6) AS quality,
       |    md5(CAST(doc_id AS VARCHAR)) AS hkey
       |  FROM documents
       |), b AS (
       |  SELECT doc_id, source, quality, hkey,
       |    CAST(NTILE(4) OVER (PARTITION BY source
       |      ORDER BY quality DESC, doc_id) AS BIGINT) AS bucket
       |  FROM q
       |)
       |SELECT doc_id, source, quality, bucket,
       |  CAST(ROW_NUMBER() OVER (ORDER BY bucket, hkey, doc_id) AS BIGINT) AS seq
       |FROM b ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------- boilerplate n-gram census
  /** Corpus-wide boilerplate detector: the top-k word 5-grams by DOCUMENT
    * frequency (distinct docs containing the phrase, not raw occurrences —
    * a phrase repeated inside one spammy doc is repetition, [[graft.operators.CurationOps.txtRepetition]]'s
    * job; a phrase repeated ACROSS docs is boilerplate: headers, footers,
    * license blurbs, navigation chrome). CCNet/RefinedWeb-style pipelines
    * strip such phrases before training; this census is the detection half,
    * and the strip half is [[graft.operators.DedupOps]]' substring-cut
    * machinery pointed at these n-grams.
    *
    * Scale: two-phase. Phase 1 counts df by the grams' 64-bit xxhash64
    * fingerprint — explode to one gram per row FIRST and hash as a
    * top-level column (whole-stage codegen; hashing inside a `transform`
    * lambda runs interpreted per element and measured 2× slower than even
    * the naive string census), then (doc, hash) distinct + count, so the
    * corpus-scale shuffles carry 16-byte rows, never gram text. Phase 2
    * re-derives TEXT only for the candidate set: the df cutoff is the
    * k-th-ranked count (a k-row aggregate), every hash at-or-above it
    * broadcasts back, and a second scan explodes grams but keeps only
    * broadcast-set hits — candidate-sized, so the string shuffle is the
    * report's size, not the corpus's. Ties at the cutoff are all retained
    * before the final (df desc, ngram) k-row sort, so the two-phase answer
    * is EXACTLY the single-phase one (spec pins this against a plain-Scala
    * census). Gram identity by 64-bit fingerprint is the dd_exact
    * assumption (collisions ~q²/2⁶⁵ — negligible, disclosed). */
  def txtBoilerplate(s: SparkSession, dir: String, n: Int = 5,
      k: Int = 20): DataFrame = {
    val d = docs(s, dir)
    val nDocs = d.agg(count(lit(1)).as("n_docs"))
    // materialize the token ARRAY before shingling — handing shingles()
    // the raw split() expression makes every element_at in the gram
    // lambda re-split the text (O(grams·n) regex runs per doc; measured
    // 20× slower). The explicit array_compact-free select is the
    // shingleSet discipline (DedupOps.scala:35).
    val toks = d.select(col("doc_id"), tokens(col("text")).as("toks"))
    val hdf = toks
      .select(col("doc_id"), explode(shingles(col("toks"), n)).as("g"))
      .select(col("doc_id"), xxhash64(col("g")).as("h"))
      .distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cutoff = hdf.orderBy(col("df").desc, col("h")).limit(k)
      .agg(min(col("df")).as("cut"))
    val cand = hdf.crossJoin(broadcast(cutoff))
      .filter(col("df") >= col("cut"))
      .select(col("h"), col("df"))
    val report = toks
      .select(explode(shingles(col("toks"), n)).as("ngram"))
      .withColumn("h", xxhash64(col("ngram")))
      .join(broadcast(cand), Seq("h"))
      .select(col("ngram"), col("df")).distinct()
      .crossJoin(broadcast(nDocs))
      .select(col("ngram"), col("df"),
        round(col("df").cast("double") / col("n_docs").cast("double"), 6)
          .as("doc_share"))
      .orderBy(col("df").desc, col("ngram"))
      .limit(k)
      .localCheckpoint()
    hdf.unpersist()
    report
  }

  val txtBoilerplateSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, $duckToks AS t FROM documents
       |), grams AS (
       |  SELECT DISTINCT doc_id,
       |    unnest(CASE WHEN len(t) >= 5
       |      THEN list_transform(range(1, len(t) - 3),
       |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4])
       |      ELSE [] END) AS ngram
       |  FROM toks
       |)
       |SELECT ngram, CAST(COUNT(*) AS BIGINT) AS df,
       |  ROUND(COUNT(*) / (SELECT COUNT(*) FROM documents), 6) AS doc_share
       |FROM grams GROUP BY 1 ORDER BY df DESC, ngram LIMIT 20""".stripMargin

  // ------------------------------------------ per-doc boilerplate share
  /** Per-document boilerplate fraction: the share of a doc's 5-gram
    * POSITIONS covered by the corpus's top-20 boilerplate census grams
    * ([[txtBoilerplate]]) — the doc-level verdict that turns the census
    * into a filter ("drop docs that are >X % navigation chrome", the
    * CCNet/RefinedWeb boilerplate-document rule). Occurrence grain, not
    * distinct: a doc that repeats one boilerplate phrase 50 times IS 50
    * positions of boilerplate. Docs too short to 5-gram report 0/0 → 0.
    *
    * Scale: the census is a 20-row broadcast; the position probe is a
    * map-side join on the gram string; counts are doc-keyed map-combined. */
  def txtBoilerplateFrac(s: SparkSession, dir: String, n: Int = 5): DataFrame = {
    val census = txtBoilerplate(s, dir).select(col("ngram").as("g"))
    val counts = docs(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(shingles(col("toks"), n)).as("g"))
      .join(broadcast(census.withColumn("b", lit(1))), Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("b").isNotNull, 1L).otherwise(0L)).as("n_boiler"))
    docs(s, dir).select(col("doc_id"))
      .join(counts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"))
      .select(col("doc_id"), col("n_grams"), col("n_boiler"),
        (round(when(col("n_grams") > 0,
          col("n_boiler").cast("double") / col("n_grams").cast("double"))
          .otherwise(lit(0.0)), 6) + 0.0).as("boiler_frac"))
      .orderBy(col("doc_id"))
  }

  val txtBoilerplateFracSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, $duckToks AS t FROM documents
       |), census AS (
       |  SELECT ngram FROM (
       |    SELECT ngram, CAST(COUNT(*) AS BIGINT) AS df FROM (
       |      SELECT DISTINCT doc_id,
       |        unnest(CASE WHEN len(t) >= 5
       |          THEN list_transform(range(1, len(t) - 3),
       |            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4])
       |          ELSE [] END) AS ngram
       |      FROM toks)
       |    GROUP BY 1 ORDER BY df DESC, ngram LIMIT 20)
       |), positions AS (
       |  SELECT doc_id,
       |    unnest(CASE WHEN len(t) >= 5
       |      THEN list_transform(range(1, len(t) - 3),
       |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4])
       |      ELSE [] END) AS g
       |  FROM toks
       |), counts AS (
       |  SELECT p.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
       |    CAST(SUM(CASE WHEN c.ngram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_boiler
       |  FROM positions p LEFT JOIN census c ON p.g = c.ngram
       |  GROUP BY p.doc_id
       |)
       |SELECT d.doc_id,
       |  CAST(COALESCE(n_grams, 0) AS BIGINT) AS n_grams,
       |  CAST(COALESCE(n_boiler, 0) AS BIGINT) AS n_boiler,
       |  ROUND(CASE WHEN COALESCE(n_grams, 0) > 0
       |    THEN CAST(n_boiler AS DOUBLE) / CAST(n_grams AS DOUBLE)
       |    ELSE 0.0 END, 6) + 0.0 AS boiler_frac
       |FROM documents d LEFT JOIN counts ON d.doc_id = counts.doc_id
       |ORDER BY d.doc_id""".stripMargin

  // ------------------------------------------------ Gopher rule battery
  /** The Gopher quality-rule battery (Rae et al. 2021, App. A1.1) as
    * per-document rule flags plus the combined keep verdict — the
    * canonical cheap pre-filter every large-scale text pipeline runs
    * before model-based scoring. Distinct from [[txtQuality]]'s blended
    * score: each rule is reported separately so a curation run can audit
    * WHICH rule rejected a document and retune one threshold without
    * touching the others.
    *
    * Rules (canonical constants): word count in [50, 100k]; mean word
    * length in [3, 10]; symbol-to-word ratio (# or ellipsis) ≤ 0.1;
    * ≤ 90% of lines starting with a bullet; ≤ 30% of lines ending in an
    * ellipsis; ≥ 80% of words containing an alphabetic character; ≥ 2
    * distinct canonical stopwords present.
    *
    * Every threshold comparison is INTEGER arithmetic on exact counts
    * (e.g. `10·n_alpha ≥ 8·n_tokens`), never a float ratio, so the Spark
    * and DuckDB verdicts agree bit-for-bit with no rounding seam; the
    * reported ratio columns are display-only roundings of the same
    * counts. One map-side pass per document — no shuffle beyond the
    * presentation sort, flat at any corpus size. */
  def txtGopher(s: SparkSession, dir: String): DataFrame =
    gopherFlagsFrom(docs(s, dir)).orderBy(col("doc_id"))

  /** [[txtGopher]] without the presentation sort, over any (doc_id, text)
    * frame. One stateless projection, so it is ALSO the streaming
    * filter-on-arrival form ([[graft.streaming.StreamOps
    * .streamingGopherFlags]]) — batch and stream verdicts agree
    * doc-for-doc by construction. */
  private[graft] def gopherFlagsFrom(d: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val withCounts = d.select(
      col("doc_id"),
      size(toks).cast("long").as("n_tok"),
      aggregate(toks, lit(0L), (acc, t) => acc + length(t)).as("sum_len"),
      regexp_count(col("text"), lit("#|\\.\\.\\.|…")).cast("long").as("n_sym"),
      size(split(col("text"), "\n")).cast("long").as("n_lines"),
      size(filter(split(col("text"), "\n"),
        l => trim(l).rlike("^[-*•]"))).cast("long").as("n_bullet"),
      size(filter(split(col("text"), "\n"),
        l => rtrim(l).rlike("(\\.\\.\\.|…)$"))).cast("long").as("n_ell"),
      size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("long").as("n_alpha"),
      size(filter(
        array(GopherStops.map(lit): _*),
        w => array_contains(toks, w))).cast("long").as("n_stop"))
    val flags = withCounts.select(
      col("doc_id"), col("n_tok"),
      round(col("sum_len").cast("double") / col("n_tok"), 6).as("mean_tok_len"),
      round(col("n_sym").cast("double") / col("n_tok"), 6).as("symbol_ratio"),
      col("n_stop"),
      (col("n_tok") >= 50 && col("n_tok") <= 100000).cast("int").as("r_wordcount"),
      (col("sum_len") >= col("n_tok") * 3 &&
        col("sum_len") <= col("n_tok") * 10).cast("int").as("r_meanlen"),
      (col("n_sym") * 10 <= col("n_tok")).cast("int").as("r_symbol"),
      (col("n_bullet") * 10 <= col("n_lines") * 9).cast("int").as("r_bullet"),
      (col("n_ell") * 10 <= col("n_lines") * 3).cast("int").as("r_ellipsis"),
      (col("n_alpha") * 10 >= col("n_tok") * 8).cast("int").as("r_alpha"),
      (col("n_stop") >= 2).cast("int").as("r_stops"))
    flags.select((flags.columns.map(col) :+
      (col("r_wordcount") * col("r_meanlen") * col("r_symbol") *
        col("r_bullet") * col("r_ellipsis") * col("r_alpha") *
        col("r_stops")).as("keep")): _*)
  }

  /** The Gopher stop set (Rae et al. 2021): intentionally NOT
    * [[graft.functions.TextFunctions.EnglishStops]] — the rule is "≥2 of
    * these 8 function words", a different signal than stopword density. */
  private val GopherStops =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  val txtGopherSql: String = {
    val stopList = GopherStops.map("'" + _ + "'").mkString("[", ", ", "]")
    s"""WITH m AS (
       |  SELECT doc_id,
       |    CAST(len($duckToks) AS BIGINT) AS n_tok,
       |    CAST(list_sum(list_transform($duckToks, t -> length(t))) AS BIGINT) AS sum_len,
       |    CAST(len(regexp_extract_all(text, '#|\\.\\.\\.|…')) AS BIGINT) AS n_sym,
       |    CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
       |    CAST(len(list_filter(string_split(text, chr(10)),
       |      l -> regexp_matches(trim(l), '^[-*•]'))) AS BIGINT) AS n_bullet,
       |    CAST(len(list_filter(string_split(text, chr(10)),
       |      l -> regexp_matches(rtrim(l), '(\\.\\.\\.|…)$$'))) AS BIGINT) AS n_ell,
       |    CAST(len(list_filter($duckToks,
       |      t -> regexp_matches(t, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
       |    CAST(len(list_filter($stopList,
       |      w -> list_contains($duckToks, w))) AS BIGINT) AS n_stop
       |  FROM documents
       |), f AS (
       |  SELECT doc_id, n_tok,
       |    ROUND(CAST(sum_len AS DOUBLE) / n_tok, 6) AS mean_tok_len,
       |    ROUND(CAST(n_sym AS DOUBLE) / n_tok, 6) AS symbol_ratio,
       |    n_stop,
       |    CAST(n_tok >= 50 AND n_tok <= 100000 AS INTEGER) AS r_wordcount,
       |    CAST(sum_len >= n_tok * 3 AND sum_len <= n_tok * 10 AS INTEGER) AS r_meanlen,
       |    CAST(n_sym * 10 <= n_tok AS INTEGER) AS r_symbol,
       |    CAST(n_bullet * 10 <= n_lines * 9 AS INTEGER) AS r_bullet,
       |    CAST(n_ell * 10 <= n_lines * 3 AS INTEGER) AS r_ellipsis,
       |    CAST(n_alpha * 10 >= n_tok * 8 AS INTEGER) AS r_alpha,
       |    CAST(n_stop >= 2 AS INTEGER) AS r_stops
       |  FROM m
       |)
       |SELECT f.*,
       |  r_wordcount * r_meanlen * r_symbol * r_bullet * r_ellipsis
       |    * r_alpha * r_stops AS keep
       |FROM f ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------- first-occurrence novelty
  /** Per-document n-gram NOVELTY: the fraction of a document's distinct
    * 3-gram shingles that the document is the FIRST to contribute to the
    * corpus (first = lowest doc_id owning the shingle — the deterministic
    * stand-in for ingest order, the same convention every canonical
    * election here uses). The data-valuation signal behind "does this
    * document add anything": boilerplate and near-copies score ~0 because
    * earlier documents already own their shingles, while genuinely new
    * content scores ~1. Documents with fewer than 3 tokens have no
    * shingles and emit no row (the shingle-universe convention shared
    * with [[DedupOps.ddNgramJaccard]]).
    *
    * Conservation law (spec-pinned): Σ n_first over all docs = |distinct
    * shingles in the corpus|, and the lowest-doc_id row always has
    * novelty 1.0.
    *
    * Scale: tokens MUST materialize as a projection attribute before the
    * shingle lambda touches them — inlining `tokens(text)` into
    * `shingles(...)` makes every element_at in the lambda re-run the
    * whole regex split (no common-subexpression elimination across
    * higher-order functions: measured 13 s for a 0.2 s corpus, ~O(tokens²)
    * splits per doc; the shingleSet family learned this first). Shingles
    * then hash inside the transform before the distinct (8-byte longs,
    * not strings), ONE shingle-keyed shuffle builds the min-doc_id
    * ownership index, and the ownership join keys on the SAME hash.
    * Collisions would need ~2^32 distinct shingles per bucket; the dedup
    * family shares the convention. */
  def txtNovelty(s: SparkSession, dir: String): DataFrame = {
    val sh = docs(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(array_distinct(
          transform(shingles(col("toks"), 3), x => xxhash64(x))))
          .as("hs"))
    val owner = sh.groupBy(col("hs")).agg(min(col("doc_id")).as("owner"))
    sh.join(owner, Seq("hs"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sh"),
        sum((col("owner") === col("doc_id")).cast("long")).as("n_first"))
      .select(col("doc_id"), col("n_sh"), col("n_first"),
        round(col("n_first").cast("double") / col("n_sh"), 6).as("novelty"))
      .orderBy(col("doc_id"))
  }

  val txtNoveltySql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, $duckToks AS t FROM documents
       |), sh AS (
       |  SELECT DISTINCT doc_id,
       |    unnest(CASE WHEN len(t) >= 3
       |      THEN list_transform(range(1, len(t) - 1),
       |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
       |      ELSE [] END) AS s
       |  FROM toks
       |), own AS (
       |  SELECT s, MIN(doc_id) AS owner FROM sh GROUP BY s
       |)
       |SELECT sh.doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh,
       |  CAST(SUM(CASE WHEN own.owner = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_first,
       |  ROUND(CAST(SUM(CASE WHEN own.owner = sh.doc_id THEN 1 ELSE 0 END)
       |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS novelty
       |FROM sh JOIN own USING (s)
       |GROUP BY sh.doc_id ORDER BY sh.doc_id""".stripMargin

  // --------------------------------------- novelty saturation curve
  /** Data diminishing-returns curve: walk the corpus in doc_id order,
    * split it into 10 equal slices, and report how many NEVER-SEEN-BEFORE
    * shingles each slice contributes — the saturation curve behind "is
    * more of this source still buying new content?" scaling decisions
    * (a flattening curve says the source is mined out; [[txtNovelty]] is
    * the per-doc grain of the same attribution). Emits
    * (decile, n_docs, n_new_shingles, cum_new, cum_share).
    *
    * Scale: ownership = one hash-keyed min aggregation (the txtNovelty
    * shuffle); the decile rollup and cumulative window run on 10 rows.
    * The NTILE decile is computed from the TWO-PHASE global rank
    * ([[Ranking.twoPhaseRank]]) plus NTILE's closed-form bucket
    * allocation (first n mod 10 buckets get ⌈n/10⌉ rows) — identical
    * bucket assignment to a global NTILE window with no single-reducer
    * corpus sort anywhere. */
  def txtNoveltyCurve(s: SparkSession, dir: String): DataFrame = {
    val ranked = Ranking.twoPhaseRank(
      docs(s, dir).select(col("doc_id")), "r", 32, col("doc_id"))
    val n = ranked.count()
    val per = n / 10
    val rem = n % 10
    // NTILE(10) closed form from the 1-based global rank: the first
    // `rem` buckets hold per+1 rows, the rest hold per. Long division
    // truncates toward zero — ranks are positive, so floor ≡ truncate.
    val decile =
      if (per == 0L) col("r") // fewer rows than buckets: rank IS the tile
      else when(col("r") <= lit(rem * (per + 1)),
          floor((col("r") - 1) / lit(per + 1)) + 1)
        .otherwise(lit(rem) + floor((col("r") - 1 - rem * (per + 1)) / lit(per)) + 1)
    val deciles = ranked
      .select(col("doc_id"), decile.cast("long").as("decile"))
    val owner = docs(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(array_distinct(
          transform(shingles(col("toks"), 3), x => xxhash64(x)))).as("hs"))
      .groupBy(col("hs")).agg(min(col("doc_id")).as("doc_id"))
    val perDecile = deciles
      .join(owner.groupBy(col("doc_id")).agg(count(lit(1)).as("n_owned")),
        Seq("doc_id"), "left")
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("n_owned")), lit(0L)).as("n_new_shingles"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("decile"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val tot = owner.agg(count(lit(1)).as("total"))
    perDecile
      .withColumn("cum_new", sum(col("n_new_shingles")).over(w))
      .crossJoin(broadcast(tot))
      .select(col("decile"), col("n_docs"), col("n_new_shingles"),
        col("cum_new"),
        (round(col("cum_new").cast("double") / col("total").cast("double"), 6)
          + 0.0).as("cum_share"))
      .orderBy(col("decile"))
  }

  val txtNoveltyCurveSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, $duckToks AS t FROM documents
       |), sh AS (
       |  SELECT DISTINCT doc_id,
       |    unnest(CASE WHEN len(t) >= 3
       |      THEN list_transform(range(1, len(t) - 1),
       |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
       |      ELSE [] END) AS s
       |  FROM toks
       |), own AS (
       |  SELECT s, MIN(doc_id) AS doc_id FROM sh GROUP BY s
       |), owned AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_owned FROM own GROUP BY doc_id
       |), dec AS (
       |  SELECT doc_id,
       |    CAST(NTILE(10) OVER (ORDER BY doc_id) AS BIGINT) AS decile
       |  FROM documents
       |), per AS (
       |  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(COALESCE(SUM(n_owned), 0) AS BIGINT) AS n_new_shingles
       |  FROM dec LEFT JOIN owned USING (doc_id)
       |  GROUP BY decile
       |), tot AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS total FROM own
       |)
       |SELECT decile, n_docs, n_new_shingles,
       |  CAST(SUM(n_new_shingles) OVER (ORDER BY decile
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_new,
       |  ROUND(CAST(SUM(n_new_shingles) OVER (ORDER BY decile
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
       |    / CAST(tot.total AS DOUBLE), 6) + 0.0 AS cum_share
       |FROM per CROSS JOIN tot ORDER BY decile""".stripMargin

  // ------------------------------------------------ PII detect + redact
  /** PII detection and redaction — the privacy pass every training-data
    * pipeline runs before anything ships: count and mask emails, phone
    * numbers, IPv4 addresses, and long ID-like digit runs, and fingerprint
    * the REDACTED stream so downstream exact-dedup operates on sanitized
    * text (the txt_scrub posture, regex-class instead of token-list).
    *
    * The synthetic corpus contains no digits or '@' at all, so running the
    * regexes on raw `text` would pin nothing (every count zero, fp =
    * txt_fingerprint). The operator therefore scans a deterministic
    * PII-bearing VIEW: each doc_id%5 class appends one synthetic PII form
    * (email / phone / IPv4 / 9-digit ID; class 4 stays clean as the
    * control group), derived by the IDENTICAL expression in both engines —
    * on real data, drop the view and scan the raw column. The four
    * patterns are mutually non-overlapping on this view (the email's
    * digit run is < 9 chars, the phone's groups are dash-split, the IP's
    * are dot-split), so detection counts are order-free; redaction is
    * still applied in one FIXED order (email → phone → IP → ID) because
    * on real text the classes can nest, and both engines must tear the
    * same match out first.
    *
    * Regex subset chosen to behave identically under java.util.regex and
    * RE2 (character classes, bounded repeats, ASCII `\b`): no lookaround,
    * no backrefs.
    *
    * Scale: one map-side projection — four regexp_count + four
    * regexp_replace per row, no shuffle at any corpus size. The email
    * parts are length-bounded at the RFC 5321 limits (64-char local
    * part, 255-char domain): an unbounded `+` before the required `@`
    * backtracks quadratically over a long run of characters with no
    * `@`, the bounded repeat keeps the scan linear. */
  private val EmailRe =
    "[A-Za-z0-9._%+-]{1,64}@[A-Za-z0-9.-]{1,255}\\.[A-Za-z]{2,}"
  private val PhoneRe = "\\+[0-9]{1,3}-[0-9]{3}-[0-9]{3,4}"
  private val Ipv4Re =
    "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  private val IdRunRe = "\\b[0-9]{9,}\\b"

  /** The deterministic PII-bearing view over (doc_id, text). */
  private[graft] def piiView(
      id: org.apache.spark.sql.Column,
      text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val m = pmod(id, lit(5L))
    concat(text,
      when(m === 0, concat(lit(" contact user"), id.cast("string"),
        lit("@example.com now")))
        .when(m === 1, concat(lit(" call +1-555-"),
          lpad(pmod(id, lit(10000L)).cast("string"), 4, "0"), lit(" today")))
        .when(m === 2, concat(lit(" host 10."),
          pmod(id, lit(256L)).cast("string"), lit(".0."),
          pmod(id * 7, lit(256L)).cast("string"), lit(" up")))
        .when(m === 3, concat(lit(" ref "),
          (id + lit(900000000L)).cast("string"), lit(" end")))
        .otherwise(lit("")))
  }

  /** Redaction chain in the fixed class order. */
  private[graft] def piiRedact(
      t: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(t, EmailRe, "<EMAIL>"),
          PhoneRe, "<PHONE>"),
        Ipv4Re, "<IP>"),
      IdRunRe, "<ID>")

  def txtPii(s: SparkSession, dir: String): DataFrame =
    txtPiiOf(docs(s, dir)).orderBy(col("doc_id"))

  /** Unordered frame-parametric form — the streaming twin runs this
    * verbatim (stateless projection, append-mode safe). */
  private[graft] def txtPiiOf(d: DataFrame): DataFrame = {
    val pii = piiView(col("doc_id"), col("text"))
    val scanned = d.select(col("doc_id"), pii.as("pii_text"))
    scanned.select(
      col("doc_id"),
      regexp_count(col("pii_text"), lit(EmailRe)).cast("long").as("n_email"),
      regexp_count(col("pii_text"), lit(PhoneRe)).cast("long").as("n_phone"),
      regexp_count(col("pii_text"), lit(Ipv4Re)).cast("long").as("n_ip"),
      regexp_count(col("pii_text"), lit(IdRunRe)).cast("long").as("n_id"),
      md5(piiRedact(col("pii_text"))).as("redacted_fp"))
      .withColumn("has_pii",
        ((col("n_email") + col("n_phone") + col("n_ip") + col("n_id")) > 0)
          .cast("long"))
      .select(col("doc_id"), col("n_email"), col("n_phone"), col("n_ip"),
        col("n_id"), col("has_pii"), col("redacted_fp"))
  }

  val txtPiiSql: String = {
    val view =
      """text || CASE doc_id % 5
        |    WHEN 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
        |    WHEN 1 THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today'
        |    WHEN 2 THEN ' host 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR) || ' up'
        |    WHEN 3 THEN ' ref ' || CAST(doc_id + 900000000 AS VARCHAR) || ' end'
        |    ELSE '' END""".stripMargin
    // the Scala literals hold single-backslash runtime strings, which is
    // exactly what DuckDB's quoted regex wants — embed verbatim
    val (email, phone, ipv4, idrun) = (EmailRe, PhoneRe, Ipv4Re, IdRunRe)
    s"""WITH pii AS (
       |  SELECT doc_id, $view AS pii_text FROM documents
       |), scanned AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_extract_all(pii_text, '$email')) AS BIGINT) AS n_email,
       |    CAST(len(regexp_extract_all(pii_text, '$phone')) AS BIGINT) AS n_phone,
       |    CAST(len(regexp_extract_all(pii_text, '$ipv4')) AS BIGINT) AS n_ip,
       |    CAST(len(regexp_extract_all(pii_text, '$idrun')) AS BIGINT) AS n_id,
       |    md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
       |      pii_text, '$email', '<EMAIL>', 'g'),
       |      '$phone', '<PHONE>', 'g'),
       |      '$ipv4', '<IP>', 'g'),
       |      '$idrun', '<ID>', 'g')) AS redacted_fp
       |  FROM pii
       |)
       |SELECT doc_id, n_email, n_phone, n_ip, n_id,
       |  CAST(CASE WHEN n_email + n_phone + n_ip + n_id > 0 THEN 1 ELSE 0 END
       |    AS BIGINT) AS has_pii,
       |  redacted_fp
       |FROM scanned ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------- per-source vocabulary KL drift
  /** Per-source unigram-distribution divergence from the corpus:
    * `KL(p_source ‖ p_corpus) = Σ_t p_s(t) · ln(p_s(t)/p_c(t))` over the
    * lowercased token vocabulary. The source-homogeneity audit a mixture
    * designer reads next to [[SamplingOps.mixWeights]]: a source whose
    * vocabulary distribution sits far from the corpus (high KL) is the one
    * whose up/down-weighting actually moves the trained model, and a KL
    * near zero says the source is redundant with the mix. Always finite —
    * every source token appears in the corpus by construction, so no
    * smoothing is needed (p_c(t) > 0 whenever p_s(t) > 0).
    *
    * Per-term contributions are cast to DECIMAL(30,15) before the
    * per-source sum (exact, order-free — the entropy/BM25/ppl discipline);
    * ln evaluates per element identically on both engines.
    *
    * Scale: (source, term) counts map-combine; the corpus term frame is
    * vocabulary-sized (term-keyed join, broadcastable when the vocab
    * fits); source totals are a |sources|-row broadcast; one final
    * source-keyed model-sized agg. Nothing after the first groupBy is
    * corpus-sized. */
  def txtSourceKl(s: SparkSession, dir: String): DataFrame = {
    val st = docs(s, dir)
      .select(col("source"), explode(tokens(lower(col("text")))).as("term"))
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("n_st"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ct = st.groupBy(col("term")).agg(sum(col("n_st")).as("cf"))
    val sTot = st.groupBy(col("source")).agg(sum(col("n_st")).as("tot_s"))
    val cTot = st.agg(sum(col("n_st")).as("tot_c"))
    val ps = col("n_st").cast("double") / col("tot_s").cast("double")
    val pc = col("cf").cast("double") / col("tot_c").cast("double")
    val report = st
      .join(ct, Seq("term"))
      .join(broadcast(sTot), Seq("source"))
      .crossJoin(broadcast(cTot))
      .select(col("source"), col("tot_s"),
        (ps * log(ps / pc)).cast("decimal(30,15)").as("c"))
      .groupBy(col("source"))
      .agg(max(col("tot_s")).as("n_tokens"),
        (round(sum(col("c")).cast("double"), 6) + 0.0).as("kl"))
      .orderBy(col("source"))
      .localCheckpoint()
    st.unpersist()
    report
  }

  val txtSourceKlSql: String =
    """WITH terms AS (
      |  SELECT source,
      |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
      |  FROM documents
      |), st AS (
      |  SELECT source, term, CAST(COUNT(*) AS BIGINT) AS n_st
      |  FROM terms GROUP BY 1, 2
      |), ct AS (
      |  SELECT term, CAST(SUM(n_st) AS BIGINT) AS cf FROM st GROUP BY 1
      |), stot AS (
      |  SELECT source, CAST(SUM(n_st) AS BIGINT) AS tot_s FROM st GROUP BY 1
      |), ctot AS (
      |  SELECT CAST(SUM(n_st) AS BIGINT) AS tot_c FROM st
      |)
      |SELECT st.source, MAX(tot_s) AS n_tokens,
      |  ROUND(CAST(SUM(CAST(
      |    (CAST(n_st AS DOUBLE) / CAST(tot_s AS DOUBLE))
      |      * ln((CAST(n_st AS DOUBLE) / CAST(tot_s AS DOUBLE))
      |          / (CAST(cf AS DOUBLE) / CAST(tot_c AS DOUBLE)))
      |    AS DECIMAL(30,15))) AS DOUBLE), 6) + 0.0 AS kl
      |FROM st JOIN ct USING (term) JOIN stot USING (source) CROSS JOIN ctot
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------- winnowing fingerprints
  /** Winnowing fingerprint selection (Schleimer–Wilkerson–Aiken, the MOSS
    * algorithm): hash every k-token gram, slide a w-hash window, and in
    * each window select the minimum hash — rightmost on ties — giving a
    * position-robust fingerprint set with guaranteed density bounds
    * (every match of length ≥ w+k−1 tokens shares a fingerprint, and
    * expected density is 2/(w+1)). The local-fingerprint complement of
    * [[txtFingerprint]]'s whole-doc hash and the CDC chunker's boundary
    * trick, at sub-chunk grain. Emits per doc: gram count, selections
    * (n_sel), distinct fingerprints (n_fp), and how many of those also
    * appear in ANOTHER doc (n_fp_shared — the plagiarism/dup signal).
    *
    * The rightmost-tie rule rides inside the window min via a sortable
    * key: `md5(gram) ++ lpad(10⁷ − pos)` — lexicographic min is (min
    * hash, max pos); both engines compare the same ASCII. Docs with
    * fewer than w grams have no full window and emit nothing, per the
    * original formulation.
    *
    * Scale: grams are corpus-sized ×1 (no quadratic stage anywhere); ONE
    * doc-keyed shuffle serves the window min, the full-window filter and
    * the per-doc rollup; the fp-document-frequency frame is
    * fingerprint-vocabulary-sized and joins on fp. */
  /** The winnowing selection frame behind [[txtWinnowing]] and
    * [[winnowingFpIndex]]: distinct (doc_id, n_grams, fp, fp_pos)
    * selections. Unpersisted — callers own the cache lifecycle. */
  private def winnowSelFrame(d: DataFrame, k: Int, w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // tokens() materializes through a projection boundary BEFORE the
    // shingle transform: inlined, the regex split re-evaluates for every
    // element_at inside the lambda (~3·grams per doc — measured 10× the
    // whole operator's cost at sf0.1; the txtLangId r2 lesson again)
    val grams = d
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), posexplode(shingles(col("toks"), k)))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        md5(col("col").cast("binary")).as("h"))
    // the sentinel assumes < 10⁷ grams per document (positions 1..10⁷−1
    // lpad to 8 always-positive digits); beyond that the subtraction goes
    // negative and '-' sorts before digits, silently flipping the
    // rightmost-tie rule — so the guard lives INSIDE the key expression
    // (a detached assert column would be pruned) and raises instead
    val guardedPos = when(col("pos") < lit(10000000L), col("pos"))
      .otherwise(raise_error(concat(
        lit("txt_winnowing: gram position "), col("pos").cast("string"),
        lit(" >= 10^7 sentinel — rightmost-tie key would misorder"))))
    val key = concat(col("h"),
      lpad((lit(10000000L) - guardedPos).cast("string"), 8, "0"))
    // n_grams IS the max gram position (1-indexed, contiguous), already
    // computed by the partition max the full-window filter needs — carry
    // it through sel instead of re-traversing the gram subtree for a
    // separate per-doc count
    grams
      .withColumn("sel", min(key).over(Window.partitionBy(col("doc_id"))
        .orderBy(col("pos")).rowsBetween(Window.currentRow, w - 1)))
      .withColumn("np", max(col("pos")).over(Window.partitionBy(col("doc_id"))))
      .filter(col("pos") <= col("np") - (w - 1))
      .select(col("doc_id"), col("np").as("n_grams"),
        substring(col("sel"), 1, 32).as("fp"),
        (lit(10000000L) - substring(col("sel"), 33, 8).cast("long")).as("fp_pos"))
      .distinct()
  }

  /** Corpus fingerprint→document-frequency index (fp, n_docs) — the static
    * model state [[graft.streaming.StreamOps.streamingWinnowing]] probes
    * for its cross-doc shared-fp counts (rebuilt at the batch cadence). */
  def winnowingFpIndex(s: SparkSession, dir: String, k: Int = 3,
      w: Int = 4): DataFrame =
    winnowSelFrame(docs(s, dir), k, w)
      .select(col("doc_id"), col("fp")).distinct()
      .groupBy(col("fp")).agg(count(lit(1)).as("n_docs"))

  def txtWinnowing(s: SparkSession, dir: String, k: Int = 3, w: Int = 4): DataFrame = {
    val sel = winnowSelFrame(docs(s, dir), k, w)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val fpDocs = sel.select(col("doc_id"), col("fp")).distinct()
      .groupBy(col("fp")).agg(count(lit(1)).as("n_docs"))
    val report = sel
      .join(fpDocs, Seq("fp"))
      .groupBy(col("doc_id"))
      .agg(max(col("n_grams")).as("n_grams"),
        count(lit(1)).as("n_sel"),
        countDistinct(col("fp")).as("n_fp"),
        countDistinct(when(col("n_docs") >= 2, col("fp"))).as("n_fp_shared"))
      .select(col("doc_id"), col("n_grams"), col("n_sel"), col("n_fp"),
        col("n_fp_shared"),
        (round(col("n_sel") / (col("n_grams") - (w - 1)), 6) + 0.0).as("density"))
      .orderBy(col("doc_id"))
      .localCheckpoint()
    sel.unpersist()
    report
  }

  val txtWinnowingSql: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
      |), g AS (
      |  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
      |    md5(array_to_string(t[pos:pos+2], ' ')) AS h
      |  FROM (SELECT doc_id, unnest(range(1, len(t) - 1)) AS pos, t
      |        FROM toks WHERE len(t) >= 3)
      |), keyd AS (
      |  SELECT doc_id, pos,
      |    h || lpad(CAST(10000000 - pos AS VARCHAR), 8, '0') AS kk
      |  FROM g
      |), win AS (
      |  SELECT doc_id, pos,
      |    MIN(kk) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel,
      |    MAX(pos) OVER (PARTITION BY doc_id) AS np
      |  FROM keyd
      |), sel AS (
      |  SELECT DISTINCT doc_id, np AS n_grams, substr(sel, 1, 32) AS fp,
      |    10000000 - CAST(substr(sel, 33, 8) AS BIGINT) AS fp_pos
      |  FROM win WHERE pos <= np - 3
      |), fpdocs AS (
      |  SELECT fp, COUNT(DISTINCT doc_id) AS n_docs FROM sel GROUP BY 1
      |)
      |SELECT s.doc_id, MAX(s.n_grams) AS n_grams,
      |  CAST(COUNT(*) AS BIGINT) AS n_sel,
      |  CAST(COUNT(DISTINCT s.fp) AS BIGINT) AS n_fp,
      |  CAST(COUNT(DISTINCT CASE WHEN n_docs >= 2 THEN s.fp END) AS BIGINT)
      |    AS n_fp_shared,
      |  ROUND(COUNT(*) / (MAX(s.n_grams) - 3), 6) + 0.0 AS density
      |FROM sel s JOIN fpdocs USING (fp) GROUP BY 1
      |ORDER BY doc_id""".stripMargin

  // ------------------------------------------- language-ID confidence
  /** Per-document language-ID confidence margin: the marker-score argmax
    * ([[txtLangId]]'s model) plus how far the winner sits above the
    * runner-up. Margin 0 with a nonzero top score = a genuine tie
    * (mixed-language or template text); top score 0 = no evidence at all
    * ('und'). Real pipelines threshold on exactly this signal before
    * trusting a language route — fastText's confidence gap at this call
    * site. Integer arithmetic end to end; one map pass.
    *
    * Scores materialize through a projection boundary, then the top-2 come
    * from ONE sort_array over the score vector (the argmax itself reuses
    * [[langIdFromScores]]' fixed priority order so the prediction is
    * IDENTICAL to txt_langid's, tie behavior included). */
  def txtLangIdMargin(s: SparkSession, dir: String): DataFrame = {
    val scored = docs(s, dir).select(col("doc_id") +:
      LangMarkers.map { case (lang, m) => markerCount(col("text"), m).as(s"s_$lang") }: _*)
    val pred = langIdFromScores(LangMarkers.map { case (lang, _) => lang -> col(s"s_$lang") })
    val desc = sort_array(array(LangMarkers.map { case (lang, _) => col(s"s_$lang") }: _*),
      asc = false)
    scored.select(col("doc_id"), pred.as("lang_pred"),
      desc.getItem(0).as("top_score"),
      desc.getItem(1).as("second_score"),
      (desc.getItem(0) - desc.getItem(1)).as("margin"),
      when(desc.getItem(0) === 0 || desc.getItem(0) === desc.getItem(1), 1L)
        .otherwise(0L).as("ambiguous"))
      .orderBy(col("doc_id"))
  }

  val txtLangIdMarginSql: String = {
    val scoreExprs = LangMarkers.map { case (lang, markers) =>
      lang -> duckStopCount(duckToks, markers)
    }
    val best = s"GREATEST(${scoreExprs.map(_._2).mkString(", ")})"
    val cases = scoreExprs.map { case (lang, sc) =>
      s"WHEN $sc > 0 AND $sc = $best THEN '$lang'"
    }.mkString(" ")
    val lst = s"list_reverse(list_sort([${scoreExprs.map("CAST(" + _._2 + " AS BIGINT)").mkString(", ")}]))"
    s"""SELECT doc_id,
       |  CASE $cases ELSE 'und' END AS lang_pred,
       |  $lst[1] AS top_score,
       |  $lst[2] AS second_score,
       |  $lst[1] - $lst[2] AS margin,
       |  CAST(CASE WHEN $lst[1] = 0 OR $lst[1] = $lst[2] THEN 1 ELSE 0 END
       |    AS BIGINT) AS ambiguous
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // --------------------------------------------- vocabulary coverage
  /** Token coverage by the top-`k` vocabulary types, for a ladder of
    * budgets: what share of all corpus token OCCURRENCES the k most
    * frequent types capture — the tokenizer/vocab budget-planning curve
    * (a 50k-type budget covering 97% of tokens means 3% of the stream
    * falls to byte-fallback). Ties on count break by term so the cut is
    * engine-independent. Emits (k, n_types, covered_tokens, total_tokens,
    * coverage).
    *
    * Scale: term counts map-combine; the vocabulary rank is TWO-PHASE
    * ([[Ranking.twoPhaseRank]] — range-partition on (cf desc, term),
    * local row_number, broadcast per-partition offsets), so a 10⁸–10⁹
    * web-scale vocabulary never funnels through one reducer; the
    * k-ladder explode multiplies the vocab frame by |ks|, then
    * everything is model-sized. */
  def txtVocabCoverage(s: SparkSession, dir: String,
      ks: Seq[Int] = Seq(10, 100, 1000, 10000)): DataFrame = {
    // twoPhaseRank localCheckpoints its result, so both downstream reads
    // (the totals agg and the k-ladder) reuse one materialization
    val uni = Ranking.twoPhaseRank(
      docs(s, dir)
        .select(explode(tokens(lower(col("text")))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("cf")),
      "r", 32, col("cf").desc, col("term"))
    val tot = uni.agg(sum(col("cf")).as("total_tokens"),
      count(lit(1)).as("vocab_size"))
    uni
      .select(explode(array(ks.map(lit): _*)).as("k"), col("r"), col("cf"))
      .filter(col("r") <= col("k"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_types"), sum(col("cf")).as("covered_tokens"))
      .crossJoin(broadcast(tot))
      .select(col("k").cast("long").as("k"), col("n_types"),
        col("covered_tokens"), col("total_tokens"),
        (round(col("covered_tokens") / col("total_tokens"), 6) + 0.0)
          .as("coverage"))
      .orderBy(col("k"))
  }

  val txtVocabCoverageSql: String =
    """WITH terms AS (
      |  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
      |  FROM documents
      |), uni AS (
      |  SELECT term, CAST(COUNT(*) AS BIGINT) AS cf FROM terms GROUP BY 1
      |), ranked AS (
      |  SELECT term, cf,
      |    ROW_NUMBER() OVER (ORDER BY cf DESC, term) AS r
      |  FROM uni
      |), tot AS (
      |  SELECT CAST(SUM(cf) AS BIGINT) AS total_tokens FROM uni
      |), ks AS (
      |  SELECT unnest([10, 100, 1000, 10000]) AS k
      |)
      |SELECT CAST(k AS BIGINT) AS k, CAST(COUNT(*) AS BIGINT) AS n_types,
      |  CAST(SUM(cf) AS BIGINT) AS covered_tokens,
      |  MAX(total_tokens) AS total_tokens,
      |  ROUND(SUM(cf) / MAX(total_tokens), 6) + 0.0 AS coverage
      |FROM ks JOIN ranked ON r <= k CROSS JOIN tot
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------- hashed doc embedding
  /** Feature-hashing document vectors (the hashing trick): every
    * lowercased token routes to `dim` buckets via a portable md5-derived
    * hash, per-doc bucket counts come out in LONG form (doc_id, dim,
    * val), zero buckets omitted — a deterministic bag-of-words embedding
    * computable with no model and no vocabulary table, the classic
    * fallback when the embeddings table doesn't exist yet (Weinberger et
    * al. 2009). Composes with the cosine machinery after a pivot, and
    * with [[txtVocabCoverage]] as the budget-free alternative.
    *
    * Scale: explode → ONE (doc, dim)-keyed map-combined count; output ≤
    * dim rows per doc. The md5 per distinct token is the cost — at
    * extreme scale hash once per VOCAB entry and join, same values. */
  def txtHashEmbed(s: SparkSession, dir: String, dim: Int = 32): DataFrame = {
    val bucket = pmod(conv(substring(md5(col("term").cast("binary")), 1, 8),
      16, 10).cast("long"), lit(dim.toLong))
    docs(s, dir)
      .select(col("doc_id"), explode(tokens(lower(col("text")))).as("term"))
      .select(col("doc_id"), bucket.as("dim"))
      .groupBy(col("doc_id"), col("dim"))
      .agg(count(lit(1)).as("val"))
      .orderBy(col("doc_id"), col("dim"))
  }

  val txtHashEmbedSql: String =
    """WITH terms AS (
      |  SELECT doc_id,
      |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
      |  FROM documents
      |)
      |SELECT doc_id,
      |  CAST(CAST(('0x' || substring(md5(term), 1, 8)) AS BIGINT) % 32
      |    AS BIGINT) AS dim,
      |  CAST(COUNT(*) AS BIGINT) AS val
      |FROM terms GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------- source scorecard
  /** Per-source scorecard: the one-stop rollup a mixture designer scans
    * before touching weights — volume (docs, tokens), mean doc length,
    * language spread, and the WITHIN-source exact-duplicate share (a
    * source that mostly duplicates itself buys fewer tokens than its row
    * count claims; cross-source dups are [[graft.operators.DedupOps
    * .ddSourceOverlap]]'s row).
    *
    * Scale: one (source, fp)-keyed window + one source-keyed
    * map-combined rollup. */
  def srcScorecard(s: SparkSession, dir: String): DataFrame = {
    val wsf = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"), col("fp"))
    docs(s, dir)
      .select(col("source"), col("lang"),
        tokenCount(col("text")).as("n_tokens"),
        fingerprint(col("text")).as("fp"))
      .withColumn("n_copies", count(lit(1)).over(wsf))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        (round(avg(col("n_tokens").cast("double")), 6) + 0.0).as("mean_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        sum(when(col("n_copies") > 1, 1L).otherwise(0L)).as("n_dup_docs"),
        (round(sum(when(col("n_copies") > 1, 1L).otherwise(0L))
          .cast("double") / count(lit(1)), 6) + 0.0).as("dup_share"))
      .orderBy(col("source"))
  }

  val srcScorecardSql: String =
    """WITH f AS (
      |  SELECT source, lang,
      |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
      |    md5(array_to_string(regexp_split_to_array(trim(lower(text)), '\s+'), ' ')) AS fp
      |  FROM documents
      |), m AS (
      |  SELECT *, COUNT(*) OVER (PARTITION BY source, fp) AS n_copies FROM f
      |)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
      |  ROUND(AVG(CAST(n_tokens AS DOUBLE)), 6) + 0.0 AS mean_tokens,
      |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
      |  CAST(SUM(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_dup_docs,
      |  ROUND(CAST(SUM(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / COUNT(*), 6) + 0.0 AS dup_share
      |FROM m GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------- signal-redundancy audit
  /** Pearson correlation between the cheap per-doc quality signals —
    * token count vs the composite [[graft.functions.TextFunctions
    * .qualityScore]] — the redundancy audit run before stacking filters
    * (an |r| near 1 says the second filter buys nothing; near 0 says the
    * signals cut different documents). All four moment sums route
    * through DECIMAL(30,15); the final r is assembled from the exact
    * sums in ONE identical expression on both engines.
    *
    * Scale: one map pass, one map-combined 1-row aggregation. */
  def txtSignalCorr(s: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(30,15)"
    val base = docs(s, dir).select(
      tokenCount(col("text")).cast("double").as("x"),
      qualityScore(col("text")).as("y"))
    base.agg(
      count(lit(1)).as("n_docs"),
      sum(col("x").cast(dec)).cast("double").as("sx"),
      sum(col("y").cast(dec)).cast("double").as("sy"),
      sum((col("x") * col("x")).cast(dec)).cast("double").as("sxx"),
      sum((col("y") * col("y")).cast(dec)).cast("double").as("syy"),
      sum((col("x") * col("y")).cast(dec)).cast("double").as("sxy"))
      .select(col("n_docs"),
        (round((col("n_docs") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n_docs") * col("sxx") - col("sx") * col("sx")) *
           sqrt(col("n_docs") * col("syy") - col("sy") * col("sy"))), 6) + 0.0)
          .as("r_len_quality"))
  }

  val txtSignalCorrSql: String = {
    val stops = duckStopCount(duckToks, EnglishStops)
    val q =
      s"""ROUND(LEAST(GREATEST(
         |    LEAST(len($duckToks) / 64.0, 1.0) * 0.5
         |    + LEAST(($stops * 1.0 / len($duckToks)) * 5.0, 1.0) * 0.4
         |    + (1.0 - LEAST(((length(text) - length(regexp_replace(text, '[.,!?;:()-]', '', 'g'))) * 1.0
         |         / GREATEST(length(text), 1)) * 10.0, 1.0)) * 0.1,
         |    0.0), 1.0), 6)""".stripMargin
    s"""WITH sig AS (
       |  SELECT CAST(len($duckToks) AS DOUBLE) AS x, $q AS y
       |  FROM documents
       |), m AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(CAST(x AS DECIMAL(30,15))) AS DOUBLE) AS sx,
       |    CAST(SUM(CAST(y AS DECIMAL(30,15))) AS DOUBLE) AS sy,
       |    CAST(SUM(CAST(x * x AS DECIMAL(30,15))) AS DOUBLE) AS sxx,
       |    CAST(SUM(CAST(y * y AS DECIMAL(30,15))) AS DOUBLE) AS syy,
       |    CAST(SUM(CAST(x * y AS DECIMAL(30,15))) AS DOUBLE) AS sxy
       |  FROM sig
       |)
       |SELECT n_docs,
       |  ROUND((n_docs * sxy - sx * sy)
       |    / (sqrt(n_docs * sxx - sx * sx) * sqrt(n_docs * syy - sy * sy)),
       |    6) + 0.0 AS r_len_quality
       |FROM m""".stripMargin
  }

  // ------------------------------------------------ split-half cohesion
  /** Split-half topical cohesion: jaccard between the distinct token sets
    * of a document's first and second halves — near 0 flags
    * concatenated-unrelated-content documents (the crawl-artifact class
    * where two pages landed in one record), which every whole-doc quality
    * signal scores as average. Set ops spell as
    * `filter(distinct, contains)` on both engines so intersection
    * semantics can't diverge. Emits (doc_id, n_tokens, cohesion).
    *
    * Scale: pure map-side array math, no shuffle. */
  def txtCohesion(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"),
      tokens(lower(col("text"))).as("toks"))
    val n = size(col("toks"))
    val k = (n / 2).cast("int")
    val a = array_distinct(slice(col("toks"), lit(1), k))
    val b = array_distinct(slice(col("toks"), k + 1, n - k))
    val inter = size(filter(a, t => array_contains(b, t)))
    val uni = size(a) + size(b) - inter
    d.select(col("doc_id"), n.cast("long").as("n_tokens"),
        (round(inter.cast("double") / greatest(uni, lit(1)).cast("double"), 6)
          + 0.0).as("cohesion"))
      .orderBy(col("doc_id"))
  }

  val txtCohesionSql: String =
    """WITH t AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
      |  FROM documents
      |), h AS (
      |  SELECT doc_id, len(toks) AS n,
      |    list_distinct(toks[1:len(toks)//2]) AS a,
      |    list_distinct(toks[len(toks)//2+1:len(toks)]) AS b
      |  FROM t
      |), j AS (
      |  SELECT doc_id, n,
      |    len(list_filter(a, x -> list_contains(b, x))) AS i,
      |    len(a) + len(b) - len(list_filter(a, x -> list_contains(b, x))) AS u
      |  FROM h
      |)
      |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
      |  ROUND(CAST(i AS DOUBLE) / CAST(GREATEST(u, 1) AS DOUBLE), 6) + 0.0
      |    AS cohesion
      |FROM j ORDER BY doc_id""".stripMargin

  // ------------------------------------------- template-header census
  /** Template-header detection: per source, how many documents open with
    * the SAME first `k` tokens as at least one other document of that
    * source — the boilerplate-header signature of templated feeds (news
    * wrappers, forum scaffolding) that [[txtBoilerplate]]'s position-free
    * census dilutes. Emits (source, n_docs, n_templated, share); docs
    * shorter than k tokens don't participate (counted in n_docs of the
    * table they belong to only when long enough to have a header).
    *
    * Scale: one map-side header hash + a (source, header)-keyed window
    * + a source-keyed model rollup. */
  def txtTemplateHeaders(s: SparkSession, dir: String, k: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val heads = docs(s, dir)
      .select(col("source"), col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= k)
      .select(col("source"), col("doc_id"),
        xxhash64(concat_ws(" ", slice(col("toks"), 1, k))).as("hh"))
    heads
      .withColumn("n_same",
        count(lit(1)).over(Window.partitionBy(col("source"), col("hh"))))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_same") >= 2, 1L).otherwise(0L)).as("n_templated"))
      .select(col("source"), col("n_docs"), col("n_templated"),
        (round(col("n_templated").cast("double") / col("n_docs"), 6) + 0.0)
          .as("share"))
      .orderBy(col("source"))
  }

  val txtTemplateHeadersSql: String =
    """WITH h AS (
      |  SELECT source, doc_id,
      |    array_to_string(regexp_split_to_array(trim(text), '\s+')[1:8], ' ')
      |      AS hd
      |  FROM documents
      |  WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 8
      |), m AS (
      |  SELECT source, doc_id,
      |    COUNT(*) OVER (PARTITION BY source, hd) AS n_same
      |  FROM h
      |)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CASE WHEN n_same >= 2 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_templated,
      |  ROUND(CAST(SUM(CASE WHEN n_same >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / COUNT(*), 6) + 0.0 AS share
      |FROM m GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------- language confusion matrix
  /** Labeled-vs-predicted language confusion: the `lang` column the corpus
    * SHIPS WITH against [[txtLangId]]'s marker-model prediction, as a
    * (lang, lang_pred, n_docs) matrix — the label-quality audit that
    * decides whether the shipped metadata or the detector routes
    * documents (on this synthetic corpus the columns are independent, so
    * the matrix honestly shows near-uniform rows — which is the finding).
    * Prediction arithmetic is IDENTICAL to txt_langid's (same
    * score-boundary projection, same argmax priority).
    *
    * Scale: one map pass + a |langs|²-max map-combined count. */
  def txtLangConfusion(s: SparkSession, dir: String): DataFrame = {
    val scored = docs(s, dir).select(col("doc_id") +: col("lang") +:
      LangMarkers.map { case (l, m) => markerCount(col("text"), m).as(s"s_$l") }: _*)
    val pred = langIdFromScores(LangMarkers.map { case (l, _) => l -> col(s"s_$l") })
    scored.select(col("lang"), pred.as("lang_pred"))
      .groupBy(col("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("lang_pred"))
  }

  val txtLangConfusionSql: String = {
    val scoreExprs = LangMarkers.map { case (lang, markers) =>
      lang -> duckStopCount(duckToks, markers)
    }
    val best = s"GREATEST(${scoreExprs.map(_._2).mkString(", ")})"
    val cases = scoreExprs.map { case (lang, sc) =>
      s"WHEN $sc > 0 AND $sc = $best THEN '$lang'"
    }.mkString(" ")
    s"""SELECT lang, lang_pred, CAST(COUNT(*) AS BIGINT) AS n_docs FROM (
       |  SELECT lang, CASE $cases ELSE 'und' END AS lang_pred FROM documents
       |) GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  // ------------------------------------------------- byte-hygiene scan
  /** Encoding/byte-hygiene gate: per source, documents containing
    * control characters (C0 except tab/newline), non-ASCII bytes, or the
    * U+FFFD replacement character — the mojibake/binary-contamination
    * screen run at ingest before any tokenizer sees the stream. A clean
    * corpus reports zeros; the operator IS the gate that proves it.
    *
    * Scale: three codegen'd regexp_counts per row, one source-keyed
    * map-combined rollup. */
  def txtEncodingScan(s: SparkSession, dir: String): DataFrame = {
    val ctrl = regexp_count(col("text"), lit("[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]"))
    val nonAscii = regexp_count(col("text"), lit("[^\\x00-\\x7f]"))
    val repl = regexp_count(col("text"), lit("�"))
    docs(s, dir)
      .select(col("source"),
        when(ctrl > 0, 1L).otherwise(0L).as("has_ctrl"),
        when(nonAscii > 0, 1L).otherwise(0L).as("has_nonascii"),
        when(repl > 0, 1L).otherwise(0L).as("has_replacement"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("has_ctrl")).as("n_ctrl"),
        sum(col("has_nonascii")).as("n_nonascii"),
        sum(col("has_replacement")).as("n_replacement"))
      .orderBy(col("source"))
  }

  val txtEncodingScanSql: String =
    """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CASE WHEN len(regexp_extract_all(text,
      |    '[\x00-\x08\x0b\x0c\x0e-\x1f]')) > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_ctrl,
      |  CAST(SUM(CASE WHEN len(regexp_extract_all(text,
      |    '[^\x00-\x7f]')) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_nonascii,
      |  CAST(SUM(CASE WHEN len(regexp_extract_all(text,
      |    '�')) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_replacement
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "txt_tokens" -> (txtTokens _),
    "txt_quality" -> (txtQuality _),
    "txt_langid" -> (txtLangId _),
    "txt_entropy" -> (txtEntropy _),
    "txt_fingerprint" -> (txtFingerprint _),
    "txt_scrub" -> (txtScrub _),
    "txt_vocab" -> ((s: SparkSession, d: String) => txtVocab(s, d)),
    "txt_lenhist" -> ((s: SparkSession, d: String) => txtLenHist(s, d)),
    "txt_bm25" -> ((s: SparkSession, d: String) => txtBm25(s, d)),
    "txt_unigram_ppl" -> (txtUnigramPpl _),
    "txt_bigram_ppl" -> ((s: SparkSession, d: String) => txtBigramPpl(s, d)),
    "txt_ppl_buckets" -> (txtPplBuckets _),
    "txt_boilerplate" -> ((s: SparkSession, d: String) => txtBoilerplate(s, d)),
    "txt_gopher" -> (txtGopher _),
    "txt_novelty" -> (txtNovelty _),
    "txt_pii" -> (txtPii _),
    "txt_kn_ppl" -> ((s: SparkSession, d: String) => txtKnPpl(s, d)),
    "txt_curriculum" -> ((s: SparkSession, d: String) => txtCurriculum(s, d)),
    "txt_fertility" -> (txtFertility _),
    "txt_zipf" -> (txtZipf _),
    "txt_boilerplate_frac" -> ((s: SparkSession, d: String) => txtBoilerplateFrac(s, d)),
    "txt_novelty_curve" -> (txtNoveltyCurve _),
    "txt_source_kl" -> ((s: SparkSession, d: String) => txtSourceKl(s, d)),
    "txt_winnowing" -> ((s: SparkSession, d: String) => txtWinnowing(s, d)),
    "txt_langid_margin" -> (txtLangIdMargin _),
    "txt_vocab_coverage" -> ((s: SparkSession, d: String) => txtVocabCoverage(s, d)),
    "txt_hash_embed" -> ((s: SparkSession, d: String) => txtHashEmbed(s, d)),
    "src_scorecard" -> (srcScorecard _),
    "txt_signal_corr" -> (txtSignalCorr _),
    "txt_cohesion" -> (txtCohesion _),
    "txt_template_headers" -> ((s: SparkSession, d: String) => txtTemplateHeaders(s, d)),
    "txt_lang_confusion" -> (txtLangConfusion _),
    "txt_encoding_scan" -> (txtEncodingScan _),
  )

  val oracles: Map[String, String] = Map(
    "txt_pii" -> txtPiiSql,
    "txt_tokens" -> txtTokensSql,
    "txt_quality" -> txtQualitySql,
    "txt_langid" -> txtLangIdSql,
    "txt_entropy" -> txtEntropySql,
    "txt_fingerprint" -> txtFingerprintSql,
    "txt_scrub" -> txtScrubSql,
    "txt_vocab" -> txtVocabSql,
    "txt_lenhist" -> txtLenHistSql,
    "txt_bm25" -> txtBm25Sql,
    "txt_unigram_ppl" -> txtUnigramPplSql,
    "txt_bigram_ppl" -> txtBigramPplSql,
    "txt_ppl_buckets" -> txtPplBucketsSql,
    "txt_boilerplate" -> txtBoilerplateSql,
    "txt_gopher" -> txtGopherSql,
    "txt_novelty" -> txtNoveltySql,
    "txt_kn_ppl" -> txtKnPplSql,
    "txt_curriculum" -> txtCurriculumSql,
    "txt_fertility" -> txtFertilitySql,
    "txt_zipf" -> txtZipfSql,
    "txt_boilerplate_frac" -> txtBoilerplateFracSql,
    "txt_novelty_curve" -> txtNoveltyCurveSql,
    "txt_source_kl" -> txtSourceKlSql,
    "txt_winnowing" -> txtWinnowingSql,
    "txt_langid_margin" -> txtLangIdMarginSql,
    "txt_vocab_coverage" -> txtVocabCoverageSql,
    "txt_hash_embed" -> txtHashEmbedSql,
    "src_scorecard" -> srcScorecardSql,
    "txt_signal_corr" -> txtSignalCorrSql,
    "txt_cohesion" -> txtCohesionSql,
    "txt_template_headers" -> txtTemplateHeadersSql,
    "txt_lang_confusion" -> txtLangConfusionSql,
    "txt_encoding_scan" -> txtEncodingScanSql,
  )
}
