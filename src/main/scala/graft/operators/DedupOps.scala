package graft.operators

import graft.{GraftTuning, Tables}
import graft.functions.TextFunctions._
import graft.functions.{SimHash64, VectorFunctions => VF}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication suite over `documents` (and `embeddings` for the
  * vector-space variant). Five strategies, from exact to approximate:
  *
  *  - exact:      hash-groupBy on the normalized fingerprint (one shuffle)
  *  - n-gram Jaccard: shingle self-join — exact pairwise, oracle-checkable
  *  - MinHash+LSH: signature bands → candidate pairs → exact re-verify
  *  - SimHash:    64-bit signature + Hamming banding (native expression)
  *  - embedding cosine: near-dup pairs in vector space
  *
  * Scale notes (the 100 TB story): every strategy is shuffle-bounded by its
  * blocking key (fingerprint, shingle, band hash), never all-pairs. The
  * only quadratic step is *within a candidate bucket*, which LSH keeps
  * small by construction. MinHash signatures use partial aggregation
  * (32 `min()` aggs), so the map side combines before the shuffle.
  */
object DedupOps {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.loadFan(s, dir, "documents", "doc_id")

  /** Plain (un-fanned) loader for light consumers whose per-row map work
    * doesn't amortize the fan exchange (r19 driver bench regressions:
    * dd_simhash_pairs 0.80× under the fanned loader). */
  private def docsPlain(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** Distinct (doc_id, shingle-hash) pairs. Tokens are materialized through
    * a projection boundary first — inlining `split()` into the shingle
    * lambda re-evaluates the regex once per `element_at`, ~200× per row.
    * Shingles travel as xxhash64 longs: joins and minhash permutations
    * never touch the string again (collisions over 64 bits are negligible
    * for set-intersection counting at any corpus size). */
  private def shingleSet(d: DataFrame, n: Int = 3,
      carry: Seq[String] = Nil): DataFrame = {
    // `carry` columns are functionally dependent on doc_id (e.g. source),
    // so carrying them through the projection costs nothing and saves the
    // consumers a corpus-keyed join back to documents just to re-fetch them.
    // Dedup happens PER DOC with array_distinct BEFORE the explode — doc_id
    // is unique per source row, so per-array dedup ≡ the old global
    // `.distinct()` on (doc_id, hs), minus its corpus-sized exchange
    // (r19 plan diff for every shingle consumer: distinct Exchange +
    // window Exchange → window Exchange only).
    val keep = col("doc_id") +: carry.map(col)
    d.select(keep :+ tokens(col("text")).as("toks"): _*)
      .select(keep :+ explode(array_distinct(
        transform(shingles(col("toks"), n), x => xxhash64(x)))).as("hs"): _*)
  }

  /** shingleSet restricted to document frequency ≤ dfCap, computed with a
    * window count over the distinct set — one shuffle keyed by shingle
    * instead of a groupBy + join back. */
  private def discriminativeShingles(d: DataFrame, dfCap: Int,
      carry: Seq[String] = Nil): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("hs"))
    shingleSet(d, carry = carry)
      .withColumn("__df", count(lit(1)).over(w))
      .filter(col("__df") <= dfCap)
      .drop("__df")
  }

  // ------------------------------------------------------------ exact dedup
  /** Groups by content fingerprint; keeps min doc_id as survivor. */
  def ddExact(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("keep_doc_id"))

  val ddExactSql: String =
    """SELECT md5(array_to_string(regexp_split_to_array(trim(lower(text)), '\s+'), ' ')) AS fp,
      |  MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
      |FROM documents GROUP BY 1 ORDER BY keep_doc_id""".stripMargin

  // ------------------------------------------------ dup-group size histogram
  /** Duplicate-multiplicity histogram: how many fingerprint groups exist at
    * each copy count, with the doc volume and share each size class holds —
    * the one-page answer to "how duplicated is this corpus and where does
    * dedup buy tokens" that a team reads BEFORE paying for pair-level
    * dedup (a corpus that is 99 % singletons needs [[ddExact]] and nothing
    * more; a fat tail of large groups motivates the near-dup machinery).
    *
    * Scale: the fingerprint groupBy is [[ddExact]]'s single map-combined
    * shuffle; the histogram re-aggregates the GROUP-sized relation (≤ one
    * row per distinct document) into at most max-multiplicity rows —
    * model-sized output, corpus-share via one broadcast total. */
  def ddSizeHist(s: SparkSession, dir: String): DataFrame = {
    val sizes = docs(s, dir)
      .select(fingerprint(col("text")).as("fp"))
      .groupBy(col("fp")).agg(count(lit(1)).as("sz"))
    val tot = docs(s, dir).agg(count(lit(1)).as("n_total"))
    sizes.groupBy(col("sz").as("group_size"))
      .agg(count(lit(1)).as("n_groups"))
      .crossJoin(broadcast(tot))
      .select(col("group_size"), col("n_groups"),
        (col("group_size") * col("n_groups")).as("n_docs"),
        (round((col("group_size") * col("n_groups")).cast("double")
          / col("n_total").cast("double"), 6) + 0.0).as("doc_share"))
      .orderBy(col("group_size"))
  }

  val ddSizeHistSql: String =
    """WITH sizes AS (
      |  SELECT md5(array_to_string(regexp_split_to_array(trim(lower(text)), '\s+'), ' ')) AS fp,
      |    CAST(COUNT(*) AS BIGINT) AS sz
      |  FROM documents GROUP BY 1
      |), tot AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM documents
      |)
      |SELECT sz AS group_size, CAST(COUNT(*) AS BIGINT) AS n_groups,
      |  CAST(sz * COUNT(*) AS BIGINT) AS n_docs,
      |  ROUND(CAST(sz * COUNT(*) AS DOUBLE) / CAST(MIN(n_total) AS DOUBLE), 6)
      |    + 0.0 AS doc_share
      |FROM sizes CROSS JOIN tot
      |GROUP BY sz ORDER BY group_size""".stripMargin

  // ---------------------------------------------------- n-gram Jaccard pairs
  /** Pairwise Jaccard over DISCRIMINATIVE word 3-gram shingles.
    *
    * Contract (identical in the oracle SQL, so results match by
    * construction): the shingle universe is restricted to shingles with
    * document frequency ≤ dfCap; both intersection and per-doc set sizes
    * are computed over that universe. Hot shingles are where a
    * shingle-keyed self-join goes quadratic — a shingle in d docs yields
    * d² pair rows — and they carry no discrimination (a trigram present in
    * half the corpus says nothing about duplication). With the cap, the
    * pair join is one shuffle keyed by shingle with bucket size ≤ dfCap:
    * total pair rows ≤ dfCap · |shingles|, linear in data — the shape that
    * survives 100 TB. (An earlier variant kept the full universe and
    * re-verified candidates against complete shingle sets; that probe join
    * cost |candidates|·|avg set| ≈ 50× more than this and changed no
    * detected pair on this corpus.) */
  def ddNgramJaccard(s: SparkSession, dir: String, dfCap: Int = GraftTuning.ShingleDfCap): DataFrame =
    ngramJaccardPairs(s, dir, dfCap).orderBy(col("id_a"), col("id_b"))

  /** [[ddNgramJaccard]] without the final report sort — downstream
    * consumers (components) destroy ordering immediately, and a persisted
    * global sort of the pair set is pure waste there. */
  private[operators] def ngramJaccardPairs(s: SparkSession, dir: String, dfCap: Int = GraftTuning.ShingleDfCap): DataFrame = {
    // discriminative-universe shingle set feeds 3 branches; cache once
    val sh = discriminativeShingles(docs(s, dir), dfCap)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the pair report is near-dup-sized, not corpus-sized — materialize it
    // so the shingle cache releases here (ddDecontaminate discipline)
    val pairs = ngramJaccardPairsFrom(sh).localCheckpoint()
    sh.unpersist()
    pairs
  }

  /** The j≥0.2 pair derivation over a prepared (and materialized)
    * discriminative-shingle frame — factored out (r20) so consumers that
    * already built the shingle universe (ddMinHashEstReport) derive the
    * pairs from THEIR copy instead of paying the corpus-sized shingle
    * window twice. Expressions identical to the pre-r20 inline form, so
    * every jaccard/rounding bit matches the oracle CTEs. */
  private def ngramJaccardPairsFrom(sh: DataFrame): DataFrame = {
    val cnt = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    sh.as("a").join(sh.as("b"),
        col("a.hs") === col("b.hs") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_inter"))
      .join(cnt.as("ca"), col("id_a") === col("ca.doc_id"))
      .join(cnt.as("cb"), col("id_b") === col("cb.doc_id"))
      .select(col("id_a"), col("id_b"), col("n_inter"),
        col("ca.n").as("n_a"), col("cb.n").as("n_b"),
        round(col("n_inter") / (col("ca.n") + col("cb.n") - col("n_inter")), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= 0.2)
  }

  val ddNgramJaccardSql: String =
    raw"""WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
      |), sh0 AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(CASE WHEN len(t) >= 3
      |      THEN list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
      |      ELSE [] END) AS s
      |  FROM toks
      |), rare AS (
      |  SELECT s FROM sh0 GROUP BY s HAVING COUNT(*) <= ${GraftTuning.ShingleDfCap}
      |), sh AS (
      |  SELECT sh0.* FROM sh0 JOIN rare USING (s)
      |), cnt AS (
      |  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
      |), inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |)
      |SELECT id_a, id_b, n_inter, ca.n AS n_a, cb.n AS n_b,
      |  ROUND(n_inter / (ca.n + cb.n - n_inter), 6) AS jaccard
      |FROM inter
      |JOIN cnt ca ON id_a = ca.doc_id
      |JOIN cnt cb ON id_b = cb.doc_id
      |WHERE ROUND(n_inter / (ca.n + cb.n - n_inter), 6) >= 0.2
      |ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------- jaccard distribution sweep
  /** Pair-similarity histogram for the LEXICAL detector — the
    * [[ddCosThresholds]] curve on the shingle side: every candidate pair
    * with ANY shared discriminative shingle, bucketed by jaccard in 0.1
    * steps. Read to pick the [[ddNgramJaccard]] threshold: the dead zone
    * between the near-dup mass and the background tells you where the
    * cut is safe, and a histogram without a gap says jaccard alone can't
    * separate this corpus. Buckets = `floor(j·10)/10` on the 6-dp-rounded
    * jaccard, identical arithmetic both engines.
    *
    * Scale: identical candidate shape to [[ddNgramJaccard]] (df-capped
    * buckets bound the pair work); the histogram is a model-sized agg. */
  def ddJaccardHist(s: SparkSession, dir: String, dfCap: Int = GraftTuning.ShingleDfCap): DataFrame = {
    val sh = discriminativeShingles(docs(s, dir), dfCap)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cnt = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.hs") === col("b.hs") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_inter"))
    val report = inter
      .join(cnt.as("ca"), col("id_a") === col("ca.doc_id"))
      .join(cnt.as("cb"), col("id_b") === col("cb.doc_id"))
      .select((floor(round(col("n_inter") /
        (col("ca.n") + col("cb.n") - col("n_inter")), 6) * 10) / 10)
        .as("j_bucket"))
      .groupBy(col("j_bucket"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("j_bucket"))
      .localCheckpoint()
    sh.unpersist()
    report
  }

  val ddJaccardHistSql: String =
    raw"""WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
      |), sh0 AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(CASE WHEN len(t) >= 3
      |      THEN list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
      |      ELSE [] END) AS s
      |  FROM toks
      |), rare AS (
      |  SELECT s FROM sh0 GROUP BY s HAVING COUNT(*) <= ${GraftTuning.ShingleDfCap}
      |), sh AS (
      |  SELECT sh0.* FROM sh0 JOIN rare USING (s)
      |), cnt AS (
      |  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
      |), inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |)
      |SELECT floor(ROUND(n_inter / (ca.n + cb.n - n_inter), 6) * 10) / 10
      |    AS j_bucket,
      |  CAST(COUNT(*) AS BIGINT) AS n_pairs
      |FROM inter
      |JOIN cnt ca ON id_a = ca.doc_id
      |JOIN cnt cb ON id_b = cb.doc_id
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------- cross-detector agreement report
  /** Lexical-vs-semantic dedup agreement: classify every near-dup pair by
    * which detector found it — `both`, `lexical_only` ([[ddNgramJaccard]]
    * j ≥ 0.2), or `semantic_only` ([[ddEmbeddingCosine]] cos ≥ 0.4) — the
    * multi-signal policy report behind "do we need both passes?"
    * (semantic_only = paraphrases the shingle detector misses;
    * lexical_only = token overlap below the embedding's sensitivity;
    * both ≈ exact-ish copies). Restricted to ids carried by BOTH tables
    * (documents ∩ embeddings — [[graft.operators.CurationOps
    * .pipeIntegrity]] audits the orphans), so the `only` classes measure
    * detector behavior, not table coverage. Every class row emits, zero
    * or not.
    *
    * The audit universe is further bounded to a DETERMINISTIC hash sample
    * of ~`sampleCap` ids (expected size; a deterministic hash threshold
    * has ±√cap binomial noise, which a diagnostic absorbs): the first 8
    * md5 hex chars of the id read as a 32-bit integer, kept below
    * ⌈cap/total · 2³²⌉ — replayable across runs/executors, unbiased
    * w.r.t. content, and EXPRESSIBLE IN THE ORACLE (Spark `conv(hex,16,
    * 10)` ≡ DuckDB `'0x'‖hex` cast — the dd_exact hex-hash idiom), so
    * the DuckDB twin applies the identical filter and the oracle holds
    * at ANY corpus size, not just under the cap. The 2³²-slot space also
    * keeps the expected sample at ~cap for arbitrarily large totals
    * (a 10⁶-slot space floors at total/10⁶ once keep hits 1). An
    * agreement audit is a detector DIAGNOSTIC, so a uniform sample
    * preserves exactly what it measures — the both/only class proportions
    * — while capping the semantic side's exact n²/2 block-pair scan at
    * ~sampleCap²/2 dots REGARDLESS of corpus size (the r11 rungs measured
    * the unsampled form at 17.2 s by 30×, the worst curve in the repo).
    * Cosine pairs carry no corpus-global statistic, so sample-then-detect
    * ≡ detect-then-restrict for the semantic side (spec-certified); the
    * lexical side keeps its full-corpus df-capped candidate shape (its
    * df statistic IS corpus-global, and it's linear-bounded anyway) and is
    * restricted to the sample after detection. Corpora at or under the cap
    * take a passthrough branch, so at certification scale (500 ids vs cap
    * 1500) the sampled default IS the exact audit;
    * [[ddSignalAgreementExact]] keeps the unsampled form as the
    * certification twin (the embKnnMutual/embKnnMutualExact pattern).
    *
    * Scale: lexical detector df-cap-bounded (linear), semantic detector
    * ~sampleCap²/2 dots (constant), agreement join pair-frame-sized,
    * report 3 rows. */
  def ddSignalAgreement(s: SparkSession, dir: String,
      sampleCap: Int = GraftTuning.AgreementSampleCap): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val idsAll = docs(s, dir).select(col("doc_id"))
      .join(Tables.load(s, dir, "embeddings")
        .select(col("vec_id").as("doc_id")), Seq("doc_id"), "left_semi")
      .persist(lvl)
    val total = idsAll.count()
    val ids =
      if (total <= sampleCap) idsAll
      else idsAll.filter(
        hashSampleBucket(col("doc_id")) < lit(sampleKeep(sampleCap, total)))
    def restrict(p: DataFrame): DataFrame = p
      .join(ids.select(col("doc_id").as("id_a")), Seq("id_a"), "left_semi")
      .join(ids.select(col("doc_id").as("id_b")), Seq("id_b"), "left_semi")
    val lex = restrict(ngramJaccardPairs(s, dir).select(col("id_a"), col("id_b")))
      .withColumn("in_lex", lit(1))
    val sem = embeddingCosinePairsFrom(
        Tables.load(s, dir, "embeddings")
          .join(ids.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi"))
      .select(col("id_a"), col("id_b"))
      .withColumn("in_sem", lit(1))
    val classes = lex.join(sem, Seq("id_a", "id_b"), "full_outer")
      .select(when(col("in_lex").isNotNull && col("in_sem").isNotNull, "both")
        .when(col("in_lex").isNotNull, "lexical_only")
        .otherwise("semantic_only").as("verdict"))
      .groupBy(col("verdict")).agg(count(lit(1)).as("n_pairs"))
    val names = s.range(1).select(
      explode(array(lit("both"), lit("lexical_only"), lit("semantic_only")))
        .as("verdict"))
    val report = names.join(classes, Seq("verdict"), "left")
      .select(col("verdict"), coalesce(col("n_pairs"), lit(0L)).as("n_pairs"))
      .orderBy(col("verdict"))
      .localCheckpoint()
    idsAll.unpersist()
    report
  }

  /** Deterministic hash-sample bucket of an id: first 8 md5 hex chars as
    * a 32-bit integer in [0, 2³²) — the oracle-portable idiom (DuckDB:
    * `CAST('0x' || substring(md5(CAST(id AS VARCHAR)), 1, 8) AS BIGINT)`).
    * Keep an id when its bucket < [[sampleKeep]](cap, total). */
  private[operators] def hashSampleBucket(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 8), 16, 10).cast("long")

  /** Keep-threshold for [[hashSampleBucket]]: ⌈cap/total · 2³²⌉ — expected
    * sample size ~cap at ANY total (never floors to a total-proportional
    * tail the way a small slot space does once keep hits 1). */
  private[operators] def sampleKeep(cap: Int, total: Long): Long =
    math.ceil(cap.toDouble / total * 4294967296.0).toLong

  /** The unsampled exact-vs-exact form of [[ddSignalAgreement]] — the
    * certification twin. Pays the semantic detector's designed n²/2
    * block-pair scan BY DEFINITION (the r11 rungs measured its 17.2 s
    * 30× wall honestly); kept for corpora small enough to afford it and
    * as the ground truth the sampled default is spec-certified against
    * (they coincide whenever the doc∩emb universe fits the cap). */
  def ddSignalAgreementExact(s: SparkSession, dir: String): DataFrame =
    ddSignalAgreement(s, dir, sampleCap = Int.MaxValue)

  // the sids CTE mirrors the Scala sampler EXACTLY (same md5-hex bucket,
  // same ⌈cap/total·2³²⌉ threshold, same ≤cap passthrough), so the oracle
  // certifies the sampled default at ANY corpus size — not only under the
  // cap where sampling is a no-op
  val ddSignalAgreementSql: String =
    s"""WITH ids AS (
      |  SELECT d.doc_id FROM documents d
      |  JOIN embeddings e ON d.doc_id = e.vec_id
      |), tot AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS total FROM ids
      |), sids AS (
      |  SELECT doc_id FROM ids CROSS JOIN tot
      |  WHERE total <= ${GraftTuning.AgreementSampleCap}
      |    OR CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
      |       < CAST(CEIL(${GraftTuning.AgreementSampleCap}.0 / total * 4294967296.0) AS BIGINT)
      |), toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
      |), sh0 AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(CASE WHEN len(t) >= 3
      |      THEN list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
      |      ELSE [] END) AS s
      |  FROM toks
      |), rare AS (
      |  SELECT s FROM sh0 GROUP BY s HAVING COUNT(*) <= ${GraftTuning.ShingleDfCap}
      |), sh AS (
      |  SELECT sh0.* FROM sh0 JOIN rare USING (s)
      |), cnt AS (
      |  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
      |), inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2
      |), lex AS (
      |  SELECT id_a, id_b FROM inter
      |  JOIN cnt ca ON id_a = ca.doc_id JOIN cnt cb ON id_b = cb.doc_id
      |  WHERE ROUND(n_inter / (ca.n + cb.n - n_inter), 6) >= 0.2
      |    AND id_a IN (SELECT doc_id FROM sids)
      |    AND id_b IN (SELECT doc_id FROM sids)
      |), v AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
      |  FROM embeddings
      |), sem AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
      |  FROM v a JOIN v b ON a.vec_id < b.vec_id
      |  WHERE ROUND(list_dot_product(a.ve, b.ve)
      |      / (sqrt(list_dot_product(a.ve, a.ve))
      |         * sqrt(list_dot_product(b.ve, b.ve))), 6) >= 0.4
      |    AND a.vec_id IN (SELECT doc_id FROM sids)
      |    AND b.vec_id IN (SELECT doc_id FROM sids)
      |), cls AS (
      |  SELECT CASE
      |      WHEN l.id_a IS NOT NULL AND s2.id_a IS NOT NULL THEN 'both'
      |      WHEN l.id_a IS NOT NULL THEN 'lexical_only'
      |      ELSE 'semantic_only' END AS verdict
      |  FROM lex l FULL OUTER JOIN sem s2
      |    ON l.id_a = s2.id_a AND l.id_b = s2.id_b
      |), names AS (
      |  SELECT unnest(['both', 'lexical_only', 'semantic_only']) AS verdict
      |)
      |SELECT names.verdict,
      |  CAST(COALESCE(c.n_pairs, 0) AS BIGINT) AS n_pairs
      |FROM names LEFT JOIN (
      |  SELECT verdict, COUNT(*) AS n_pairs FROM cls GROUP BY 1) c
      |  USING (verdict)
      |ORDER BY verdict""".stripMargin

  // ------------------------------------- asymmetric containment pairs
  /** Shingle-containment near-dup pairs: `C(A→B) = |A∩B| / |A|` over the
    * same df-capped discriminative 3-gram universe as [[ddNgramJaccard]].
    * Containment is the dedup signal Jaccard structurally misses — a short
    * doc pasted whole into a much longer one scores
    * `J = |A|/|B| ≈ 0` but `C(A→B) ≈ 1` (quotes, boilerplate wrappers,
    * aggregation pages); it's Broder's original resemblance/containment
    * split, and production pipelines screen on BOTH. Emits both directions
    * per unordered pair and keeps those where either direction ≥ `thr`.
    *
    * Scale: identical shape to [[ddNgramJaccard]] — the df cap bounds
    * every shingle bucket, so candidate work is O(Σ df²) not O(n²); the
    * containment report adds only arithmetic on the pair frame. */
  def ddContainment(s: SparkSession, dir: String, dfCap: Int = GraftTuning.ShingleDfCap,
      thr: Double = 0.5): DataFrame = {
    val sh = discriminativeShingles(docs(s, dir), dfCap)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cnt = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.hs") === col("b.hs") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_inter"))
    val pairs = inter
      .join(cnt.as("ca"), col("id_a") === col("ca.doc_id"))
      .join(cnt.as("cb"), col("id_b") === col("cb.doc_id"))
      .select(col("id_a"), col("id_b"), col("n_inter"),
        col("ca.n").as("n_a"), col("cb.n").as("n_b"),
        round(col("n_inter") / col("ca.n"), 6).as("cont_a_in_b"),
        round(col("n_inter") / col("cb.n"), 6).as("cont_b_in_a"))
      .filter(greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= thr)
      .localCheckpoint()
    sh.unpersist()
    pairs.orderBy(col("id_a"), col("id_b"))
  }

  val ddContainmentSql: String =
    raw"""WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
      |), sh0 AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(CASE WHEN len(t) >= 3
      |      THEN list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
      |      ELSE [] END) AS s
      |  FROM toks
      |), rare AS (
      |  SELECT s FROM sh0 GROUP BY s HAVING COUNT(*) <= ${GraftTuning.ShingleDfCap}
      |), sh AS (
      |  SELECT sh0.* FROM sh0 JOIN rare USING (s)
      |), cnt AS (
      |  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
      |), inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |)
      |SELECT id_a, id_b, n_inter, ca.n AS n_a, cb.n AS n_b,
      |  ROUND(n_inter / ca.n, 6) AS cont_a_in_b,
      |  ROUND(n_inter / cb.n, 6) AS cont_b_in_a
      |FROM inter
      |JOIN cnt ca ON id_a = ca.doc_id
      |JOIN cnt cb ON id_b = cb.doc_id
      |WHERE GREATEST(ROUND(n_inter / ca.n, 6), ROUND(n_inter / cb.n, 6)) >= 0.5
      |ORDER BY id_a, id_b""".stripMargin

  /** Static model state for the streaming containment screen
    * ([[graft.streaming.StreamOps.streamingContainment]]): the corpus's
    * df-capped shingle table (doc_id, hs) — checkpointed, it's probed per
    * micro-batch — its per-doc rare-shingle counts, and an OVERSIZED
    * Bloom sketch of the rare-universe hashes so the arriving doc's
    * |A| is computable row-locally (2²⁴ bits vs ~10⁴–10⁵ keys at gate
    * SFs ⇒ ≪1 expected false positive — the substringDupSketch
    * discipline; at corpus scale, size numBits to the universe). */
  def containmentCorpusState(s: SparkSession, dir: String, dfCap: Int = GraftTuning.ShingleDfCap)
      : (DataFrame, DataFrame, Array[Byte]) = {
    val sh = discriminativeShingles(docs(s, dir), dfCap).localCheckpoint()
    val cnt = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val sketch = graft.functions.BloomSketch.buildSketch(
      sh.select(col("hs")).distinct(), col("hs"), 1L << 20, 1L << 24)
    (sh, cnt, sketch)
  }

  // ----------------------------------- semantic delta-vs-corpus screen
  /** The SEMANTIC side of [[ddIncremental]]'s ingest asymmetry: each
    * arriving (delta) vector reports its nearest corpus neighbor and a
    * near/new verdict at cosine ≥ `thr` — paraphrase/re-encoding dedup at
    * ingest time, where the lexical delta screen sees nothing. Delta =
    * the md5-bucket ≥ 'd' slice (the [[ddIncremental]] batch-boundary
    * convention), corpus = the rest.
    *
    * Scale shape — the whole point: the CORPUS side is scanned in place
    * and never shuffled or self-joined; the DELTA (small at any real
    * ingest cadence) broadcasts, scoring is map-side codegen'd dots, and
    * the top-1 aggregation is keyed by delta vec — max(struct(cos, −id))
    * is map-combined, so reducers see |delta| partials per task, never
    * pair rows. At 100 TB swap the corpus scan for its SRP-bucket index
    * ([[ddSemDedupAnn]]'s table layout) probed by the same broadcast
    * delta; verdict semantics are unchanged. Emits
    * (vec_id, verdict, match_id, cos). */
  def ddIncrementalSem(s: SparkSession, dir: String,
      thr: Double = 0.4): DataFrame = {
    val vn = Tables.loadFan(s, dir, "embeddings", "vec_id")
      .select(col("vec_id"),
        graft.functions.VectorFunctions.asDouble(col("embedding")).as("ve"))
      .withColumn("nrm", graft.functions.VectorFunctions.norm(col("ve")))
      .withColumn("b", substring(md5(col("vec_id").cast("string")), 1, 1))
    val corpus = vn.filter(col("b") < "d")
      .select(col("vec_id").as("c_id"), col("ve").as("cve"), col("nrm").as("cnrm"))
    val delta = vn.filter(col("b") >= "d")
      .select(col("vec_id").as("d_id"), col("ve").as("dve"), col("nrm").as("dnrm"))
    corpus.crossJoin(broadcast(delta))
      .select(col("d_id"), col("c_id"),
        (graft.functions.VectorFunctions.dot(col("dve"), col("cve"))
          / (col("dnrm") * col("cnrm"))).as("cos"))
      .groupBy(col("d_id"))
      .agg(max(struct(col("cos"), (-col("c_id")).as("nc"))).as("best"))
      .select(col("d_id").as("vec_id"),
        when(col("best.cos") >= thr, lit("near")).otherwise(lit("new"))
          .as("verdict"),
        when(col("best.cos") >= thr, -col("best.nc")).as("match_id"),
        when(col("best.cos") >= thr, round(col("best.cos"), 6) + 0.0).as("cos"))
      .orderBy(col("vec_id"))
  }

  val ddIncrementalSemSql: String =
    """WITH vn AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve,
      |    sqrt(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
      |         list_transform(embedding, x -> CAST(x AS DOUBLE)))) AS nrm,
      |    substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) AS b
      |  FROM embeddings
      |), scored AS (
      |  SELECT d.vec_id, c.vec_id AS c_id,
      |    list_dot_product(d.ve, c.ve) / (d.nrm * c.nrm) AS cos
      |  FROM vn d CROSS JOIN vn c
      |  WHERE d.b >= 'd' AND c.b < 'd'
      |), best AS (
      |  SELECT vec_id, c_id, cos,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, c_id) AS rn
      |  FROM scored
      |)
      |SELECT vec_id,
      |  CASE WHEN cos >= 0.4 THEN 'near' ELSE 'new' END AS verdict,
      |  CASE WHEN cos >= 0.4 THEN c_id END AS match_id,
      |  CASE WHEN cos >= 0.4 THEN ROUND(cos, 6) + 0.0 END AS cos
      |FROM best WHERE rn = 1 ORDER BY vec_id""".stripMargin

  // ------------------------------------------------ dedup cascade report
  /** The staged dedup funnel as one report: train docs → exact-canonical
    * survivors → near-dup-pruned survivors → decontaminated survivors,
    * with doc AND token counts per stage — the "how many training tokens
    * does each dedup stage cost/buy" accounting a pipeline owner signs
    * off on before a run ([[CurationOps]]' txt_funnel is the quality
    * funnel; this is the duplication/contamination funnel). Stages
    * compose the SAME contracts as the standalone operators: exact =
    * [[ddExact]]'s min-id fingerprint election (within train), near =
    * [[ddNgramJaccard]]'s df≤50 / j≥0.2 pairs with the min-id-survivor
    * prune restricted to exact survivors, decontam = [[ddDecontaminate]]'s
    * ≥3-shared-shingles flag.
    *
    * Scale: reuses the pair detectors' bounded-candidate shapes; each
    * stage beyond them is an anti-join keyed by doc_id; the report is 4
    * rows. */
  def pipeDedupCascade(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
    // r20: the three shared frames are EAGER localCheckpoints, not lazy
    // persists — the report union's four branches launch as concurrent
    // stages inside one action, and under lazy persists they RACED the
    // uncached subtrees (the r20 profile showed the fingerprint/shingle
    // pipelines computed 3-4× concurrently: 8 overlapping jobs re-scanning
    // the same input, ~40 s of duplicated executor time; the r14
    // dd_semdedup_ann cold-run lesson, now applied here). Sequential
    // eager materialization computes each exactly once; the union then
    // reads three checkpointed RDDs.
    val train = docs(s, dir).filter(col("source") =!= "src0")
      .select(col("doc_id"), tokenCount(col("text")).as("n_tok"),
        fingerprint(col("text")).as("fp"))
      .localCheckpoint()
    val canon = train
      .withColumn("mn", min(col("doc_id")).over(w))
      .filter(col("doc_id") === col("mn"))
      .select(col("doc_id"), col("n_tok"))
      .localCheckpoint()
    // ONE discriminative shingle universe feeds BOTH the near-pair join
    // and the decontamination flag — running the standalone operators
    // back-to-back rebuilds it twice (measured 6.2 s vs 4.4 s at sf0.1);
    // the per-stage contracts (df≤50 universe, j≥0.2, ≥3 shared) are
    // unchanged and the oracle shares the same CTE
    val sh = discriminativeShingles(docs(s, dir), 50, carry = Seq("source"))
      .localCheckpoint()
    val cnt = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val pairs = sh.as("a").join(sh.as("b"),
        col("a.hs") === col("b.hs") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_inter"))
      .join(cnt.as("ca"), col("id_a") === col("ca.doc_id"))
      .join(cnt.as("cb"), col("id_b") === col("cb.doc_id"))
      .filter(round(col("n_inter") /
        (col("ca.n") + col("cb.n") - col("n_inter")), 6) >= 0.2)
      .select(col("id_a"), col("id_b"))
    val ids = canon.select(col("doc_id"))
    val prunedNear = pairs
      .join(ids.withColumnRenamed("doc_id", "id_a"), Seq("id_a"))
      .join(ids.withColumnRenamed("doc_id", "id_b"), Seq("id_b"))
      .select(col("id_b").as("doc_id")).distinct()
    val s2 = canon
      .join(prunedNear.withColumn("p", lit(1)), Seq("doc_id"), "left")
      .filter(col("p").isNull).select(col("doc_id"), col("n_tok"))
      .localCheckpoint()
    val flagged = sh.filter(col("source") =!= "src0")
      .select(col("doc_id").as("train_doc"), col("hs"))
      .join(sh.filter(col("source") === "src0")
        .select(col("doc_id").as("eval_doc"), col("hs")), Seq("hs"))
      .groupBy(col("train_doc"), col("eval_doc"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 3)
      .select(col("train_doc").as("doc_id")).distinct()
    val s3 = s2
      .join(flagged.withColumn("f", lit(1)), Seq("doc_id"), "left")
      .filter(col("f").isNull).select(col("doc_id"), col("n_tok"))
    def stageRow(n: Long, name: String, df: DataFrame) =
      df.agg(count(lit(1)).as("n_docs"),
          coalesce(sum(col("n_tok")), lit(0L)).as("n_tokens"))
        .select(lit(n).as("stage"), lit(name).as("stage_name"),
          col("n_docs"), col("n_tokens"))
    stageRow(0L, "train", train)
      .unionByName(stageRow(1L, "exact_dedup", canon))
      .unionByName(stageRow(2L, "near_dedup", s2))
      .unionByName(stageRow(3L, "decontaminated", s3))
      .orderBy(col("stage"))
      .localCheckpoint()
  }

  val pipeDedupCascadeSql: String =
    raw"""WITH toksAll AS (
      |  SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS t
      |  FROM documents
      |), train AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok,
      |    md5(array_to_string(regexp_split_to_array(trim(lower(text)), '\s+'), ' ')) AS fp
      |  FROM documents WHERE source <> 'src0'
      |), canon AS (
      |  SELECT doc_id, n_tok FROM (
      |    SELECT doc_id, n_tok, MIN(doc_id) OVER (PARTITION BY fp) AS mn
      |    FROM train)
      |  WHERE doc_id = mn
      |), sh0 AS (
      |  SELECT DISTINCT doc_id, source,
      |    unnest(CASE WHEN len(t) >= 3
      |      THEN list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
      |      ELSE [] END) AS s
      |  FROM toksAll
      |), rare AS (
      |  SELECT s FROM sh0 GROUP BY s HAVING COUNT(*) <= ${GraftTuning.ShingleDfCap}
      |), sh AS (
      |  SELECT sh0.* FROM sh0 JOIN rare USING (s)
      |), cnt AS (
      |  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
      |), inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |), pairs AS (
      |  SELECT id_a, id_b FROM inter
      |  JOIN cnt ca ON id_a = ca.doc_id
      |  JOIN cnt cb ON id_b = cb.doc_id
      |  WHERE ROUND(n_inter / (ca.n + cb.n - n_inter), 6) >= 0.2
      |), pruned AS (
      |  SELECT DISTINCT p.id_b AS doc_id
      |  FROM pairs p
      |  JOIN canon a ON p.id_a = a.doc_id
      |  JOIN canon b ON p.id_b = b.doc_id
      |), s2 AS (
      |  SELECT c.doc_id, c.n_tok FROM canon c
      |  LEFT JOIN pruned pr ON c.doc_id = pr.doc_id
      |  WHERE pr.doc_id IS NULL
      |), flagged AS (
      |  SELECT DISTINCT t.doc_id
      |  FROM sh t JOIN sh e ON t.s = e.s
      |  WHERE t.source <> 'src0' AND e.source = 'src0'
      |  GROUP BY t.doc_id, e.doc_id HAVING COUNT(*) >= 3
      |), s3 AS (
      |  SELECT s2.doc_id, s2.n_tok FROM s2
      |  LEFT JOIN flagged f ON s2.doc_id = f.doc_id
      |  WHERE f.doc_id IS NULL
      |)
      |SELECT CAST(0 AS BIGINT) AS stage, 'train' AS stage_name,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) AS n_tokens FROM train
      |UNION ALL
      |SELECT CAST(1 AS BIGINT), 'exact_dedup',
      |  CAST(COUNT(*) AS BIGINT), CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) FROM canon
      |UNION ALL
      |SELECT CAST(2 AS BIGINT), 'near_dedup',
      |  CAST(COUNT(*) AS BIGINT), CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) FROM s2
      |UNION ALL
      |SELECT CAST(3 AS BIGINT), 'decontaminated',
      |  CAST(COUNT(*) AS BIGINT), CAST(COALESCE(SUM(n_tok), 0) AS BIGINT) FROM s3
      |ORDER BY stage""".stripMargin

  // --------------------------------------------------------- MinHash + LSH
  /** 32-perm MinHash signature, 8 bands × 4 rows. Permutation i is
    * xxhash64(shingle, i) — seed-stable across executors, no broadcast
    * state. Candidates from band collisions are re-verified with exact
    * Jaccard, so the output has no false positives (only LSH's false
    * negatives vs the exact variant — recall is asserted in the spec).
    * Not SQL-oracle-expressible (xxhash64 differs across engines);
    * verified in ScalaTest against ddNgramJaccard instead. */
  def ddMinHashLsh(s: SparkSession, dir: String,
      numPerms: Int = 32, bands: Int = 8, threshold: Double = 0.2,
      dfCap: Int = GraftTuning.ShingleDfCap): DataFrame = {
    val rows = numPerms / bands
    // same discriminative universe as ddNgramJaccard so re-verified jaccard
    // values agree with the exact operator
    val sh = discriminativeShingles(docs(s, dir), dfCap)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // signature: 32 partial-aggregating min() columns. Per-perm value is
    // xxhash64 over the 8-byte shingle hash + perm index — full avalanche
    // (perms independent) at fixed-width-input cost, and no arithmetic that
    // ANSI mode would flag for overflow.
    val sigCols = (0 until numPerms).map { i =>
      min(xxhash64(col("hs"), lit(i))).as(s"h$i")
    }
    val sig = sh.groupBy(col("doc_id")).agg(sigCols.head, sigCols.tail: _*)

    // band keys in ONE projection + explode — a per-band union would
    // recompute the signature aggregation once per band per join side
    val bandStructs = (0 until bands).map { b =>
      val cols = (b * rows until (b + 1) * rows).map(i => col(s"h$i"))
      struct(lit(b).as("band"), xxhash64(cols: _*).as("bkey"))
    }
    val banded = sig
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val candidates = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()

    // exact re-verification of candidates only. One aggregation of `sh`
    // into per-doc shingle-set arrays (map-combined, partitioned by doc_id)
    // replaces the r2 shape's three shuffles of `sh` (cnt groupBy + two
    // probe joins keyed differently): both candidate joins now hit the
    // SAME doc_id-partitioned frame, so only the (tiny) candidate side
    // moves, and the intersection is a partition-local array_intersect.
    // Sets are distinct by construction, so |array_intersect| is the exact
    // intersection cardinality; per-doc arrays are bounded by doc length,
    // never by corpus size.
    val docsets = sh.groupBy(col("doc_id"))
      .agg(collect_list(col("hs")).as("shs"), count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // report is |near-dup pairs| rows — materialize, then release all three
    // corpus-scale caches (same discipline as ddDecontaminate/ddSemDedup)
    val report = candidates
      .join(docsets.as("ca"), col("id_a") === col("ca.doc_id"))
      .join(docsets.as("cb"), col("id_b") === col("cb.doc_id"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("ca.shs"), col("cb.shs"))).as("n_inter"),
        col("ca.n").as("n_a"), col("cb.n").as("n_b"))
      .select(col("id_a"), col("id_b"),
        round(col("n_inter") / (col("n_a") + col("n_b") - col("n_inter")), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy(col("id_a"), col("id_b"))
      .localCheckpoint()
    docsets.unpersist()
    banded.unpersist()
    sh.unpersist()
    report
  }

  // -------------------------------------------------------------- SimHash
  /** Per-doc 64-bit SimHash + near-dup pairs at Hamming distance ≤ maxHam.
    *
    * Blocking (HmSearch-style multi-index): split the signature into 8
    * blocks of 8 bits and join on every *pair* of blocks (28 combos of 16
    * bits). Pigeonhole: if two signatures differ in ≤ 6 bits, at most 6
    * blocks differ, so ≥ 2 blocks agree — and that block pair is one of
    * the 28 keys. Exact candidate generation for maxHam ≤ 6 with 16-bit
    * keys (single 8-bit blocks would be quadratic in bucket size at
    * corpus scale; single 16-bit chunks only guarantee distance ≤ 3). */
  def ddSimHashPairs(s: SparkSession, dir: String, maxHam: Int = 6): DataFrame = {
    val sig = simHashSignatures(docs(s, dir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val report = simHashPairsFrom(sig, maxHam).localCheckpoint()
    sig.unpersist()
    report
  }

  /** Per-doc signature projection. Tokens are lowercased — the same
    * normalized stream fingerprint() uses, so exact duplicates provably
    * share a signature (ddSimHashDupCheck). */
  private def simHashSignatures(d: DataFrame): DataFrame =
    d.select(col("doc_id"), SimHash64(tokens(lower(col("text")))).as("sig"))

  /** Blocked pair search over an existing (doc_id, sig) frame — shared by
    * the production entry and the sampled certification check so the
    * signature is computed exactly once per doc. */
  private def simHashPairsFrom(sig: DataFrame, maxHam: Int): DataFrame = {
    require(maxHam <= 6, "28-combo blocking guarantees recall only to distance 6")
    def block(k: Int) =
      shiftrightunsigned(col("sig"), 8 * k).bitwiseAND(lit(0xFFL))
    val combos = for { i <- 0 until 8; j <- i + 1 until 8 } yield (i, j)
    // all 28 combo keys in one projection + explode (single signature pass)
    val comboStructs = combos.zipWithIndex.map { case ((i, j), c) =>
      struct(lit(c).as("combo"), (block(i) * 256 + block(j)).as("ckey"))
    }
    val keyed = sig
      .select(col("doc_id"), col("sig"), explode(array(comboStructs: _*)).as("ck"))
      .select(col("doc_id"), col("sig"),
        col("ck.combo").as("combo"), col("ck.ckey").as("ckey"))
    keyed.as("x").join(keyed.as("y"),
        col("x.combo") === col("y.combo") && col("x.ckey") === col("y.ckey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
        bit_count(col("x.sig").bitwiseXOR(col("y.sig"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHam)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Per-doc SimHash signatures (public API; certified via the two check
    * queries below + DedupSimilaritySpec recall assertions). */
  def ddSimHashSigs(s: SparkSession, dir: String): DataFrame =
    simHashSignatures(docs(s, dir)).orderBy(col("doc_id"))

  /** Driver-certified violation check: docs with EQUAL normalized
    * fingerprints (dd_exact's oracle-checked duplicate contract) must have
    * IDENTICAL SimHash signatures — both are deterministic functions of the
    * same `tokens(lower(text))` stream, so any row here is a real defect
    * (nondeterministic expression, normalization drift between the two
    * pipelines, hash instability across executors). Output is provably
    * empty; the oracle is the empty relation.
    *
    * Shape: one map-combined aggregation keyed by fingerprint — a group's
    * signatures are all equal iff min(sig) = max(sig), so no self-join and
    * the signature is evaluated exactly once per doc (the r2 self-join
    * evaluated SimHash per join side and shuffled the whole corpus twice).
    * A violating group surfaces as its (min, max) doc_id pair. */
  def ddSimHashDupCheck(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), fingerprint(col("text")).as("fp"),
        SimHash64(tokens(lower(col("text")))).as("sig"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("id_a"), max(col("doc_id")).as("id_b"),
        min(col("sig")).as("sig_lo"), max(col("sig")).as("sig_hi"))
      .filter(col("sig_lo") =!= col("sig_hi"))
      .select(col("id_a"), col("id_b"))
      .orderBy(col("id_a"), col("id_b"))

  val ddSimHashDupCheckSql: String =
    "SELECT CAST(NULL AS BIGINT) AS id_a, CAST(NULL AS BIGINT) AS id_b WHERE FALSE"

  /** Driver-certified violation check for the blocked pair search: the
    * 28-combo blocking must return EXACTLY the Hamming ≤ maxHam pairs — the
    * pigeonhole construction guarantees recall, the explicit distance
    * filter guarantees precision. Compares against a direct all-pairs
    * distance scan. Output provably empty.
    *
    * The all-pairs refutation is quadratic by nature, so it runs on a
    * DETERMINISTIC hash sample of expected size ~`sampleCap` docs (the
    * pigeonhole argument is per-pair, so it certifies on any sub-corpus;
    * sampling by doc_id hash keeps the choice replayable across
    * runs/executors, and the [[hashSampleBucket]] 2³²-slot space holds
    * the expected size at ~cap for ANY corpus size). Both
    * sides of the diff see the SAME sampled signature set, computed once
    * and persisted — at sampleCap=1500 the scan is ≤ ~1.1M comparisons of
    * two longs regardless of corpus size, so this certification query
    * stays constant-cost while the production operator it certifies
    * (ddSimHashPairs) scales linearly. */
  def ddSimHashPairsCheck(s: SparkSession, dir: String, maxHam: Int = 6,
      sampleCap: Int = GraftTuning.AgreementSampleCap): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // un-fanned (r20): everything past the signature scan is sample-sized,
    // so the one corpus pass can't amortize a fan exchange (r19: 0.80×)
    val sigAll = simHashSignatures(docsPlain(s, dir))
    val total = sigAll.count()
    val sampled =
      if (total <= sampleCap) sigAll
      else
        // keep ~sampleCap docs via the shared md5-bucket sampler
        // (deterministic, executor-independent, unbiased w.r.t. signature
        // structure; the 2³² slot space keeps the expected sample ~cap at
        // any total — a 10⁶-slot space floors at total/10⁶ once the
        // threshold hits 1 bucket)
        sigAll.filter(
          hashSampleBucket(col("doc_id")) < lit(sampleKeep(sampleCap, total)))
    val sig = sampled.persist(lvl)
    val exact = sig.as("a").join(broadcast(sig.as("b")),
        col("a.doc_id") < col("b.doc_id") &&
          bit_count(col("a.sig").bitwiseXOR(col("b.sig"))) <= maxHam)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .persist(lvl)
    val blocked = simHashPairsFrom(sig, maxHam).select(col("id_a"), col("id_b"))
      .persist(lvl)
    // the diff is provably empty — materialize it, then release the three
    // sample-sized caches rather than holding them to session end
    val report = exact.except(blocked)
      .select(col("id_a"), col("id_b"), lit("missed").as("defect"))
      .union(blocked.except(exact)
        .select(col("id_a"), col("id_b"), lit("spurious").as("defect")))
      .orderBy(col("id_a"), col("id_b"))
      .localCheckpoint()
    blocked.unpersist()
    exact.unpersist()
    sig.unpersist()
    report
  }

  val ddSimHashPairsCheckSql: String =
    """SELECT CAST(NULL AS BIGINT) AS id_a, CAST(NULL AS BIGINT) AS id_b,
      |  CAST(NULL AS VARCHAR) AS defect WHERE FALSE""".stripMargin

  // ------------------------------------------------- embedding cosine pairs
  /** Exact all-pairs cosine near-dup detection, fully distributed.
    *
    * Block-pair join (no driver-side collect, no broadcast of the corpus):
    * each vector lands in block b = hash(id) mod B, is replicated to the B
    * group keys {(min(b,t), max(b,t)) : t < B}, and every unordered vector
    * pair meets in EXACTLY one group — (b,b) for same-block pairs, (bi,bj)
    * for mixed — where a primitive loop computes the dot products. One
    * shuffle of n·B rows; per-group state is 2n/B vectors; total pairwise
    * work is the same n²/2 flops wherever it runs. B scales the memory/
    * replication trade: at 100k×64f and B=16, a group holds ~12k vectors
    * (≈6 MB) — nothing ever sits on the driver, so the operator survives
    * any corpus that its O(n²) math does. Beyond that, exact all-pairs is
    * the wrong tool at any engine — that's SimilarityOps.annLsh.
    *
    * A naive DataFrame self-join is ~50× worse than this shape: it
    * materializes both 64-float arrays into every candidate row (~n²/2 ×
    * 1 KB of copying), dwarfing the dot-product flops.
    *
    * Numeric order matches the oracle: sequential dot fold, norm from a
    * left-to-right sum of squares, `round(…, 6)` at the end. */
  def ddEmbeddingCosine(s: SparkSession, dir: String,
      threshold: Double = 0.4, blocks: Int = 16): DataFrame =
    embeddingCosinePairs(s, dir, threshold, blocks)
      .orderBy(col("id_a"), col("id_b"))

  /** [[ddEmbeddingCosine]] without the final report sort (see
    * [[ngramJaccardPairs]]). */
  private[operators] def embeddingCosinePairs(s: SparkSession, dir: String,
      threshold: Double = 0.4, blocks: Int = 16): DataFrame =
    embeddingCosinePairsFrom(Tables.loadFan(s, dir, "embeddings", "vec_id"),
      threshold, blocks)

  /** [[embeddingCosinePairs]]' block-pair core over a caller-supplied
    * `(vec_id, embedding, …)` frame — cosine pairs carry no corpus-global
    * statistic (unlike [[ngramJaccardPairs]]' df cap), so running the scan
    * over a SUBSET of the corpus yields exactly the full-corpus pair set
    * restricted to that subset. [[ddSignalAgreement]] exploits that to
    * bound its semantic side to a deterministic sample. */
  private[operators] def embeddingCosinePairsFrom(emb: DataFrame,
      threshold: Double = 0.4, blocks: Int = 16): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val base = emb
      .select(col("vec_id"), VF.asDouble(col("embedding")).as("ve"),
        pmod(xxhash64(col("vec_id")), lit(blocks)).cast("int").as("blk"))
    val replicated = base
      .select(col("vec_id"), col("ve"), col("blk"),
        explode(sequence(lit(0), lit(blocks - 1))).as("t"))
      .select(least(col("blk"), col("t")).as("lo"),
        greatest(col("blk"), col("t")).as("hi"),
        col("blk"), col("vec_id"), col("ve"))
      .as[(Int, Int, Int, Long, Array[Double])]
    val pairs = replicated
      .groupByKey(r => (r._1, r._2))
      .flatMapGroups { (key: (Int, Int), it: Iterator[(Int, Int, Int, Long, Array[Double])]) =>
        val (lo, hi) = key
        val left = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double], Double)]
        val right = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double], Double)]
        def norm(v: Array[Double]): Double = {
          var acc = 0.0; var i = 0
          while (i < v.length) { acc += v(i) * v(i); i += 1 }
          math.sqrt(acc)
        }
        it.foreach { case (_, _, blk, id, ve) =>
          if (blk == lo) left += ((id, ve, norm(ve)))
          else right += ((id, ve, norm(ve)))
        }
        def dot(a: Array[Double], b: Array[Double]): Double = {
          var acc = 0.0; var k = 0
          while (k < a.length) { acc += a(k) * b(k); k += 1 }
          acc
        }
        // LAZY pair emission: the group's qualifying pairs stream out of
        // this iterator one at a time — per-group memory stays O(block
        // vectors) (the buffered sides above, block-bounded by design),
        // never O(qualifying pairs). The r15 skew sweep's dominant-cluster
        // corpus qualified ~3,750² pairs per mixed group (≈ 500 MB of
        // buffered tuples per in-flight task at the old eager builder) and
        // OOMed 32 concurrent tasks; a plain corpus qualifies ~6% and hid
        // the eager buffer for four rounds. Hand-rolled (not
        // flatMap-of-Iterator.single, whose per-CANDIDATE iterator
        // allocations cost the p100 quadratic twins ~1.5×): the only
        // allocation is the output tuple for a QUALIFYING pair, which the
        // row encoder needs anyway.
        // Pair canon: dot(lower-id, higher-id) so the fold order is
        // pair-canonical, independent of which block each vector hashed
        // into. Qualify down to the 6-dp HALF_UP rounding half-window: a
        // raw cosine in [thr - 5e-7, thr) rounds UP to the threshold and
        // must reach the final rounded filter (which still enforces the
        // contract) — a tighter guard here would drop pairs the oracle
        // keeps.
        val same = lo == hi
        // same-block pairs computed in the (b, b) group and ONLY there;
        // mixed groups take cross-side pairs only (a same-block pair
        // here would duplicate every (b, ·) group's work)
        val as = left
        val bs = if (same) left else right
        new scala.collection.AbstractIterator[(Long, Long, Double)] {
          private var i = 0
          private var j = if (same) 1 else 0
          private var nxt: (Long, Long, Double) = _
          private var has = false
          private def step(): Unit = {
            has = false
            while (!has && i < as.length) {
              if (j >= bs.length) {
                i += 1
                j = if (same) i + 1 else 0
              } else {
                val a = as(i); val b = bs(j); j += 1
                val (x, y) = if (a._1 < b._1) (a, b) else (b, a)
                val c = dot(x._2, y._2) / (x._3 * y._3)
                if (c >= threshold - 5e-7) { nxt = (x._1, y._1, c); has = true }
              }
            }
          }
          step()
          override def hasNext: Boolean = has
          override def next(): (Long, Long, Double) = {
            val r = nxt; step(); r
          }
        }
      }
      .toDF("id_a", "id_b", "cos_raw")
    pairs
      .select(col("id_a"), col("id_b"), round(col("cos_raw"), 6).as("cos"))
      .filter(col("cos") >= threshold)
  }

  val ddEmbeddingCosineSql: String =
    """WITH v AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
      |  FROM embeddings
      |)
      |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  ROUND(list_dot_product(a.ve, b.ve)
      |    / (sqrt(list_dot_product(a.ve, a.ve)) * sqrt(list_dot_product(b.ve, b.ve))), 6) AS cos
      |FROM v a JOIN v b ON a.vec_id < b.vec_id
      |WHERE ROUND(list_dot_product(a.ve, b.ve)
      |    / (sqrt(list_dot_product(a.ve, a.ve)) * sqrt(list_dot_product(b.ve, b.ve))), 6) >= 0.4
      |ORDER BY id_a, id_b""".stripMargin

  // ------------------------------------- cosine threshold-sweep report
  /** Near-dup threshold sweep: for each candidate cosine threshold, how
    * many pairs and how many distinct vectors the semantic-dedup pass
    * would touch — the report a pipeline owner reads to PICK the
    * [[ddEmbeddingCosine]]/[[ddSemDedup]] threshold (the SemDeDup paper's
    * dedup-fraction-vs-epsilon curve). Thresholds with zero pairs still
    * emit (the sweep's whole point is seeing where the curve dies).
    *
    * Scale: ONE block-pair scan at the loosest threshold ([[
    * embeddingCosinePairs]]'s bounded shape), consumed as a STREAM — the
    * pair graph is never persisted, exploded ×|thrs|, or distinct'd. The
    * r15 skew sweep's dominant-cluster corpus made the ≥min(thrs) pair
    * graph legitimately ~450M rows, and the previous shape (persist the
    * pairs + explode ×|thrs| + a (thr, vec) distinct) OOMed the sweep JVM
    * materializing SOMETHING THE REPORT NEVER NEEDED: the report is six
    * counts. Everything it emits comes from one pass: explode each pair
    * into its two (vec, cos) touches, aggregate per vector (|thrs|
    * conditional partner counters + max cos — map-side combined, executor
    * state ≤ n vector rows regardless of pair density), then n_pairs(t) =
    * Σ_v counters_t(v) / 2 and n_vecs(t) = |{v : max_cos(v) ≥ t}| in one
    * model-sized final agg. Zero-pair thresholds still emit (the
    * empty-input agg yields one all-null row; coalesce pins 0). */
  def ddCosThresholds(s: SparkSession, dir: String,
      thrs: Seq[Double] = Seq(0.2, 0.3, 0.4, 0.5, 0.7, 0.9)): DataFrame = {
    val pairs = embeddingCosinePairs(s, dir, threshold = thrs.min)
    val perVec = pairs
      .select(explode(array(col("id_a"), col("id_b"))).as("v"), col("cos"))
      .groupBy(col("v"))
      .agg(max(col("cos")).as("mx"),
        thrs.zipWithIndex.map { case (t, i) =>
          sum(when(col("cos") >= t, 1L).otherwise(0L)).as(s"c$i")
        }: _*)
    val aggCols = thrs.zipWithIndex.flatMap { case (t, i) =>
      Seq(sum(col(s"c$i")).as(s"p$i"),
        sum(when(col("mx") >= t, 1L).otherwise(0L)).as(s"v$i"))
    }
    val totals = perVec.agg(aggCols.head, aggCols.tail: _*)
    totals
      .select(explode(array(thrs.zipWithIndex.map { case (t, i) =>
        struct(lit(t).as("thr"),
          coalesce((col(s"p$i") / 2).cast("long"), lit(0L)).as("n_pairs"),
          coalesce(col(s"v$i"), lit(0L)).as("n_vecs"))
      }: _*)).as("r"))
      .select(col("r.thr").as("thr"), col("r.n_pairs").as("n_pairs"),
        col("r.n_vecs").as("n_vecs"))
      .orderBy(col("thr"))
      .localCheckpoint()
  }

  val ddCosThresholdsSql: String =
    """WITH v AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
      |  FROM embeddings
      |), p AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |    ROUND(list_dot_product(a.ve, b.ve)
      |      / (sqrt(list_dot_product(a.ve, a.ve))
      |         * sqrt(list_dot_product(b.ve, b.ve))), 6) AS cos
      |  FROM v a JOIN v b ON a.vec_id < b.vec_id
      |  WHERE ROUND(list_dot_product(a.ve, b.ve)
      |      / (sqrt(list_dot_product(a.ve, a.ve))
      |         * sqrt(list_dot_product(b.ve, b.ve))), 6) >= 0.2
      |), t AS (
      |  SELECT unnest([0.2, 0.3, 0.4, 0.5, 0.7, 0.9]) AS thr
      |), f AS (
      |  SELECT thr, id_a, id_b FROM t JOIN p ON cos >= thr
      |), np AS (
      |  SELECT thr, CAST(COUNT(*) AS BIGINT) AS n_pairs FROM f GROUP BY 1
      |), nv AS (
      |  SELECT thr, CAST(COUNT(DISTINCT vv) AS BIGINT) AS n_vecs FROM (
      |    SELECT thr, id_a AS vv FROM f
      |    UNION SELECT thr, id_b AS vv FROM f) GROUP BY 1
      |)
      |SELECT t.thr, CAST(COALESCE(n_pairs, 0) AS BIGINT) AS n_pairs,
      |  CAST(COALESCE(n_vecs, 0) AS BIGINT) AS n_vecs
      |FROM t LEFT JOIN np USING (thr) LEFT JOIN nv USING (thr)
      |ORDER BY thr""".stripMargin

  // ------------------------------------------- pair-evidence explanation
  /** Explainability for the near-dup verdict: for every [[ddNgramJaccard]]
    * pair, the `top` RAREST shared shingles (by corpus df, ties on text) —
    * the "show me why these two matched" report a reviewer reads before
    * trusting a dedup pass to delete documents, and the artifact an
    * appeals/debugging workflow stores next to the drop decision. Rarity-
    * first ordering surfaces the most discriminative evidence (a df=2
    * shared shingle is proof; a df=50 one is weather).
    *
    * Scale: the shingle self-join is the same df-capped bounded-bucket
    * shape as the pair detector itself; the semi-join against the pair
    * report keeps only verdict pairs, and the per-pair top-k window runs
    * on the shared-shingle frame (≤ dfCap·pairs rows). Strings survive to
    * the output only — the joins key on the shingle text here because the
    * EVIDENCE is the text; at extreme scale the join keys on the hash and
    * recovers strings for the report rows only ([[graft.operators.
    * TextQueries]] boilerplate-census discipline). */
  def ddPairEvidence(s: SparkSession, dir: String, top: Int = 3,
      dfCap: Int = GraftTuning.ShingleDfCap): DataFrame = {
    // ONE df-capped shingle universe feeds BOTH the pair detection and the
    // evidence ranking (r19: the op used to build the universe twice — its
    // own string-keyed copy plus [[ngramJaccardPairs]]' hashed copy — and
    // pay the shingle self-join twice; the oracle SQL always had the
    // single-universe shape, its `inter` and `shared` CTEs both read `sh`).
    // Plan diff: 2× (tokenize + dedup + df-window + self-join) → 1×, with
    // the shared self-join output persisted for its two consumers. String
    // shingles vs the hashed universe is collision-equivalence — the same
    // argument ngramJaccardPairs' own hs column rests on.
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val sh = docs(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(array_distinct(shingles(col("toks"), 3))).as("sh"))
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("sh"))))
      .filter(col("df") <= dfCap)
      .persist(lvl)
    val cnt = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    // eager localCheckpoint, not lazy persist (r20): `shared` feeds the
    // pair detection AND the evidence ranking — two concurrent stage
    // chains inside the one report action, which race-computed the
    // self-join twice under the lazy cache (profile: two ~1 GB-exec
    // materializations of the identical shuffle, 23.7 + 12.2 MB written)
    val shared = sh.as("a").join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.sh").as("shingle"), col("a.df").as("df"))
      .localCheckpoint()
    val pairs = shared.groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_inter"))
      .join(cnt.as("ca"), col("id_a") === col("ca.doc_id"))
      .join(cnt.as("cb"), col("id_b") === col("cb.doc_id"))
      .filter(round(col("n_inter") /
        (col("ca.n") + col("cb.n") - col("n_inter")), 6) >= 0.2)
      .select(col("id_a"), col("id_b"))
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id_a"), col("id_b"))
      .orderBy(col("df"), col("shingle"))
    val report = shared
      .join(pairs, Seq("id_a", "id_b"), "left_semi")
      .withColumn("rank", row_number().over(wp))
      .filter(col("rank") <= top)
      .select(col("id_a"), col("id_b"), col("rank"), col("shingle"), col("df"))
      .orderBy(col("id_a"), col("id_b"), col("rank"))
      .localCheckpoint()
    sh.unpersist()
    report
  }

  val ddPairEvidenceSql: String =
    raw"""WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
      |), sh0 AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(CASE WHEN len(t) >= 3
      |      THEN list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
      |      ELSE [] END) AS s
      |  FROM toks
      |), dfc AS (
      |  SELECT s, CAST(COUNT(*) AS BIGINT) AS df FROM sh0 GROUP BY 1
      |), sh AS (
      |  SELECT sh0.doc_id, sh0.s, df FROM sh0 JOIN dfc USING (s) WHERE df <= ${GraftTuning.ShingleDfCap}
      |), cnt AS (
      |  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1
      |), inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |), pairs AS (
      |  SELECT id_a, id_b FROM inter
      |  JOIN cnt ca ON id_a = ca.doc_id
      |  JOIN cnt cb ON id_b = cb.doc_id
      |  WHERE ROUND(n_inter / (ca.n + cb.n - n_inter), 6) >= 0.2
      |), shared AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.s AS shingle, a.df
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  JOIN pairs p ON a.doc_id = p.id_a AND b.doc_id = p.id_b
      |)
      |SELECT id_a, id_b,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY id_a, id_b ORDER BY df, shingle)
      |    AS BIGINT) AS rank,
      |  shingle, df
      |FROM shared
      |QUALIFY rank <= 3
      |ORDER BY id_a, id_b, rank""".stripMargin

  // ---------------------------------------------------- decontamination
  /** Benchmark decontamination: flag training documents sharing ≥ `minShared`
    * discriminative 3-gram shingles with any eval-set document (the overlap
    * check run before training so benchmark text can't leak into the
    * corpus). Eval set here = `source = 'src0'` documents; a real pipeline
    * passes the benchmark corpus as the eval side.
    *
    * Scale: the same df-capped shingle-keyed join as [[ddNgramJaccard]] —
    * one shuffle keyed by shingle hash, bucket size ≤ dfCap, pair rows
    * linear in data; the eval side is typically tiny and arrives
    * pre-shrunk at the join. */
  def ddDecontaminate(s: SparkSession, dir: String,
      minShared: Int = 3, dfCap: Int = GraftTuning.ShingleDfCap): DataFrame = {
    // the shingle subtree feeds BOTH join sides — persist it once, same as
    // ngramJaccardPairs, so the window df-count doesn't evaluate twice
    val sh = discriminativeShingles(docs(s, dir), dfCap, carry = Seq("source"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val eval_ = sh.filter(col("source") === "src0")
      .select(col("doc_id").as("eval_doc"), col("hs"))
    val train = sh.filter(col("source") =!= "src0")
      .select(col("doc_id").as("train_doc"), col("hs"))
    // the report is tiny (flagged pairs) — materialize it so the cached
    // shingle subtree can be released now rather than at clearCache/session
    // end (ddSemDedup/embKmeans discipline)
    val report = train.join(eval_, Seq("hs"))
      .groupBy(col("train_doc"), col("eval_doc"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy(col("train_doc"), col("eval_doc"))
      .localCheckpoint()
    sh.unpersist()
    report
  }

  val ddDecontaminateSql: String =
    raw"""WITH toks AS (
      |  SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS t
      |  FROM documents
      |), sh0 AS (
      |  SELECT DISTINCT doc_id, source,
      |    unnest(CASE WHEN len(t) >= 3
      |      THEN list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
      |      ELSE [] END) AS s
      |  FROM toks
      |), rare AS (
      |  SELECT s FROM sh0 GROUP BY s HAVING COUNT(*) <= ${GraftTuning.ShingleDfCap}
      |), sh AS (
      |  SELECT sh0.* FROM sh0 JOIN rare USING (s)
      |)
      |SELECT t.doc_id AS train_doc, e.doc_id AS eval_doc,
      |  CAST(COUNT(*) AS BIGINT) AS n_shared
      |FROM sh t JOIN sh e ON t.s = e.s
      |WHERE t.source <> 'src0' AND e.source = 'src0'
      |GROUP BY 1, 2 HAVING COUNT(*) >= 3
      |ORDER BY train_doc, eval_doc""".stripMargin

  // ---------------------------------------- per-doc contamination fraction
  /** Graded decontamination: for every train document, the FRACTION of its
    * discriminative (df ≤ dfCap) shingles that also appear anywhere in the
    * eval suite (source `src0`) — the score behind threshold policies like
    * "drop at ≥ 80 % overlap, flag at ≥ 20 %" (GPT-3 appendix C /
    * PaLM-style n-gram contamination analysis), where [[ddDecontaminate]]
    * only gives the binary pair verdict. Emits every train doc:
    * (doc_id, n_grams, n_contam, contam_frac); docs too short to shingle
    * (< 3 tokens) or with no discriminative shingles report 0/0 → 0.0.
    *
    * Scale: the eval suite is FIXED-SIZE state (it does not grow with the
    * corpus), so its distinct shingle set is explicitly broadcast and the
    * probe is a map-side hash lookup — the train side is never shuffled
    * at all beyond the df-cap window; per-doc counts are map-combined. */
  def ddContamFraction(s: SparkSession, dir: String,
      dfCap: Int = GraftTuning.ShingleDfCap): DataFrame = {
    val sh = discriminativeShingles(docs(s, dir), dfCap, carry = Seq("source"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val evalG = sh.filter(col("source") === "src0").select(col("hs")).distinct()
    val counts = sh.filter(col("source") =!= "src0")
      .join(broadcast(evalG.withColumn("hit", lit(1))), Seq("hs"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("hit").isNotNull, 1L).otherwise(0L)).as("n_contam"))
    val out = docs(s, dir).filter(col("source") =!= "src0").select(col("doc_id"))
      .join(counts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_contam"), lit(0L)).as("n_contam"))
      .select(col("doc_id"), col("n_grams"), col("n_contam"),
        (round(when(col("n_grams") > 0,
          col("n_contam").cast("double") / col("n_grams").cast("double"))
          .otherwise(lit(0.0)), 6) + 0.0).as("contam_frac"))
      .orderBy(col("doc_id"))
      .localCheckpoint()
    sh.unpersist()
    out
  }

  // ------------------------------------------------ eval-exposure report
  /** Benchmark-integrity view of decontamination — the same flagged pairs
    * as [[ddDecontaminate]], regrouped by EVAL doc: for each benchmark
    * item, how many training documents overlap it and how deeply. A
    * benchmark item with high exposure is compromised no matter what the
    * training side later drops — this is the report an eval owner reads
    * (the training-side dual is [[ddContamFraction]]). Emits
    * (eval_doc, n_train_matches, max_shared, total_shared).
    *
    * Scale: inherits the df-capped shingle join; the regroup is keyed by
    * eval doc — eval-suite-sized, i.e. model-sized. */
  def ddEvalExposure(s: SparkSession, dir: String): DataFrame =
    ddDecontaminate(s, dir)
      .groupBy(col("eval_doc"))
      .agg(count(lit(1)).as("n_train_matches"),
        max(col("n_shared")).as("max_shared"),
        sum(col("n_shared")).as("total_shared"))
      .orderBy(col("eval_doc"))

  val ddEvalExposureSql: String =
    raw"""WITH toks AS (
      |  SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS t
      |  FROM documents
      |), sh0 AS (
      |  SELECT DISTINCT doc_id, source,
      |    unnest(CASE WHEN len(t) >= 3
      |      THEN list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
      |      ELSE [] END) AS s
      |  FROM toks
      |), rare AS (
      |  SELECT s FROM sh0 GROUP BY s HAVING COUNT(*) <= ${GraftTuning.ShingleDfCap}
      |), sh AS (
      |  SELECT sh0.* FROM sh0 JOIN rare USING (s)
      |), pairs AS (
      |  SELECT t.doc_id AS train_doc, e.doc_id AS eval_doc,
      |    CAST(COUNT(*) AS BIGINT) AS n_shared
      |  FROM sh t JOIN sh e ON t.s = e.s
      |  WHERE t.source <> 'src0' AND e.source = 'src0'
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 3
      |)
      |SELECT eval_doc, CAST(COUNT(*) AS BIGINT) AS n_train_matches,
      |  CAST(MAX(n_shared) AS BIGINT) AS max_shared,
      |  CAST(SUM(n_shared) AS BIGINT) AS total_shared
      |FROM pairs GROUP BY eval_doc ORDER BY eval_doc""".stripMargin

  /** The two static relations [[graft.streaming.StreamOps.streamingContamFraction]]
    * probes: the df-capped discriminative universe and the eval suite's
    * shingle set — corpus model state, rebuilt offline at batch cadence. */
  private[graft] def contamStatics(s: SparkSession, dir: String,
      dfCap: Int = GraftTuning.ShingleDfCap): (DataFrame, DataFrame) = {
    val sh = discriminativeShingles(docs(s, dir), dfCap, carry = Seq("source"))
    (sh.select(col("hs")).distinct(),
      sh.filter(col("source") === "src0").select(col("hs")).distinct())
  }

  val ddContamFractionSql: String =
    raw"""WITH toks AS (
      |  SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS t
      |  FROM documents
      |), sh0 AS (
      |  SELECT DISTINCT doc_id, source,
      |    unnest(CASE WHEN len(t) >= 3
      |      THEN list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
      |      ELSE [] END) AS s
      |  FROM toks
      |), rare AS (
      |  SELECT s FROM sh0 GROUP BY s HAVING COUNT(*) <= ${GraftTuning.ShingleDfCap}
      |), sh AS (
      |  SELECT sh0.* FROM sh0 JOIN rare USING (s)
      |), evalg AS (
      |  SELECT DISTINCT s FROM sh WHERE source = 'src0'
      |), counts AS (
      |  SELECT sh.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
      |    CAST(SUM(CASE WHEN e.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contam
      |  FROM sh LEFT JOIN evalg e ON sh.s = e.s
      |  WHERE sh.source <> 'src0' GROUP BY sh.doc_id
      |)
      |SELECT d.doc_id,
      |  CAST(COALESCE(n_grams, 0) AS BIGINT) AS n_grams,
      |  CAST(COALESCE(n_contam, 0) AS BIGINT) AS n_contam,
      |  ROUND(CASE WHEN COALESCE(n_grams, 0) > 0
      |    THEN CAST(n_contam AS DOUBLE) / CAST(n_grams AS DOUBLE)
      |    ELSE 0.0 END, 6) + 0.0 AS contam_frac
      |FROM documents d LEFT JOIN counts ON d.doc_id = counts.doc_id
      |WHERE d.source <> 'src0' ORDER BY d.doc_id""".stripMargin

  // ------------------------------------------------- semantic dedup groups
  /** SemDeDup-shaped semantic deduplication: connected components over the
    * embedding-cosine near-dup pair graph (cos ≥ threshold), electing the
    * min vec_id per component as the canonical survivor. Same contract as
    * [[ddDedupGroups]] but on SEMANTIC similarity — the dedup axis lexical
    * fingerprints can't see (paraphrases, re-encodings).
    *
    * Scale: pair detection is the block-pair join of [[ddEmbeddingCosine]]
    * (at real corpus sizes swap in the annLsh candidate generator — same
    * downstream); components cost O(|pairs|) labels over clique-heavy
    * graphs, 1-2 keyed-shuffle rounds (see [[connectedComponents]]). */
  def ddSemDedup(s: SparkSession, dir: String): DataFrame =
    semDedupGroupsFrom(s, dir,
      embeddingCosinePairs(s, dir).select(col("id_a"), col("id_b")))

  /** Shared group-election tail for [[ddSemDedup]] and [[ddSemDedupAnn]]:
    * CC over a verified cosine pair frame + singleton union + canonical
    * flag — one implementation, so the exact and ANN-candidate paths can
    * only differ in HOW pairs were found, never in what a group means. */
  private def semDedupGroupsFrom(s: SparkSession, dir: String,
      cosPairs: DataFrame): DataFrame = {
    // localCheckpoint, NOT lazy persist (r19, the ddSemDedupAnn r14 lesson
    // applied here too): `edges` reads `pairs` on BOTH union branches in
    // one job, and a lazy cache let the first CC action run the whole
    // block-pair cosine scan about twice before the cache filled. The
    // checkpointed frame is near-dup-pair-sized; `edges` itself is then a
    // cheap union projection over it, so it needs NO materialization of
    // its own — CC's per-round reads re-derive it from the checkpoint
    // (one job and one cache eviction fewer than the old persist(edges)).
    val pairs = cosPairs.localCheckpoint()
    val edges = pairs.union(pairs.select(col("id_b"), col("id_a")))
      .toDF("src", "dst")
    val labels = connectedComponents(edges)
    // labels is localCheckpoint'd — anti-joining IT (its keys are exactly
    // the edge endpoints) keeps the singleton branch off the pair-detection
    // lineage entirely
    val singletons = Tables.load(s, dir, "embeddings").select(col("vec_id"))
      .join(labels.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_anti")
      .withColumn("label", col("vec_id"))
    val out = labels.select(col("doc_id").as("vec_id"), col("label"))
      .union(singletons)
      .select(col("vec_id"), col("label").as("group_rep"),
        (col("vec_id") === col("label")).as("is_canonical"))
      .orderBy(col("vec_id"))
    out
  }

  /** [[ddSemDedup]] on ANN candidates — the 100-TB path made real instead
    * of documented: pair detection is SRP-LSH bucketing rather than the
    * exact all-pairs block join, with every candidate exactly re-verified,
    * then the same CC group election.
    *
    * Candidate generation: each vector gets a `bits`-bit sign-random-
    * projection code per table; one side explodes to its code's full
    * Hamming-≤2 probe orbit (1 + bits + C(bits,2) masks), so a pair meets
    * whenever its two codes agree within 2 bits in ANY table. At cos 0.4
    * (per-bit agreement p = 1 − arccos(0.4)/π ≈ 0.63) a table catches a
    * pair with P(ham ≤ 2 of 6) ≈ 0.61, so 8 independent tables miss with
    * (0.39)^8 ≈ 6e-4 — and recall only improves for the higher-cosine
    * pairs dedup actually targets. On the driver corpus recall is COMPLETE
    * (asserted by the oracle: same recursive-CTE as dd_semdedup, i.e. the
    * exact pair graph), the dd_minhash_lsh certification pattern.
    *
    * Scale — stated honestly: code assignment is map-side (native
    * codegen'd [[SrpCode]]) and the candidate join shuffles on
    * (table, code) with bucket size n/2^bits, so candidate work is
    * O(n² · tables · probes / 2^bits). `bits` is the scale dial: at fixed
    * width this is still quadratic, so the rule below grows bits until
    * probes(bits) · n/2^bits ≤ 512 — the PROBE-ADJUSTED budget, bounding
    * total candidates at ≤ 512 · tables · n by construction — which HOLDS
    * recall at dedup-grade thresholds (cos ≥ 0.8 ⇒ per-bit agreement
    * ≥ 0.86, so P(ham ≤ 2) stays high as bits grow) while recall at the
    * weak end (cos ~0.4) decays with bits — the honest LSH trade; the
    * exact re-verify keeps precision perfect either way. The 0.4
    * threshold here is anchored to the
    * synthetic corpus's oracle; at that weak similarity the 6-bit/8-table
    * setting is the recall-complete point, and at toy scale (n ≤ ~10⁵)
    * the exact block join is simply FASTER (n²/2 primitive dots in-core
    * beat a multi-probe candidate shuffle — measured 4.5 s exact vs 8.3 s
    * ANN at n = 5000). This path exists for the corpora where n² cannot
    * run at all; there, each corpus-sized shuffle replaces an impossible
    * all-pairs pass. */
  def ddSemDedupAnn(s: SparkSession, dir: String): DataFrame = {
    // Exact-dup CONTRACTION before the ANN layer (the pipe_dedup_cascade
    // ordering, made structural): byte-identical embeddings satisfy ANY
    // cosine threshold, so clones collapse to their min-vec_id
    // representative first and the SRP buckets hold DISTINCT vectors
    // only. Without this, duplicate multiplicity densifies buckets
    // quadratically — the 100× ScaleSmoke corpus (100 clones/vector)
    // filled 78 GB of candidate shuffle and died; with it, bucket
    // occupancy is bounded by DISTINCT-vector density, which is what the
    // bits rule below sizes against. The contraction is EXACT: clone
    // pairs are cos=1 true dups, and distinct-pair cosines are untouched.
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // degenerate vectors (zero / NaN / infinite norm) have NaN cosine with
    // EVERYTHING — the exact path and the oracle leave them singletons, so
    // they must not collapse with byte-identical twins nor enter the ANN
    // layer. NB Spark orders NaN above every double, so `nrm > 0` alone
    // would pass NaN — the finite upper bound closes that.
    val emb = Tables.loadFan(s, dir, "embeddings", "vec_id")
      .select(col("vec_id"), col("embedding"))
      .withColumn("__ok", finiteNormGuard(col("embedding")))
    val repOf = emb.filter(col("__ok"))
      .groupBy(col("embedding")).agg(min(col("vec_id")).as("rep"))
      .persist(lvl)
    val vecToRep = emb.join(repOf, Seq("embedding"), "left")
      .select(col("vec_id"),
        coalesce(when(col("__ok"), col("rep")), col("vec_id")).as("rep"))
      .localCheckpoint()
    // the scaladoc's sizing rule, in code — against the PROBE-ADJUSTED
    // candidate budget, not raw bucket density: every vector probes its
    // code's Hamming-≤2 orbit (1 + bits + C(bits,2) masks), so per-vector
    // candidate work per table is probes(bits) · n_distinct/2^bits. The
    // r11 form (density ≤ 512 alone) let that product grow ~bits²/2-fold
    // as bits rose — invisible on clone corpora where the contraction
    // holds n_distinct constant, but the r12 perturb rung (every clone a
    // DISTINCT vector) OOMed at 30×/60k distinct on ~6.5e9 candidate
    // rows (bits=7 → 29 probes × 469/bucket ≈ 13.6k candidates per
    // vector PER TABLE — each vector was scanning ~6% of the corpus, a
    // mini brute-force). Growing bits until probes(bits)·density ≤ 512
    // bounds TOTAL candidate rows at ≤ 512·tables·n by construction —
    // the same n·cap discipline as the blocked exact scan — at the
    // documented price that recall at weak thresholds (cos ~0.4) decays
    // with bits while dedup-grade pairs (cos ≥ 0.8, per-bit agreement
    // ≥ 0.86) keep high orbit-hit probability. Gate corpora (≤500
    // distinct: 22·500/64 = 172 ≤ 512) stay at the recall-complete
    // 6-bit setting, so the oracle is unchanged.
    val nDistinct = repOf.count()
    val bits = annBitsFor(nDistinct)
    val repBase = repOf
      .select(col("rep").as("vec_id"), VF.asDouble(col("embedding")).as("ve"))
      .select(col("vec_id"), col("ve"),
        sqrt(VF.dot(col("ve"), col("ve"))).as("nrm"))
      .localCheckpoint()
    repOf.unpersist()
    // localCheckpoint, NOT lazy persist: `edges` reads `pairs` on BOTH
    // union branches in one job, and a lazy cache lets that first job
    // compute the whole candidate+verify pipeline twice before any
    // partition lands in the cache — a cost only COLD runs paid (warm
    // reruns found the cache hot), which is why it hid from min-of-2
    // rungs for three rounds: eager materialization cut the p30
    // once-mode wall 93.3 -> 71.4 s in isolation (46.6 s combined with
    // the one-pass verify restructure above) and left warm unchanged
    // (BASELINE.md r14). The frame is verified-pair-sized (1.26M rows
    // at p30), checkpoint-cheap.
    val pairs = annCandidatePairsFrom(repBase, threshold = 0.4,
        bits = bits, tables = 8, nRows = nDistinct)
      .select(col("id_a"), col("id_b")).localCheckpoint()
    // edges is a cheap union projection over the CHECKPOINTED pairs — its
    // own checkpoint bought nothing but one more materialization job
    // (removed r19); CC re-derives it per read from the checkpoint.
    val edges = pairs.union(pairs.select(col("id_b"), col("id_a")))
      .toDF("src", "dst")
    val labels = connectedComponents(edges)
    // rep → component label (rep IS its clone-group's min vec_id and CC
    // labels by min rep, so the label is the GLOBAL min vec_id of the
    // expanded group); singleton reps label themselves
    val repLabel = repBase.select(col("vec_id").as("rep"))
      .join(labels.select(col("doc_id").as("rep"), col("label")),
        Seq("rep"), "left")
      .select(col("rep"), coalesce(col("label"), col("rep")).as("label"))
    // left + coalesce: degenerate self-reps are absent from repLabel (they
    // never enter the ANN layer) and must still emit as singletons
    val out = vecToRep.join(repLabel, Seq("rep"), "left")
      .select(col("vec_id"), coalesce(col("label"), col("rep")).as("group_rep"),
        (col("vec_id") === coalesce(col("label"), col("rep"))).as("is_canonical"))
      .orderBy(col("vec_id"))
      .localCheckpoint()
    out
  }

  /** SRP-LSH candidate pairs at cos ≥ threshold, exactly re-verified —
    * same output contract as [[embeddingCosinePairs]] minus LSH false
    * negatives (none on this corpus; see [[ddSemDedupAnn]]). */
  private[graft] def annCosinePairs(s: SparkSession, dir: String,
      threshold: Double = 0.4, bits: Int = 6, tables: Int = 8): DataFrame = {
    // materialize the shared subtrees ONCE: `base` (the normalized
    // corpus) is read by the code assignment AND both sides of the exact
    // re-verify join — three scans of the same decode+normalize work —
    // and `coded` sits on BOTH sides of the bucket join (probe + direct),
    // which would run the tables×srpCode explode twice. The pqRecallCheck
    // shared-subtree discipline; both frames are compact (corpus ×
    // (d doubles + 1) and corpus × tables × 3 ints).
    val base = Tables.loadFan(s, dir, "embeddings", "vec_id")
      .select(col("vec_id"), VF.asDouble(col("embedding")).as("ve"))
      .select(col("vec_id"), col("ve"),
        sqrt(VF.dot(col("ve"), col("ve"))).as("nrm"))
      .localCheckpoint()
    annCandidatePairsFrom(base, threshold, bits, tables)
  }

  /** Degenerate-vector guard shared by [[ddSemDedupAnn]] and the probe
    * tooling: true iff the embedding's norm is finite and positive. NaN
    * sorts above every double in Spark, so `nrm > 0` alone would pass
    * NaN — the finite upper bound closes that. */
  private[graft] def finiteNormGuard(embedding: Column): Column = {
    val nrm = VF.norm(VF.asDouble(embedding))
    nrm > 0.0 && nrm < lit(Double.PositiveInfinity)
  }

  /** Size of the Hamming-≤2 multi-probe orbit at `b` code bits:
    * 1 + b + C(b,2) masks. */
  private[graft] def probeOrbit(b: Int): Long = 1L + b + b.toLong * (b - 1) / 2

  /** [[ddSemDedupAnn]]'s bits rule, callable by probe tooling so
    * measurements attribute to the operator's ACTUAL configuration: grow
    * bits from the recall-complete 6 until the probe-adjusted per-vector
    * candidate budget probes(bits) · nDistinct / 2^bits drops to
    * `budget`, bounding total candidate rows at ≤ budget·tables·n. */
  private[graft] def annBitsFor(nDistinct: Long, budget: Double = GraftTuning.AnnCandidateBudget): Int = {
    var bits = 6
    while (bits < 24 &&
        probeOrbit(bits) * nDistinct.toDouble / (1L << bits) > budget)
      bits += 1
    bits
  }

  /** RAW (pre-distinct) SRP multi-probe candidate pairs over a prepared
    * (vec_id, ve, nrm) frame — the candidate-generation stage of
    * [[annCandidatePairsFrom]], exposed so probe tooling times the
    * operator's real stages instead of hand-copied clones of them.
    * `base` must be materialized by the caller. */
  private[graft] def annRawCandidates(base: DataFrame, bits: Int,
      tables: Int): DataFrame = {
    val tableCodes = (0 until tables).map(t =>
      struct(lit(t).as("tab"), VF.srpCode(col("ve"), bits, t).as("code")))
    val coded = base
      .select(col("vec_id"), explode(array(tableCodes: _*)).as("tc"))
      .select(col("vec_id"), col("tc.tab").as("tab"), col("tc.code").as("code"))
      .localCheckpoint()
    val probeMasks: Seq[Long] = 0L +:
      (0 until bits).map(b => 1L << b) ++:
      (for { i <- 0 until bits; j <- i + 1 until bits } yield (1L << i) | (1L << j))
    val probed = coded.select(col("vec_id").as("id_a"), col("tab").as("ptab"),
      explode(array(probeMasks.map(m =>
        col("code").bitwiseXOR(lit(m))): _*)).as("pcode"))
    probed.join(coded,
        col("ptab") === col("tab") && col("pcode") === col("code") &&
          col("id_a") < col("vec_id"))
      .select(col("id_a"), col("vec_id").as("id_b"))
  }

  /** [[annCosinePairs]]' candidate+verify core over a prepared
    * (vec_id, ve, nrm) frame — shared with [[ddSemDedupAnn]]'s
    * distinct-representative path. `base` must be materialized by the
    * caller (it sits on three sides of the plan). */
  private[graft] def annCandidatePairsFrom(base: DataFrame, threshold: Double,
      bits: Int, tables: Int,
      joinVerifyMax: Long = GraftTuning.VerifyJoinMaxCandidates,
      nRows: Long = -1L): DataFrame = {
    val candsLazy = annRawCandidates(base, bits, tables).distinct()
    // Adaptive verify-strategy switch, decided BEFORE the candidate frame
    // materializes. FIRST tier (r14): if the whole vector table fits a
    // broadcast — decided from base alone, which the caller materialized —
    // both verify joins become map-side hash lookups, the candidate rows
    // never shuffle with arrays attached, and verify consumes the
    // candidate stream EXACTLY ONCE, so the candidates flow raw→distinct→
    // verify in one continuous plan with no checkpoint. Materializing
    // them anyway was the r14 annop probe's second finding: the 498M-row
    // distinct().localCheckpoint() at perturb-100× cost ~8 GB of
    // checkpoint write + a spill-pressured re-read that the one-pass
    // verify never needed — candidates+verify 182 s in-op against ~54 s
    // for the same stages isolated; removing it (p100 once-wall
    // 354 → 166 s, p30 93 → 47 s with the eager-pairs fix below) closed
    // the gap. The r14 probe also showed the r13
    // "4M candidate crossover" was really measuring broadcastability:
    // the p10 join win (1.8 s at 33M candidates) was Spark AUTO-
    // broadcasting the ≤10MB base, and the p30 cliff (122.9 s at 118M)
    // was the same join once the 30MB base fell back to shuffles —
    // explicit hint, measured: 6.3 s vs blocked's 22.7 s at p30, 26.7 s
    // vs 119.0 s at p100 (BASELINE.md r14 "verify crossover").
    //
    // Vector tables past the broadcast budget (high-dim or multi-million
    // distinct vectors) fall to the r13 pair: materialize + count the
    // candidates once, then the measured candidate-count crossover picks
    // shuffled-join (≤ joinVerifyMax) or the blocked group verify. All
    // paths share the numeric contract (sequential left-to-right dot
    // fold, caller norms, round(·,6) before the threshold filter) —
    // pinned equal pair-for-pair and value-for-value by the spec.
    val dim = base.select(size(col("ve"))).take(1)
      .headOption.map(_.getInt(0)).getOrElse(0)
    // callers that already counted the (materialized) base pass nRows in —
    // one fewer count action per invocation (r19)
    val nBase = if (nRows >= 0) nRows else base.count()
    if (nBase * dim <= GraftTuning.BroadcastVerifyMaxDoubles)
      verifyCandidatesJoin(base, candsLazy, threshold, hintBroadcast = true)
    else {
      val cands = candsLazy.localCheckpoint()
      if (cands.count() <= joinVerifyMax)
        verifyCandidatesJoin(base, cands, threshold)
      else verifyCandidatesBlocked(base, cands, threshold)
    }
  }

  /** Exact cosine verification by attaching vectors to candidate rows
    * with two equi-joins — the toy/moderate-candidate path of the
    * adaptive switch in [[annCandidatePairsFrom]]. Cheapest shape while
    * the candidate frame is small (broadcast-or-shuffle joins, fully
    * codegen'd, no corpus replication); its cost is the array-laden
    * shuffle the SECOND join performs, linear in candidates — the
    * measured 114 s cliff at 118M rows that [[verifyCandidatesBlocked]]
    * retires above the crossover. */
  private[graft] def verifyCandidatesJoin(base: DataFrame, cands: DataFrame,
      threshold: Double, hintBroadcast: Boolean = false): DataFrame = {
    // with the hint, BOTH joins are broadcast-hash: the candidate frame
    // streams through two map-side lookups and the array-laden shuffle
    // (the 114-123 s cliff) never exists — the r14 probe measured this
    // at 118M candidates: 6.3 s vs 122.9 s shuffled-join / 22.7 s blocked
    def side(df: DataFrame) = if (hintBroadcast) broadcast(df) else df
    cands
      .join(side(base.select(col("vec_id").as("id_a"), col("ve").as("va"),
        col("nrm").as("na"))), Seq("id_a"))
      .join(side(base.select(col("vec_id").as("id_b"), col("ve").as("vb"),
        col("nrm").as("nb"))), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(VF.dot(col("va"), col("vb")) / (col("na") * col("nb")), 6)
          .as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Exact cosine verification of a candidate pair frame WITHOUT
    * attaching vectors to candidate rows. The r12 perturb-30× probe
    * isolated the old two-join verify at 114 s of a 181 s wall: joining
    * (id_a, id_b) candidates to the vector table attaches a 64-double
    * array to every candidate row, and the SECOND join then shuffles
    * that array-laden frame — ~60 GB of shuffle for 118M candidates of
    * which 1.3M verify. This shape is [[embeddingCosinePairs]]' block
    * replication applied to verification: vectors replicate to
    * 2·`blocks` (lo, hi) groups (≤ n·2B small rows), candidates route to
    * the single group (blk(id_a), blk(id_b)) as bare id pairs, and a
    * per-group primitive loop does hash-map lookups + dots — the arrays
    * never ride a candidate row. Group sort (tag) streams candidates
    * AFTER the group's vector maps are built, so per-group state is
    * 2n/B vectors, never the candidate list. Numeric contract identical
    * to the join form: sequential dot fold, caller-supplied norms,
    * round(·, 6) at the SQL layer. B dials memory vs replication exactly
    * as in the exact scan's scaladoc. */
  private[graft] def verifyCandidatesBlocked(base: DataFrame, cands: DataFrame,
      threshold: Double, blocks: Int = 16): DataFrame = {
    val s = base.sparkSession
    import s.implicits._
    val withBlk = base.select(col("vec_id"), col("ve"), col("nrm"),
      pmod(xxhash64(col("vec_id")), lit(blocks)).cast("int").as("blk"))
    val aRep = withBlk.select(col("blk").as("lo"),
      explode(sequence(lit(0), lit(blocks - 1))).as("hi"), lit(0).as("tag"),
      col("vec_id").as("id_a"), lit(0L).as("id_b"), col("ve"), col("nrm"))
    val bRep = withBlk.select(
      explode(sequence(lit(0), lit(blocks - 1))).as("lo"),
      col("blk").as("hi"), lit(1).as("tag"),
      col("vec_id").as("id_a"), lit(0L).as("id_b"), col("ve"), col("nrm"))
    val candT = cands.select(
      pmod(xxhash64(col("id_a")), lit(blocks)).cast("int").as("lo"),
      pmod(xxhash64(col("id_b")), lit(blocks)).cast("int").as("hi"),
      lit(2).as("tag"), col("id_a"), col("id_b"),
      lit(null).cast("array<double>").as("ve"), lit(0.0).as("nrm"))
    val tagged = aRep.unionByName(bRep).unionByName(candT)
      .as[(Int, Int, Int, Long, Long, Array[Double], Double)]
    val raw = tagged
      .groupByKey(r => (r._1, r._2))
      .flatMapSortedGroups(col("tag")) {
        (_: (Int, Int), it: Iterator[(Int, Int, Int, Long, Long, Array[Double], Double)]) =>
          val mapA = new java.util.HashMap[Long, (Array[Double], Double)]()
          val mapB = new java.util.HashMap[Long, (Array[Double], Double)]()
          var rest: Iterator[(Int, Int, Int, Long, Long, Array[Double], Double)] = Iterator.empty
          var building = true
          while (building && it.hasNext) {
            val r = it.next()
            r._3 match {
              case 0 => mapA.put(r._4, (r._6, r._7))
              case 1 => mapB.put(r._4, (r._6, r._7))
              case _ => rest = Iterator.single(r) ++ it; building = false
            }
          }
          rest.map { r =>
            val a = mapA.get(r._4)
            val b = mapB.get(r._5)
            // candidates reference base ids by construction, so a miss
            // can only mean the vector and candidate routing have
            // desynchronized (diverged `blocks` or hash expression) —
            // fail the job rather than silently emitting an incomplete
            // pair set a spec corpus would never notice
            if (a == null || b == null)
              throw new IllegalStateException(
                s"verifyCandidatesBlocked: candidate (${r._4},${r._5}) " +
                  s"missed the group's vector map (a=${a == null}, " +
                  s"b=${b == null}) — block routing desynchronized")
            val (va, na) = a
            val (vb, nb) = b
            var acc = 0.0; var i = 0
            while (i < va.length) { acc += va(i) * vb(i); i += 1 }
            (r._4, r._5, acc / (na * nb))
          }
      }
      .toDF("id_a", "id_b", "cos_raw")
    raw
      .select(col("id_a"), col("id_b"), round(col("cos_raw"), 6).as("cos"))
      .filter(col("cos") >= threshold)
  }

  val ddSemDedupSql: String =
    """WITH RECURSIVE v AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
      |  FROM embeddings
      |), pairs AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
      |  FROM v a JOIN v b ON a.vec_id < b.vec_id
      |  WHERE ROUND(list_dot_product(a.ve, b.ve)
      |      / (sqrt(list_dot_product(a.ve, a.ve)) * sqrt(list_dot_product(b.ve, b.ve))), 6)
      |    >= 0.4
      |), edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM pairs
      |  UNION ALL SELECT id_b, id_a FROM pairs
      |), reach AS (
      |  SELECT vec_id AS node, vec_id AS root FROM embeddings
      |  UNION
      |  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node
      |)
      |SELECT node AS vec_id, MIN(root) AS group_rep,
      |  (node = MIN(root)) AS is_canonical
      |FROM reach GROUP BY node ORDER BY vec_id""".stripMargin

  // -------------------------------------------------- near-dup clustering
  /** Connected components over the verified near-dup pair graph, electing
    * the min doc_id of each component as the canonical survivor — the step
    * a real dedup pipeline runs AFTER pair detection (drop every
    * non-canonical doc).
    *
    * Near-dup components are tiny and shallow (they're clusters of copies,
    * not arbitrary graphs), so label propagation settles in 2–4 rounds of
    * keyed shuffles at any corpus size — and the pointer-jumping step
    * inside [[connectedComponents]] bounds even adversarially deep chains
    * at O(log diameter) rounds. */
  def ddDedupGroups(s: SparkSession, dir: String): DataFrame =
    dedupLabels(s, dir)
      .select(col("doc_id"), col("group_rep"),
        (col("doc_id") === col("group_rep")).as("is_canonical"))
      .orderBy(col("doc_id"))

  /** [[ddDedupGroups]]' label table without the report sort — shared with
    * [[ddCanonical]], which destroys ordering in its own grouping. */
  // ----------------------------------------- group-aware (leak-proof) split
  /** Leakage-proof dataset split: every document routes to
    * train/val/test by the md5 bucket of its near-dup COMPONENT
    * representative, not its own id — so a duplicate group can never
    * straddle splits BY CONSTRUCTION. This is the fix for what
    * [[graft.operators.CurationOps.dsSplitLeakage]] measures: that audit
    * quantifies cross-split near-dup pairs under the naive per-doc
    * split; this operator makes the count structurally zero for detected
    * components (pairs below the detector threshold remain the audit's
    * residual). Bucket mapping is byte-identical to
    * CurationOps.splitCol (first md5 hex char: <c train, <e val, else
    * test) so group-split and per-doc split distributions are
    * comparable. Emits (doc_id, group_rep, split).
    *
    * Scale: pays the [[ddDedupGroups]] component subtree; the split
    * assignment itself is one map-side expression. */
  def dsGroupSplit(s: SparkSession, dir: String): DataFrame = {
    val bucket = substring(md5(col("group_rep").cast("string").cast("binary")), 1, 1)
    dedupLabels(s, dir)
      .select(col("doc_id"), col("group_rep"),
        when(bucket < "c", "train").when(bucket < "e", "val")
          .otherwise("test").as("split"))
      .orderBy(col("doc_id"))
  }

  val dsGroupSplitSql: String =
    raw"""WITH RECURSIVE toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
      |), sh0 AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(CASE WHEN len(t) >= 3
      |      THEN list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
      |      ELSE [] END) AS s
      |  FROM toks
      |), rare AS (
      |  SELECT s FROM sh0 GROUP BY s HAVING COUNT(*) <= ${GraftTuning.ShingleDfCap}
      |), sh AS (
      |  SELECT sh0.* FROM sh0 JOIN rare USING (s)
      |), cnt AS (
      |  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
      |), inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2
      |), pairs AS (
      |  SELECT id_a, id_b FROM inter
      |  JOIN cnt ca ON id_a = ca.doc_id JOIN cnt cb ON id_b = cb.doc_id
      |  WHERE ROUND(n_inter / (ca.n + cb.n - n_inter), 6) >= 0.2
      |), edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM pairs
      |  UNION ALL SELECT id_b, id_a FROM pairs
      |), reach AS (
      |  SELECT doc_id AS node, doc_id AS root FROM documents
      |  UNION
      |  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node
      |), labs AS (
      |  SELECT node AS doc_id, MIN(root) AS group_rep FROM reach GROUP BY node
      |)
      |SELECT doc_id, group_rep,
      |  CASE WHEN substring(md5(CAST(group_rep AS VARCHAR)), 1, 1) < 'c'
      |    THEN 'train'
      |    WHEN substring(md5(CAST(group_rep AS VARCHAR)), 1, 1) < 'e'
      |    THEN 'val' ELSE 'test' END AS split
      |FROM labs ORDER BY doc_id""".stripMargin

  private def dedupLabels(s: SparkSession, dir: String): DataFrame = {
    // ngramJaccardPairs returns a checkpointed pair set, so the union's two
    // branches re-read materialized blocks, not the jaccard pipeline; the
    // CC loop then checkpoints every round — nothing further to persist
    val pairs = ngramJaccardPairs(s, dir).select(col("id_a"), col("id_b"))
    val edges = pairs.union(pairs.select(col("id_b"), col("id_a")))
      .toDF("src", "dst")
    val labels = connectedComponents(edges)
    val singletons = docs(s, dir).select(col("doc_id"))
      .join(labels.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .withColumn("label", col("doc_id"))
    labels.union(singletons)
      .select(col("doc_id"), col("label").as("group_rep"))
  }

  // --------------------------------------- quality-aware canonical election
  /** The keep decision a dedup pipeline actually ships: per near-dup
    * component, elect the member to KEEP by content quality — here the
    * longest-member heuristic (max n_chars, doc_id tiebreak), replacing
    * [[ddDedupGroups]]' neutral min-id convention; near-identical copies
    * routinely differ by truncation, and electing the longest keeps the
    * most complete one. Output is group-grained: representative label,
    * member count, elected canonical and its size — joined back against
    * the corpus it yields the keep/drop set directly.
    *
    * Scale: the label table is O(pair graph) + singletons; the election
    * window partitions on group_rep — component-sized partitions (clusters
    * of copies, never corpus-scale), and WindowGroupLimit collapses the
    * rank-1 filter map-side (the emb_kmeans argmax posture). */
  def ddCanonical(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("group_rep"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(col("group_rep"))
    dedupLabels(s, dir)
      .join(docs(s, dir).select(col("doc_id"), col("n_chars")), Seq("doc_id"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n_members", count(lit(1)).over(wAll))
      .filter(col("rn") === 1)
      .select(col("group_rep"), col("n_members"),
        col("doc_id").as("canonical_id"),
        col("n_chars").as("canonical_chars"))
      .orderBy(col("group_rep"))
  }

  val ddCanonicalSql: String =
    raw"""WITH RECURSIVE toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
      |), sh0 AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(CASE WHEN len(t) >= 3
      |      THEN list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
      |      ELSE [] END) AS s
      |  FROM toks
      |), rare AS (
      |  SELECT s FROM sh0 GROUP BY s HAVING COUNT(*) <= ${GraftTuning.ShingleDfCap}
      |), sh AS (
      |  SELECT sh0.* FROM sh0 JOIN rare USING (s)
      |), cnt AS (
      |  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
      |), inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2
      |), pairs AS (
      |  SELECT id_a, id_b FROM inter
      |  JOIN cnt ca ON id_a = ca.doc_id JOIN cnt cb ON id_b = cb.doc_id
      |  WHERE ROUND(n_inter / (ca.n + cb.n - n_inter), 6) >= 0.2
      |), edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM pairs
      |  UNION ALL SELECT id_b, id_a FROM pairs
      |), reach AS (
      |  SELECT doc_id AS node, doc_id AS root FROM documents
      |  UNION
      |  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node
      |), labels AS (
      |  SELECT node AS doc_id, MIN(root) AS group_rep FROM reach GROUP BY node
      |), sized AS (
      |  SELECT l.group_rep, l.doc_id, d.n_chars,
      |    ROW_NUMBER() OVER (PARTITION BY l.group_rep
      |      ORDER BY d.n_chars DESC, l.doc_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY l.group_rep) AS n_members
      |  FROM labels l JOIN documents d USING (doc_id)
      |)
      |SELECT group_rep, CAST(n_members AS BIGINT) AS n_members,
      |  doc_id AS canonical_id, n_chars AS canonical_chars
      |FROM sized WHERE rn = 1 ORDER BY group_rep""".stripMargin

  /** Driver union-find over Long node pairs (path halving), each
    * component rooted at its MINIMUM node value. Returns node → root for
    * every node named in `pairs`. Shared by [[connectedComponents]]' ≤cap
    * finish and mm_dedup_groups' code graph. */
  private[graft] def unionFindMin(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val nodes = pairs.iterator.flatMap(p => Iterator(p._1, p._2)).distinct.toArray
    val idx = nodes.zipWithIndex.toMap
    val parent = Array.tabulate(nodes.length)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(idx(a)), find(idx(b)))
      if (ra != rb) {
        if (nodes(ra) <= nodes(rb)) parent(rb) = ra else parent(ra) = rb
      }
    }
    nodes.indices.iterator.map(i => nodes(i) -> nodes(find(i))).toMap
  }

  /** Min-label connected components over a SYMMETRIC (src, dst) edge frame.
    * Returns (doc_id, label) where label = min node id of the component,
    * for exactly the nodes that appear in an edge — the overwhelming
    * singleton majority never enters the loop (at 100 TB the label table is
    * O(|edges|), not O(corpus)).
    *
    * r20 shape — the edge table is touched EXACTLY ONCE. Seed labels at
    * min(self, min neighbor id) (one aggregation; a clique seeded this
    * way is already at its component minimum, and near-dup components are
    * overwhelmingly cliques). One labeled-edge pass then builds the
    * RESIDUAL LABEL GRAPH: one distinct (label(src), label(dst))
    * adjacency per edge still crossing two basins — the quotient of the
    * input graph by the seed basins, whose components determine the final
    * labels (quotient components are images of graph components, and the
    * component min m always carries label m). A single limit(cap+1)
    * collect probes it:
    *  - empty ⇒ converged (seed labels constant across every edge);
    *  - ≤ [[GraftTuning.CcDriverEdgeCap]] ⇒ driver union-find by min
    *    label value + ONE broadcast map-join rewrite — model-sized state
    *    (basin adjacencies, not nodes or edges), the centroid-collect
    *    precedent; this is the path every gate corpus takes, with zero
    *    distributed rounds (r19 measured dd_semdedup's cos≥0.4 chain
    *    graph at a few-hundred-row residual from round 0);
    *  - > cap ⇒ min-label CONTRACTION of the label graph itself (the
    *    large-star/small-star discipline): each round every super-basin
    *    adopts min(self, neighbors) and the graph is re-contracted to the
    *    new names, so every non-local-min vertex merges — the vertex
    *    count shrinks geometrically (≈3× per round on chains) REGARDLESS
    *    of id placement, each round costing label-graph-sized joins
    *    only, until the residual fits the cap and the driver finishes
    *    it. A composed (orig → cur) rename table is applied to the node
    *    labels once at the end (label-keyed join; basin-count-sized, so
    *    never broadcast-hinted).
    *
    * Why contraction replaced the r17-r19 per-round propagation +
    * pointer-jump loop: r20's cc probe measured the node-level jump
    * rounds converging LINEARLY on shuffled-id chains (60-node chain: 33
    * rounds; 20000-node: >50 and threw) — label values land at random
    * POSITIONS, so chasing label→label through node ids advances the
    * min's basin by ~2 positions per round; the geometric path-halving
    * argument only holds for monotone id layouts. Contraction's merge
    * count per round is a property of the quotient GRAPH, not the id
    * layout. It also retires the r19 verdict's item-4 concern (3
    * edge-table joins per round in the >cap regime — now zero edge joins
    * past the first pass). Every mat'd frame is an eager localCheckpoint
    * with stats reset (see `mat`); a loop that exceeds maxRounds without
    * the residual fitting THROWS: partial labels would silently violate
    * the min-of-component contract. Correctness is pinned by the
    * equivalence spec (driver finish vs forced cap=0 contraction on a
    * mixed graph) and the 1000-link-chain test.
    *
    * Each round's jobs carry a job description naming the round and the
    * residual entering it, so a job listener (`graft.Probe cc`) can count
    * jobs per round; the caller's description is restored on return. */
  def connectedComponents(edges: DataFrame, maxRounds: Int = 50,
      driverEdgeCap: Int = GraftTuning.CcDriverEdgeCap): DataFrame = {
    val sc = edges.sparkSession.sparkContext
    val callerDescription = sc.getLocalProperty("spark.job.description")
    try contractComponents(edges, maxRounds, driverEdgeCap,
      round => sc.setJobDescription(s"connected components round $round"))
    finally sc.setJobDescription(callerDescription)
  }

  private def contractComponents(edges: DataFrame, maxRounds: Int,
      driverEdgeCap: Int, describe: String => Unit): DataFrame = {
    // materialize AND reset plan statistics. localCheckpoint truncates
    // lineage but PRESERVES the optimized plan's size estimate
    // (originStats) — and Catalyst's join size estimate is the PRODUCT of
    // child sizes, so an iterative join loop over checkpoints compounds
    // the BigInt estimate multiplicatively: by round ~12 the driver was
    // grinding million-digit BigInteger.multiplyToomCook3 calls inside
    // plan stats (jstack-verified; per-round wall time ×5 each round,
    // 7 s → 354 s total at sf0.1). Rebuilding the frame from the
    // checkpointed RDD discards originStats, so every round plans against
    // fresh scan-sized stats. The rebuild is one no-op map over the
    // materialized rows — label-table-sized, linear, executor-side.
    // Everything materializes eagerly: each mat'd frame feeds multiple
    // consumers (or both sides of one plan), which would race-compute the
    // subtree under a lazy checkpoint. Stats reset via the bridge —
    // zero data movement, unlike a createDataFrame(rdd) round-trip.
    def mat(df: DataFrame, eager: Boolean = true): DataFrame =
      org.apache.spark.sql.graftbridge.Bridge.resetInheritedStats(
        df.localCheckpoint(eager))
    // seed labels at min(self, min neighbor id) — one aggregation over the
    // symmetric edge set. Near-dup components are overwhelmingly CLIQUES
    // (every copy pairs with every copy), and a clique seeded this way is
    // already at its component minimum, so the loop's first round counts
    // zero changes and exits: one propagation round instead of 2-3 at any
    // corpus size. Non-clique shapes just start one hop closer.
    describe("0: seed labels and residual graph")
    var labels = mat(edges.groupBy(col("src"))
      .agg(least(min(col("dst")), col("src")).as("label"))
      .select(col("src").as("doc_id"), col("label")))
    val session = edges.sparkSession
    // driver union-find by MIN LABEL VALUE over a complete residual set
    // (the component contract): returns (from, to) renames, from != to
    def unionFindMap(adj: Array[org.apache.spark.sql.Row]): Seq[(Long, Long)] =
      unionFindMin(adj.toSeq.map(r => (r.getLong(0), r.getLong(1))))
        .toSeq.filter { case (l, root) => l != root }
    // r20: the EDGE TABLE is touched exactly once. One labeled-edge pass
    // (edges ⋈ labels twice) builds the RESIDUAL LABEL GRAPH — one
    // distinct (label(src), label(dst)) adjacency per edge still crossing
    // two basins — and everything after runs at label-graph grain. r19
    // paid 3 edge-table joins per propagation round; the r19 verdict
    // flagged that ~2× per-round tax for the >cap regime, and this
    // round's cc probe measured the deeper problem: the node-level
    // pointer-jump rounds converged LINEARLY on shuffled chains (60-node
    // chain: 33 rounds; 20000-node: >50 — label values land at random
    // POSITIONS, so chasing label→label through node ids advances the
    // min's basin by ~2 positions per round; the geometric-compression
    // argument only holds for monotone id layouts). ONE limit(cap+1)
    // collect probes the residual: empty ⇒ converged (labels constant
    // across every edge, and the component min m always carries label m,
    // so constant ⇒ min); ≤ cap ⇒ driver union-find + one broadcast
    // map-join (model-sized state, the mmDedupGroupsWidth pattern — the
    // path every gate corpus takes, with ZERO distributed rounds); > cap
    // ⇒ min-label CONTRACTION of the label graph itself (the
    // large-star/small-star discipline): each round every non-local-min
    // super-basin merges into a smaller neighbor, so the vertex count
    // drops ≥ ~3× per round REGARDLESS of id placement — geometric until
    // the residual fits the cap, each round costing label-graph-sized
    // joins only. The sample is discarded above the cap (only its size
    // is consulted), so the arbitrary limit rows can't leak
    // nondeterminism into results.
    val eLab = edges
      .join(labels.select(col("doc_id").as("__ns"), col("label").as("ls")),
        edges("src") === col("__ns"))
      .join(labels.select(col("doc_id").as("__nd"), col("label").as("ld")),
        edges("dst") === col("__nd"))
      .select(col("ls"), col("ld"))
      .filter(col("ls") =!= col("ld"))
    var lg = mat(eLab.distinct())
    var sample = lg.limit(driverEdgeCap + 1).collect()
    if (sample.isEmpty) {
      // seed labels already constant across every edge (cliques — the
      // overwhelmingly common near-dup shape): done, zero rounds
    } else if (sample.length <= driverEdgeCap) {
      val mapDf = session.createDataFrame(unionFindMap(sample))
        .toDF("__from", "__to")
      labels = labels
        .join(broadcast(mapDf), col("label") === col("__from"), "left")
        .select(col("doc_id"),
          coalesce(col("__to"), col("label")).as("label"))
    } else {
      // contraction loop: `lmap` composes original-label → current
      // super-basin label across rounds; applied to node labels ONCE at
      // the end (one label-keyed join — lmap is basin-count-sized, which
      // may exceed broadcast limits, so no broadcast hint here).
      // Invariants per round: the component-min label m is a local min
      // of every contracted graph (all label values are ids ≥ m of the
      // same component), so step(m) = m and m survives as the final name
      // of its component; every contraction step maps a label to a
      // SMALLER label it is adjacent to, preserving quotient
      // connectivity. Terminates: a label graph with ≥ 1 edge always has
      // a vertex that merges, and min-contraction removes every
      // non-local-min vertex, so the graph shrinks geometrically.
      var lmap = mat(lg.select(col("ls").as("orig"))
        .union(lg.select(col("ld").as("orig"))).distinct()
        .withColumn("cur", col("orig")))
      var iter = 1
      while (sample.length > driverEdgeCap && iter < maxRounds) {
        describe(s"$iter: residual > $driverEdgeCap edges")
        val sym = lg.union(lg.select(col("ld").as("ls"), col("ls").as("ld")))
        val step = mat(sym.groupBy(col("ls"))
          .agg(least(min(col("ld")), col("ls")).as("nxt")))
        lg = mat(lg
          .join(step.select(col("ls").as("__a"), col("nxt").as("na")),
            col("ls") === col("__a"))
          .join(step.select(col("ls").as("__b"), col("nxt").as("nb")),
            col("ld") === col("__b"))
          .filter(col("na") =!= col("nb"))
          .select(col("na").as("ls"), col("nb").as("ld"))
          .distinct())
        lmap = mat(lmap
          .join(step.select(col("ls").as("__c"), col("nxt")),
            col("cur") === col("__c"), "left")
          .select(col("orig"), coalesce(col("nxt"), col("cur")).as("cur")))
        sample = lg.limit(driverEdgeCap + 1).collect()
        iter += 1
      }
      if (sample.length > driverEdgeCap) throw new IllegalStateException(
        s"connected components did not converge in $maxRounds rounds " +
          "(labels would violate the min-of-component contract)")
      if (sample.nonEmpty) {
        // fold the ≤cap remainder into the composed mapping
        val ufDf = session.createDataFrame(unionFindMap(sample))
          .toDF("__from", "__to")
        lmap = lmap
          .join(broadcast(ufDf), col("cur") === col("__from"), "left")
          .select(col("orig"), coalesce(col("__to"), col("cur")).as("cur"))
      }
      labels = labels
        .join(lmap.filter(col("orig") =!= col("cur")),
          col("label") === col("orig"), "left")
        .select(col("doc_id"),
          coalesce(col("cur"), col("label")).as("label"))
    }
    labels
  }

  val ddDedupGroupsSql: String =
    raw"""WITH RECURSIVE toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
      |), sh0 AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(CASE WHEN len(t) >= 3
      |      THEN list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
      |      ELSE [] END) AS s
      |  FROM toks
      |), rare AS (
      |  SELECT s FROM sh0 GROUP BY s HAVING COUNT(*) <= ${GraftTuning.ShingleDfCap}
      |), sh AS (
      |  SELECT sh0.* FROM sh0 JOIN rare USING (s)
      |), cnt AS (
      |  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
      |), inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2
      |), pairs AS (
      |  SELECT id_a, id_b FROM inter
      |  JOIN cnt ca ON id_a = ca.doc_id JOIN cnt cb ON id_b = cb.doc_id
      |  WHERE ROUND(n_inter / (ca.n + cb.n - n_inter), 6) >= 0.2
      |), edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM pairs
      |  UNION ALL SELECT id_b, id_a FROM pairs
      |), reach AS (
      |  SELECT doc_id AS node, doc_id AS root FROM documents
      |  UNION
      |  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node
      |)
      |SELECT node AS doc_id, MIN(root) AS group_rep, (node = MIN(root)) AS is_canonical
      |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin

  // --------------------------------- MinHash estimator accuracy audit
  /** The FULL estimator-accuracy report behind [[ddMinHashEst]]: for every
    * exact-jaccard verdict pair, the true jaccard, the 32-perm MinHash
    * estimate (`matching perms / perms`), and the absolute error — the
    * statistical-honesty audit that says the signatures actually estimate
    * what the LSH stage assumes they do. An exact-duplicate pair (j = 1)
    * must estimate exactly 1: identical shingle sets give identical mins
    * under every permutation (asserted in spec; no hash luck involved). */
  private[graft] def ddMinHashEstReport(s: SparkSession, dir: String,
      numPerms: Int = 32, dfCap: Int = GraftTuning.ShingleDfCap): DataFrame = {
    val sh = discriminativeShingles(docs(s, dir), dfCap)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sigCols = (0 until numPerms).map { i =>
      min(xxhash64(col("hs"), lit(i))).as(s"h$i")
    }
    val sig = sh.groupBy(col("doc_id")).agg(sigCols.head, sigCols.tail: _*)
    // r20: derive the true-jaccard pairs from the SAME cached shingle
    // frame the signatures use — the previous ngramJaccardPairs call
    // rebuilt the whole discriminative-shingle window as a second action
    // (profile: the 8 s shingle stage appeared twice per run)
    val pairs = ngramJaccardPairsFrom(sh)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    val matches = (0 until numPerms).map { i =>
      when(col(s"a.h$i") === col(s"b.h$i"), 1).otherwise(0)
    }.reduce(_ + _)
    val report = pairs
      .join(sig.as("a"), col("id_a") === col("a.doc_id"))
      .join(sig.as("b"), col("id_b") === col("b.doc_id"))
      .select(col("id_a"), col("id_b"), col("jaccard").as("true_j"),
        (round(matches.cast("double") / numPerms, 6) + 0.0).as("est_j"))
      .select(col("id_a"), col("id_b"), col("true_j"), col("est_j"),
        (round(abs(col("est_j") - col("true_j")), 6) + 0.0).as("abs_err"))
      .localCheckpoint()
    sh.unpersist()
    report
  }

  /** Driver-gated violation form of [[ddMinHashEstReport]]: verdict pairs
    * whose 32-perm estimate misses the true jaccard by more than `tol` —
    * 0.35 ≈ 4σ of the binomial estimator's worst-case std
    * `sqrt(j(1−j)/32) ≤ 0.089`. Deterministic (fixed permutation family),
    * hence a fair empty-relation contract — the [[BloomSketch]]/
    * recall-check pattern — CALIBRATED TO THE GATE CORPUS SIZES: at the
    * sf0.01/sf0.1 pair counts (~10²–10³) the binomial tail mass beyond
    * 4σ is ≪ 1 expected violation, so any row there is a real defect in
    * the signature aggregation. At much larger pair counts the tail mass
    * itself surfaces — ScaleSmoke 10× (515k cross-copy pairs) measured 9
    * violations vs ~30 theory-predicted, i.e. the estimator behaves
    * EXACTLY as the binomial model says; an empty contract at that scale
    * would need ~5.5σ (tol ≈ 0.49).
    *
    * Scale: one signature aggregation (map-combined mins, doc-keyed) and
    * two broadcast-able joins against the pair report; nothing quadratic
    * beyond the already-bounded pair detector. */
  def ddMinHashEst(s: SparkSession, dir: String,
      tol: Double = 0.35): DataFrame =
    ddMinHashEstReport(s, dir)
      .filter(col("abs_err") > tol)
      .orderBy(col("id_a"), col("id_b"))

  val ddMinHashEstSql: String =
    """SELECT CAST(NULL AS BIGINT) AS id_a, CAST(NULL AS BIGINT) AS id_b,
      |  CAST(NULL AS DOUBLE) AS true_j, CAST(NULL AS DOUBLE) AS est_j,
      |  CAST(NULL AS DOUBLE) AS abs_err
      |WHERE FALSE""".stripMargin

  /** LSH's banding can't be expressed in the oracle's SQL — but its OUTPUT
    * contract can: candidates are exact-re-verified, so the result is the
    * exact Jaccard pair set minus LSH false negatives, and on this corpus
    * (asserted every round by the driver) recall is complete — the oracle
    * is the exact pair set itself, projected to the minhash output columns. */
  val ddMinHashLshSql: String =
    raw"""WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
      |), sh0 AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(CASE WHEN len(t) >= 3
      |      THEN list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
      |      ELSE [] END) AS s
      |  FROM toks
      |), rare AS (
      |  SELECT s FROM sh0 GROUP BY s HAVING COUNT(*) <= ${GraftTuning.ShingleDfCap}
      |), sh AS (
      |  SELECT sh0.* FROM sh0 JOIN rare USING (s)
      |), cnt AS (
      |  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
      |), inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |)
      |SELECT id_a, id_b,
      |  ROUND(n_inter / (ca.n + cb.n - n_inter), 6) AS jaccard
      |FROM inter
      |JOIN cnt ca ON id_a = ca.doc_id
      |JOIN cnt cb ON id_b = cb.doc_id
      |WHERE ROUND(n_inter / (ca.n + cb.n - n_inter), 6) >= 0.2
      |ORDER BY id_a, id_b""".stripMargin

  // ------------------------------------------- bloom-filter decontamination
  /** Bloom-filter pre-screen for decontamination — the single-pass scale
    * path when the eval/benchmark shingle set is too large to broadcast as
    * a hash table but fits a fixed-size sketch: build one bloom over the
    * eval shingle hashes (partials bit-OR-merge, order-independent), then
    * probe every training shingle map-side. `might_contain` has NO false
    * negatives, so the screen can only over-flag (bounded FPR), never let
    * contamination through — exactly the safe direction for this filter.
    *
    * The driver query is the correctness certificate of that contract:
    * train shingles that exactly hit the eval set (join) but fail the
    * bloom probe — provably empty (q21-style violation oracle). The
    * production operator is [[ddBloomFlag]] (probe-only, no join);
    * BloomDecontaminationSpec measures its FPR and asserts the superset
    * relation vs the exact join.
    *
    * Scale: sketch size is a constant (`numBits`), independent of corpus
    * size; the probe is a pure map-side predicate on a broadcast sketch —
    * the train side never shuffles at all. Sizing is static by design
    * (one pass); a production pipeline sizes `expectedItems` from the
    * known benchmark-suite cardinality. */
  def ddBloomDecontaminate(s: SparkSession, dir: String,
      expectedItems: Long = 1L << 20, numBits: Long = 1L << 24): DataFrame = {
    import graft.functions.BloomSketch
    // (doc_id, source, hs) distinct shingles, shared by all three branches
    val sh = shingleSet(docs(s, dir), carry = Seq("source"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val evalSh = sh.filter(col("source") === "src0").select(col("hs")).distinct()
    val bloom = evalSh.agg(
      BloomSketch.bloomAgg(col("hs"), expectedItems, numBits).as("bf"))
    val train = sh.filter(col("source") =!= "src0")
      .select(col("doc_id").as("train_doc"), col("hs"))
    val exactHits = train.join(evalSh, Seq("hs"))
    val violations = exactHits
      .filter(!BloomSketch.mightContain(bloom, col("hs")))
      .select(col("train_doc"), col("hs"))
      .orderBy(col("train_doc"), col("hs"))
      .localCheckpoint() // provably-empty report; release the shingle cache
    sh.unpersist()
    violations
  }

  /** No-false-negative law, so the violation set is empty by construction
    * (DuckDB has no bloom probe; the oracle pins schema + emptiness). */
  val ddBloomDecontaminateSql: String =
    """SELECT CAST(NULL AS BIGINT) AS train_doc, CAST(NULL AS BIGINT) AS hs
      |WHERE FALSE""".stripMargin

  /** The PRODUCTION bloom screen: flag each training doc by how many of
    * its shingles probe positive against the eval-set sketch — no join
    * anywhere, so the train side never shuffles and the whole screen is
    * one map-side predicate + one doc-keyed map-combined count. The flag
    * set is a SUPERSET of the exact-join contamination set (bloom has no
    * false negatives) with bounded over-flagging (FPR) — the safe
    * direction: a benchmark-tainted doc can never slip through.
    *
    * Not oracle-gated: the output admits false positives by design, so an
    * exact-join DuckDB twin would be wrong exactly when the sketch does
    * its job probabilistically. BloomDecontaminationSpec certifies the
    * two real laws instead: superset-of-exact (doc level) and FPR within
    * budget. */
  def ddBloomFlag(s: SparkSession, dir: String,
      expectedItems: Long = 1L << 20, numBits: Long = 1L << 24,
      minHits: Long = 3L): DataFrame = {
    import graft.functions.BloomSketch
    bloomFlagWith(s, dir, minHits) { (train, evalSh) =>
      val bloom = evalSh
        .agg(BloomSketch.bloomAgg(col("hs"), expectedItems, numBits).as("bf"))
      train.filter(BloomSketch.mightContain(bloom, col("hs")))
    }
  }

  /** Shared screen shape for [[ddBloomFlag]] and [[bloomFlagExact]]: only
    * the membership step differs (bloom probe vs exact semi-join), so the
    * shingle projection, hit counting, minHits filter, and cache
    * discipline can't drift between the production operator and the spec
    * comparator it's certified against. */
  private def bloomFlagWith(s: SparkSession, dir: String, minHits: Long)(
      member: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val sh = shingleSet(docs(s, dir), carry = Seq("source"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val evalSh = sh.filter(col("source") === "src0").select(col("hs")).distinct()
    val flagged = member(sh.filter(col("source") =!= "src0"), evalSh)
      .groupBy(col("doc_id").as("train_doc"))
      .agg(count(lit(1)).as("n_hits"))
      .filter(col("n_hits") >= minHits)
      .orderBy(col("train_doc"))
      .localCheckpoint()
    sh.unpersist()
    flagged
  }

  /** Exact-join twin of [[ddBloomFlag]] — identical semantics with the
    * bloom probe replaced by a semi-join against the eval shingle union.
    * Spec-only comparator (BloomDecontaminationSpec): flagged-exact must
    * be a subset of flagged-bloom, and the difference is the measured FPR. */
  private[graft] def bloomFlagExact(s: SparkSession, dir: String,
      minHits: Long = 3L): DataFrame =
    bloomFlagWith(s, dir, minHits) { (train, evalSh) =>
      train.join(evalSh, Seq("hs"), "left_semi")
    }

  // --------------------------------------------------- per-source dup rate
  /** Per-source exact-duplicate rate — the dataset-card number a mixture
    * designer reads next to [[ddSourceOverlap]]: corpus-wide canonical
    * election by content fingerprint (min doc_id per group, exactly
    * [[ddExact]]'s contract), then per source: how many docs are
    * non-canonical copies and the resulting dup rate.
    *
    * Scale: one fingerprint-keyed window (same shuffle as ddExact's
    * groupBy) + one map-combined per-source rollup; output is
    * |sources| rows. */
  def ddDupRate(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
    docs(s, dir)
      .select(col("doc_id"), col("source"), fingerprint(col("text")).as("fp"))
      .withColumn("is_dup", col("doc_id") =!= min(col("doc_id")).over(w))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("is_dup").cast("long")).as("n_dups"))
      .select(col("source"), col("n_docs"), col("n_dups"),
        round(col("n_dups").cast("double") / col("n_docs").cast("double"), 6)
          .as("dup_rate"))
      .orderBy(col("source"))
  }

  val ddDupRateSql: String =
    """WITH f AS (
      |  SELECT doc_id, source,
      |    md5(array_to_string(regexp_split_to_array(trim(lower(text)), '\s+'), ' ')) AS fp
      |  FROM documents
      |), marked AS (
      |  SELECT source,
      |    CASE WHEN doc_id <> MIN(doc_id) OVER (PARTITION BY fp)
      |      THEN 1 ELSE 0 END AS is_dup
      |  FROM f
      |)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(is_dup) AS BIGINT) AS n_dups,
      |  ROUND(CAST(SUM(is_dup) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS dup_rate
      |FROM marked GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------- exact duplicated-substring spans
  /** Exact-substring duplication spans — the passage-level dedup axis of
    * "Deduplicating Training Data Makes Language Models Better" (Lee et
    * al. 2022), which cuts repeated PASSAGES rather than dropping whole
    * near-duplicate documents. For each document: the maximal token spans
    * in which every token is covered by some k-token window that occurs at
    * ≥2 sites (doc, pos) corpus-wide. A duplicated substring of ≥ k tokens
    * is detected exactly (all of its k-windows are duplicated, so the span
    * covers it fully); substrings shorter than k are invisible by design —
    * k is the minimum match length, the same role it plays in the paper's
    * suffix-array formulation (50 BPE tokens there; 8 word tokens here,
    * sized to the synthetic corpus's short docs). Overlapping duplicated
    * windows merge into one span; merely adjacent ones stay separate
    * (each is a distinct duplicated substring that happens to abut).
    *
    * Scale (why not a suffix array): the paper's SA needs the corpus bytes
    * in one address space. This k-gram anchor scan is one map pass
    * emitting ≈1 window per corpus token, one shuffle keyed by the 64-bit
    * window hash for the ≥2-sites decision (window-count idiom of
    * [[discriminativeShingles]] — no groupBy + join-back), and one
    * doc_id-keyed shuffle for the span merge whose per-key state is only
    * that document's duplicated sites. Nothing quadratic, nothing
    * collects. Windows travel as xxhash64 longs (collision note on
    * [[shingleSet]] applies).
    */
  def ddSubstringSpans(s: SparkSession, dir: String, k: Int = 8): DataFrame =
    substringSpanTable(s, dir, k).orderBy(col("doc_id"), col("span_start"))

  /** Span table without the presentation sort (shared with the rate query).
    * Tokens cross a projection boundary before the window transform for
    * the same reason as [[shingleSet]] (inlined `split` re-evaluates per
    * `element_at`). */
  // ---------------------------------------- cross-source span matrix
  /** Syndication matrix: for every source pair, how many DISTINCT k-token
    * windows appear verbatim in BOTH — the "who republishes whom" report
    * that turns [[ddSubstringSpans]]'s corpus-wide duplication signal
    * into a per-feed provenance decision (dedup at the source level
    * before paying doc-level span surgery). Emits (src_a, src_b,
    * n_windows) for pairs sharing ≥ 1 window, src_a < src_b.
    *
    * Scale: reduces to DISTINCT (source, window-hash) FIRST, so the
    * pair join's bucket per hash is ≤ |sources| rows — bounded
    * quadratic work per window regardless of how many documents repeat
    * it; the rollup is a |sources|²-max model agg. */
  def ddCrossSourceSpans(s: SparkSession, dir: String, k: Int = 8): DataFrame = {
    val sg = docs(s, dir)
      .select(col("source"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= k)
      .select(col("source"), explode(
        transform(sequence(lit(1), size(col("toks")) - (k - 1)), i =>
          xxhash64(concat_ws(" ", slice(col("toks"), i, lit(k)))))).as("hg"))
      .distinct()
    sg.as("a").join(sg.as("b"),
        col("a.hg") === col("b.hg") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_windows"))
      .orderBy(col("src_a"), col("src_b"))
  }

  val ddCrossSourceSpansSql: String =
    """WITH toks AS (
      |  SELECT source, regexp_split_to_array(trim(text), '\s+') AS t
      |  FROM documents
      |), g AS (
      |  SELECT DISTINCT source, array_to_string(t[pos:pos+7], ' ') AS g
      |  FROM (SELECT source, unnest(range(1, len(t) - 6)) AS pos, t
      |        FROM toks WHERE len(t) >= 8)
      |)
      |SELECT a.source AS src_a, b.source AS src_b,
      |  CAST(COUNT(*) AS BIGINT) AS n_windows
      |FROM g a JOIN g b ON a.g = b.g AND a.source < b.source
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** One row per k-token window: (doc_id, pos [1-based], hg [xxhash64 of
    * the space-joined window]). */
  private def windowSites(s: SparkSession, dir: String, k: Int): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= k)
      .select(col("doc_id"), posexplode(
        transform(sequence(lit(1), size(col("toks")) - (k - 1)), i =>
          xxhash64(concat_ws(" ", slice(col("toks"), i, lit(k)))))))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("hg"))

  /** Bloom sketch over the DISTINCT duplicated window hashes — the model
    * state [[graft.streaming.StreamOps.streamingSubstringCut]] probes on
    * arrival. Bloom direction is the safe one for dedup: no false
    * negatives (a duplicated span can never survive the stream), false
    * positives over-cut at the sketch's bounded rate. */
  def substringDupSketch(s: SparkSession, dir: String, k: Int = 8,
      expectedItems: Long = 1L << 20, numBits: Long = 1L << 24): Array[Byte] = {
    val wh = org.apache.spark.sql.expressions.Window.partitionBy(col("hg"))
    val dupW = windowSites(s, dir, k)
      .withColumn("__sites", count(lit(1)).over(wh))
      .filter(col("__sites") >= 2)
      .select(col("hg")).distinct()
    graft.functions.BloomSketch.buildSketch(dupW, col("hg"),
      expectedItems, numBits)
  }

  private def substringSpanTable(s: SparkSession, dir: String,
      k: Int): DataFrame = {
    val sites = windowSites(s, dir, k)
    val wh = org.apache.spark.sql.expressions.Window.partitionBy(col("hg"))
    val wd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    sites
      .withColumn("__sites", count(lit(1)).over(wh))
      .filter(col("__sites") >= 2)
      .drop("__sites")
      // a window at pos covers [pos, pos+k-1]; a site opens a new span iff
      // it does not overlap the previous site's window (gap ≥ k)
      .withColumn("__new",
        when(col("pos") - lag(col("pos"), 1, Long.MinValue / 2).over(wd) >= k,
          1).otherwise(0))
      .withColumn("__span", sum(col("__new")).over(wd))
      .groupBy(col("doc_id"), col("__span"))
      .agg(min(col("pos")).as("span_start"), max(col("pos")).as("__maxp"))
      .select(col("doc_id"), col("span_start"),
        (col("__maxp") + (k - 1)).as("span_end"),
        (col("__maxp") + (k - 1) - col("span_start") + 1).as("span_tokens"))
  }

  val ddSubstringSpansSql: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
      |  FROM documents
      |), sites AS (
      |  SELECT doc_id, unnest(range(1, len(t) - 6)) AS pos, t
      |  FROM toks WHERE len(t) >= 8
      |), g AS (
      |  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
      |    array_to_string(t[pos:pos+7], ' ') AS g
      |  FROM sites
      |), dupg AS (
      |  SELECT g FROM g GROUP BY g HAVING COUNT(*) >= 2
      |), dup AS (
      |  SELECT doc_id, pos FROM g JOIN dupg USING (g)
      |), flagged AS (
      |  SELECT doc_id, pos,
      |    CASE WHEN pos - COALESCE(LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos),
      |      -1000000) >= 8 THEN 1 ELSE 0 END AS new_span
      |  FROM dup
      |), spans AS (
      |  SELECT doc_id, pos,
      |    SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
      |  FROM flagged
      |)
      |SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
      |  CAST(MAX(pos) + 7 AS BIGINT) AS span_end,
      |  CAST(MAX(pos) + 7 - MIN(pos) + 1 AS BIGINT) AS span_tokens
      |FROM spans GROUP BY doc_id, span_id
      |ORDER BY doc_id, span_start""".stripMargin

  /** Per-source duplicated-token budget: what fraction of each source's
    * tokens sit inside a duplicated span — the number the paper's cut step
    * would remove, and the statistic a mixture designer reads next to
    * [[ddDupRate]] (doc-level) to see whether a source's duplication is
    * whole-document or boilerplate-passage shaped.
    *
    * Scale: the span table per-doc aggregate and the doc token counts are
    * both keyed by doc_id, so the left join co-partitions; output is
    * |sources| rows. */
  def ddSubstringRate(s: SparkSession, dir: String, k: Int = 8): DataFrame = {
    val perDoc = substringSpanTable(s, dir, k)
      .groupBy(col("doc_id")).agg(sum(col("span_tokens")).as("dup_toks"))
    docs(s, dir)
      .select(col("doc_id"), col("source"), tokenCount(col("text")).as("n_toks"))
      .join(perDoc, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("dup_toks").isNotNull, 1L).otherwise(0L)).as("n_dup_docs"),
        coalesce(sum(col("dup_toks")), lit(0L)).as("dup_tokens"),
        sum(col("n_toks")).as("total_tokens"))
      .select(col("source"), col("n_docs"), col("n_dup_docs"),
        col("dup_tokens"), col("total_tokens"),
        round(col("dup_tokens").cast("double") /
          col("total_tokens").cast("double"), 6).as("dup_frac"))
      .orderBy(col("source"))
  }

  /** Passage-level decontamination — [[ddSubstringSpans]]' cross-corpus
    * variant and [[ddDecontaminate]]'s sharper sibling: for every TRAIN
    * document (source ≠ src0), the maximal token spans whose every k-gram
    * occurs verbatim somewhere in the EVAL set (src0). Shingle-overlap
    * decontamination scores doc pairs; this localizes the contamination to
    * the exact copied passage, which is what a scrubbing pass actually
    * removes (and GPT-3-style n-gram decontamination actually checks).
    *
    * Scale: identical shape to [[ddSubstringSpans]] except the duplicate
    * decision is a left-semi join of train sites against the DISTINCT eval
    * window-hash set — still keyed by the 64-bit window hash, and the eval
    * side is the small one (broadcastable when the eval set fits, and
    * Spark picks that automatically).
    *
    * Streaming form: build a bloom sketch over the eval window hashes
    * (same recipe as [[substringDupSketch]], eval-filtered input) and pass
    * it to [[graft.streaming.StreamOps.streamingSubstringCut]] — the cut
    * operator is sketch-agnostic, so contamination-scrub-on-arrival is the
    * identical stateless projection with a different model literal. */
  def ddSubstringContamination(s: SparkSession, dir: String,
      k: Int = 8): DataFrame = {
    val sites = windowSites(s, dir, k)
    val src = docs(s, dir).select(col("doc_id"), col("source"))
    val tagged = sites.join(src, Seq("doc_id"))
    val evalW = tagged.filter(col("source") === "src0")
      .select(col("hg")).distinct()
    val wd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    tagged.filter(col("source") =!= "src0")
      .join(evalW, Seq("hg"), "left_semi")
      .withColumn("__new",
        when(col("pos") - lag(col("pos"), 1, Long.MinValue / 2).over(wd) >= k,
          1).otherwise(0))
      .withColumn("__span", sum(col("__new")).over(wd))
      .groupBy(col("doc_id"), col("__span"))
      .agg(min(col("pos")).as("span_start"), max(col("pos")).as("__maxp"))
      .select(col("doc_id"), col("span_start"),
        (col("__maxp") + (k - 1)).as("span_end"),
        (col("__maxp") + (k - 1) - col("span_start") + 1).as("span_tokens"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  val ddSubstringContaminationSql: String =
    """WITH toks AS (
      |  SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS t
      |  FROM documents
      |), sites AS (
      |  SELECT doc_id, source, unnest(range(1, len(t) - 6)) AS pos, t
      |  FROM toks WHERE len(t) >= 8
      |), g AS (
      |  SELECT doc_id, source, CAST(pos AS BIGINT) AS pos,
      |    array_to_string(t[pos:pos+7], ' ') AS g
      |  FROM sites
      |), evw AS (
      |  SELECT DISTINCT g FROM g WHERE source = 'src0'
      |), dup AS (
      |  SELECT doc_id, pos FROM g
      |  WHERE source <> 'src0' AND g IN (SELECT g FROM evw)
      |), flagged AS (
      |  SELECT doc_id, pos,
      |    CASE WHEN pos - COALESCE(LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos),
      |      -1000000) >= 8 THEN 1 ELSE 0 END AS new_span
      |  FROM dup
      |), spans AS (
      |  SELECT doc_id, pos,
      |    SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
      |  FROM flagged
      |)
      |SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
      |  CAST(MAX(pos) + 7 AS BIGINT) AS span_end,
      |  CAST(MAX(pos) + 7 - MIN(pos) + 1 AS BIGINT) AS span_tokens
      |FROM spans GROUP BY doc_id, span_id
      |ORDER BY doc_id, span_start""".stripMargin

  /** The scrub step of passage-level decontamination: re-emit every TRAIN
    * document with its [[ddSubstringContamination]] spans removed — the
    * pass that turns the contamination REPORT into training-ready text
    * (drop only the copied passage, keep the rest of the doc, instead of
    * [[ddDecontaminate]]'s drop-the-whole-doc policy). Same cut contract
    * as [[ddSubstringCut]]: n_removed = the doc's contaminated
    * span_tokens sum; unflagged train docs pass through verbatim.
    *
    * Scale: the span table inherits the window-hash shape (eval side
    * distinct + broadcastable); the cut is the doc-keyed span-list join +
    * one partition-local higher-order projection. */
  def ddDecontamCut(s: SparkSession, dir: String, k: Int = 8): DataFrame = {
    val spanList = ddSubstringContamination(s, dir, k)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start").as("s"),
        col("span_end").as("e"))).as("sp"))
    docs(s, dir).filter(col("source") =!= "src0")
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .join(spanList, Seq("doc_id"), "left")
      .withColumn("sp", coalesce(col("sp"),
        expr("CAST(array() AS array<struct<s:bigint,e:bigint>>)")))
      .withColumn("keep_idx", filter(sequence(lit(1), size(col("toks"))),
        i => !exists(col("sp"),
          x => x.getField("s") <= i && i <= x.getField("e"))))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        (size(col("toks")) - size(col("keep_idx"))).cast("long").as("n_removed"),
        concat_ws(" ",
          transform(col("keep_idx"), i => element_at(col("toks"), i)))
          .as("clean_text"))
      .orderBy(col("doc_id"))
  }

  val ddDecontamCutSql: String =
    """WITH toks AS (
      |  SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS t
      |  FROM documents
      |), sites AS (
      |  SELECT doc_id, source, unnest(range(1, len(t) - 6)) AS pos, t
      |  FROM toks WHERE len(t) >= 8
      |), g AS (
      |  SELECT doc_id, source, CAST(pos AS BIGINT) AS pos,
      |    array_to_string(t[pos:pos+7], ' ') AS g
      |  FROM sites
      |), evw AS (
      |  SELECT DISTINCT g FROM g WHERE source = 'src0'
      |), dup AS (
      |  SELECT doc_id, pos FROM g
      |  WHERE source <> 'src0' AND g IN (SELECT g FROM evw)
      |), flagged AS (
      |  SELECT doc_id, pos,
      |    CASE WHEN pos - COALESCE(LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos),
      |      -1000000) >= 8 THEN 1 ELSE 0 END AS new_span
      |  FROM dup
      |), spans AS (
      |  SELECT doc_id, pos,
      |    SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
      |  FROM flagged
      |), span_tab AS (
      |  SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS s, CAST(MAX(pos) + 7 AS BIGINT) AS e
      |  FROM spans GROUP BY doc_id, span_id
      |), span_list AS (
      |  SELECT doc_id, list(struct_pack(s := s, e := e)) AS sp
      |  FROM span_tab GROUP BY doc_id
      |), kept AS (
      |  SELECT t.doc_id, t.t,
      |    list_filter(range(1, len(t.t) + 1),
      |      i -> sp IS NULL OR len(list_filter(sp, x -> x.s <= i AND i <= x.e)) = 0) AS keep_idx
      |  FROM (SELECT doc_id, t FROM toks WHERE source <> 'src0') t
      |  LEFT JOIN span_list USING (doc_id)
      |)
      |SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
      |  CAST(len(t) - len(keep_idx) AS BIGINT) AS n_removed,
      |  COALESCE(array_to_string(list_transform(keep_idx, i -> t[i]), ' '), '') AS clean_text
      |FROM kept ORDER BY doc_id""".stripMargin

  /** The cut step of exact-substring dedup: re-emit every document with
    * its duplicated spans removed (the training-ready output — what Lee et
    * al. actually train on). Contract ties to [[ddSubstringSpans]]:
    * `n_removed` per doc = the sum of that doc's span_tokens; untouched
    * docs pass through verbatim.
    *
    * Scale: the span table folds to a per-doc span LIST (bounded by the
    * doc's own length, not the corpus), joins back doc_id-keyed, and the
    * token filter is one partition-local higher-order projection — no
    * per-token shuffle. */
  def ddSubstringCut(s: SparkSession, dir: String, k: Int = 8): DataFrame = {
    val spanList = substringSpanTable(s, dir, k)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start").as("s"),
        col("span_end").as("e"))).as("sp"))
    docs(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .join(spanList, Seq("doc_id"), "left")
      .withColumn("sp", coalesce(col("sp"),
        expr("CAST(array() AS array<struct<s:bigint,e:bigint>>)")))
      .withColumn("keep_idx", filter(sequence(lit(1), size(col("toks"))),
        i => !exists(col("sp"),
          x => x.getField("s") <= i && i <= x.getField("e"))))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        (size(col("toks")) - size(col("keep_idx"))).cast("long").as("n_removed"),
        concat_ws(" ",
          transform(col("keep_idx"), i => element_at(col("toks"), i)))
          .as("clean_text"))
      .orderBy(col("doc_id"))
  }

  val ddSubstringCutSql: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
      |  FROM documents
      |), sites AS (
      |  SELECT doc_id, unnest(range(1, len(t) - 6)) AS pos, t
      |  FROM toks WHERE len(t) >= 8
      |), g AS (
      |  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
      |    array_to_string(t[pos:pos+7], ' ') AS g
      |  FROM sites
      |), dupg AS (
      |  SELECT g FROM g GROUP BY g HAVING COUNT(*) >= 2
      |), dup AS (
      |  SELECT doc_id, pos FROM g JOIN dupg USING (g)
      |), flagged AS (
      |  SELECT doc_id, pos,
      |    CASE WHEN pos - COALESCE(LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos),
      |      -1000000) >= 8 THEN 1 ELSE 0 END AS new_span
      |  FROM dup
      |), spans AS (
      |  SELECT doc_id, pos,
      |    SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
      |  FROM flagged
      |), span_tab AS (
      |  SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS s, CAST(MAX(pos) + 7 AS BIGINT) AS e
      |  FROM spans GROUP BY doc_id, span_id
      |), span_list AS (
      |  SELECT doc_id, list(struct_pack(s := s, e := e)) AS sp
      |  FROM span_tab GROUP BY doc_id
      |), kept AS (
      |  SELECT t.doc_id, t.t,
      |    list_filter(range(1, len(t.t) + 1),
      |      i -> sp IS NULL OR len(list_filter(sp, x -> x.s <= i AND i <= x.e)) = 0) AS keep_idx
      |  FROM toks t LEFT JOIN span_list USING (doc_id)
      |)
      |SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
      |  CAST(len(t) - len(keep_idx) AS BIGINT) AS n_removed,
      |  COALESCE(array_to_string(list_transform(keep_idx, i -> t[i]), ' '), '') AS clean_text
      |FROM kept ORDER BY doc_id""".stripMargin

  val ddSubstringRateSql: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
      |  FROM documents
      |), sites AS (
      |  SELECT doc_id, unnest(range(1, len(t) - 6)) AS pos, t
      |  FROM toks WHERE len(t) >= 8
      |), g AS (
      |  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
      |    array_to_string(t[pos:pos+7], ' ') AS g
      |  FROM sites
      |), dupg AS (
      |  SELECT g FROM g GROUP BY g HAVING COUNT(*) >= 2
      |), dup AS (
      |  SELECT doc_id, pos FROM g JOIN dupg USING (g)
      |), flagged AS (
      |  SELECT doc_id, pos,
      |    CASE WHEN pos - COALESCE(LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos),
      |      -1000000) >= 8 THEN 1 ELSE 0 END AS new_span
      |  FROM dup
      |), spans AS (
      |  SELECT doc_id, pos,
      |    SUM(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
      |  FROM flagged
      |), span_tab AS (
      |  SELECT doc_id, MAX(pos) + 7 - MIN(pos) + 1 AS span_tokens
      |  FROM spans GROUP BY doc_id, span_id
      |), per_doc AS (
      |  SELECT doc_id, SUM(span_tokens) AS dup_toks FROM span_tab GROUP BY doc_id
      |), dtoks AS (
      |  SELECT doc_id, source,
      |    len(regexp_split_to_array(trim(text), '\s+')) AS n_toks
      |  FROM documents
      |)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CASE WHEN dup_toks IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
      |  CAST(COALESCE(SUM(dup_toks), 0) AS BIGINT) AS dup_tokens,
      |  CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
      |  ROUND(CAST(COALESCE(SUM(dup_toks), 0) AS DOUBLE) /
      |    CAST(SUM(n_toks) AS DOUBLE), 6) AS dup_frac
      |FROM dtoks LEFT JOIN per_doc USING (doc_id)
      |GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------------- source overlap matrix
  /** Cross-source shingle-overlap matrix — the corpus-level contamination
    * diagnostic a mixture designer reads before weighting sources: for
    * every source pair, how many DISTINCT word-3-gram shingles the two
    * sources share, and each side's distinct-shingle universe size.
    *
    * Scale: the per-source shingle relation is one distinct aggregation;
    * the pair join is keyed by shingle with bucket size ≤ |sources| (a
    * shingle appears in at most every source), so pair rows are bounded by
    * |shingles| · |sources|²/2 with |sources| a small constant — linear in
    * data. Output is ≤ |sources|²/2 rows. The self-join does NOT shuffle
    * the relation twice: both sides read one ReusedExchange. (Measured
    * alternative, round 7: folding each shingle's source set with
    * collect_set and expanding pairs map-side also shuffles once but runs
    * ~25% SLOWER at sf0.1 — the codegen'd join beats the interpreted
    * higher-order set expansion. Keep the join.) */
  def ddSourceOverlap(s: SparkSession, dir: String): DataFrame = {
    // (source, hs) directly off the token stream — one distinct keyed by
    // the OUTPUT grain. Routing through shingleSet would pay a doc-level
    // distinct plus a corpus-keyed join just to throw the doc grain away.
    val srcSh = docs(s, dir)
      .select(col("source"), tokens(col("text")).as("toks"))
      .select(col("source"), explode(shingles(col("toks"), 3)).as("sg"))
      .select(col("source"), xxhash64(col("sg")).as("hs"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = srcSh.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val report = srcSh.as("a").join(srcSh.as("b"),
        col("a.hs") === col("b.hs") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(sizes).as("sa"), col("src_a") === col("sa.source"))
      .join(broadcast(sizes).as("sb"), col("src_b") === col("sb.source"))
      .select(col("src_a"), col("src_b"), col("n_shared"),
        col("sa.n").as("n_a"), col("sb.n").as("n_b"))
      .orderBy(col("src_a"), col("src_b"))
      .localCheckpoint() // |sources|²-row report; release the shingle cache
    srcSh.unpersist()
    report
  }

  val ddSourceOverlapSql: String =
    """WITH toks AS (
      |  SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS t
      |  FROM documents
      |), sh AS (
      |  SELECT DISTINCT source,
      |    unnest(CASE WHEN len(t) >= 3
      |      THEN list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
      |      ELSE [] END) AS s
      |  FROM toks
      |), sizes AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY 1
      |), inter AS (
      |  SELECT a.source AS src_a, b.source AS src_b,
      |    CAST(COUNT(*) AS BIGINT) AS n_shared
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
      |  GROUP BY 1, 2
      |)
      |SELECT src_a, src_b, n_shared, sa.n AS n_a, sb.n AS n_b
      |FROM inter
      |JOIN sizes sa ON src_a = sa.source
      |JOIN sizes sb ON src_b = sb.source
      |ORDER BY src_a, src_b""".stripMargin

  // ------------------------------------------------ incremental dedup
  /** Delta-vs-corpus incremental dedup — the screen a CONTINUOUSLY
    * MAINTAINED corpus runs on each ingest batch: every incoming (delta)
    * document is classified against the existing corpus as an exact
    * duplicate, a near duplicate, or new, and the corpus side is NEVER
    * paired against itself. That asymmetry is the whole point at 100 TB:
    * re-running any self-join dedup over corpus ∪ delta re-pays the full
    * corpus shuffle per batch, while this shape touches the corpus only
    * to build (or in production, to read back) two persisted indexes —
    * the fingerprint index and the discriminative-shingle index — and
    * every join is delta-driven (the small side probes, pair buckets are
    * (delta-docs-per-key × corpus-docs-per-key), df-capped).
    *
    * Membership is the [[graft.operators.CurationOps]] md5-bucket rule
    * (first hex digit of md5(doc_id) ≥ 'd' → delta, 3/16 ≈ 19%), so the
    * batch boundary is deterministic and replayable. The near screen uses
    * the same df ≤ 50 discriminative universe and jaccard ≥ 0.2 contract
    * as [[ddNgramJaccard]], restricted to delta × corpus pairs, with the
    * best match = max rounded jaccard, ties to the lowest corpus doc_id.
    * Exact-matched delta docs are excluded from the near screen (their
    * verdict is already decided — no reason to pay their shingle join).
    * Delta-internal duplicates are intentionally out of scope here: they
    * are this same operator applied at the NEXT batch boundary, or a
    * within-batch [[ddExact]]/[[ddNgramJaccard]] over the delta alone.
    *
    * For batches too large for the df-capped exact shingle join, the
    * drop-in is [[ddMinHashLsh]]'s band machinery with the corpus band
    * table as the persisted index — same verdict schema, LSH recall
    * caveat applies. */
  /** (fp → lowest owning doc_id) over any frame that already carries a
    * `fp` column — the persisted index the exact tier of an incremental
    * ingest probes. Factored out so the STREAMING screen
    * ([[graft.streaming.StreamOps.streamingIncrementalExact]]) joins the
    * identical index as a static side. */
  private[graft] def fingerprintIndex(withFp: DataFrame): DataFrame =
    withFp.groupBy(col("fp")).agg(min(col("doc_id")).as("exact_id"))

  def ddIncremental(s: SparkSession, dir: String, dfCap: Int = GraftTuning.ShingleDfCap,
      threshold: Double = 0.2): DataFrame = {
    val flagged = docs(s, dir).withColumn("is_delta",
      substring(md5(col("doc_id").cast("string")), 1, 1) >= "d")
    // exact screen: corpus fingerprint index, delta probes it
    val fps = flagged.select(col("doc_id"), col("is_delta"),
      fingerprint(col("text")).as("fp"))
    val corpusFpIndex = fingerprintIndex(fps.filter(!col("is_delta")))
    val exact = fps.filter(col("is_delta"))
      .join(corpusFpIndex, Seq("fp"))
      .select(col("doc_id"), col("exact_id"))
    // near screen: delta shingles (minus exact-matched docs) probe the
    // corpus shingle index; df cap computed over the full table so the
    // universe matches ddNgramJaccard's contract
    val sh = discriminativeShingles(flagged, dfCap, carry = Seq("is_delta"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cnt = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val shDelta = sh.filter(col("is_delta"))
      .join(exact.select(col("doc_id")), Seq("doc_id"), "left_anti")
    val shCorpus = sh.filter(!col("is_delta"))
    val inter = shDelta.as("a").join(shCorpus.as("b"), col("a.hs") === col("b.hs"))
      .groupBy(col("a.doc_id").as("did"), col("b.doc_id").as("cid"))
      .agg(count(lit(1)).as("n_inter"))
    val scored = inter
      .join(cnt.as("ca"), col("did") === col("ca.doc_id"))
      .join(cnt.as("cb"), col("cid") === col("cb.doc_id"))
      .select(col("did"), col("cid"),
        round(col("n_inter") / (col("ca.n") + col("cb.n") - col("n_inter")), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("did"))
      .orderBy(col("jaccard").desc, col("cid"))
    val near = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("did").as("doc_id"), col("cid").as("near_id"),
        col("jaccard"))
    // verdict assembly over the delta roster; report is delta-sized —
    // materialize it, then release the shingle cache
    val report = flagged.filter(col("is_delta")).select(col("doc_id"))
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        when(col("exact_id").isNotNull, "exact")
          .when(col("near_id").isNotNull, "near")
          .otherwise("new").as("verdict"),
        coalesce(col("exact_id"), col("near_id")).as("match_id"),
        when(col("exact_id").isNull, col("jaccard")).as("jaccard"))
      .orderBy(col("doc_id"))
      .localCheckpoint()
    sh.unpersist()
    report
  }

  val ddIncrementalSql: String =
    raw"""WITH flagged AS (
      |  SELECT doc_id, text,
      |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) >= 'd' AS is_delta
      |  FROM documents
      |), fps AS (
      |  SELECT doc_id, is_delta,
      |    md5(array_to_string(regexp_split_to_array(trim(lower(text)), '\s+'), ' ')) AS fp
      |  FROM flagged
      |), corpus_fp AS (
      |  SELECT fp, MIN(doc_id) AS exact_id FROM fps WHERE NOT is_delta GROUP BY fp
      |), exact AS (
      |  SELECT f.doc_id, c.exact_id FROM fps f JOIN corpus_fp c USING (fp)
      |  WHERE f.is_delta
      |), toks AS (
      |  SELECT doc_id, is_delta, regexp_split_to_array(trim(text), '\s+') AS t
      |  FROM flagged
      |), sh0 AS (
      |  SELECT DISTINCT doc_id, is_delta,
      |    unnest(CASE WHEN len(t) >= 3
      |      THEN list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
      |      ELSE [] END) AS s
      |  FROM toks
      |), rare AS (
      |  SELECT s FROM sh0 GROUP BY s HAVING COUNT(*) <= ${GraftTuning.ShingleDfCap}
      |), sh AS (
      |  SELECT sh0.* FROM sh0 JOIN rare USING (s)
      |), cnt AS (
      |  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
      |), inter AS (
      |  SELECT a.doc_id AS did, b.doc_id AS cid, COUNT(*) AS n_inter
      |  FROM sh a JOIN sh b ON a.s = b.s
      |  WHERE a.is_delta AND NOT b.is_delta
      |    AND a.doc_id NOT IN (SELECT doc_id FROM exact)
      |  GROUP BY 1, 2
      |), scored AS (
      |  SELECT did, cid,
      |    ROUND(n_inter / (ca.n + cb.n - n_inter), 6) AS jaccard
      |  FROM inter
      |  JOIN cnt ca ON did = ca.doc_id
      |  JOIN cnt cb ON cid = cb.doc_id
      |  WHERE ROUND(n_inter / (ca.n + cb.n - n_inter), 6) >= 0.2
      |), near AS (
      |  SELECT did AS doc_id, cid AS near_id, jaccard
      |  FROM (SELECT *, ROW_NUMBER() OVER
      |          (PARTITION BY did ORDER BY jaccard DESC, cid) AS rn
      |        FROM scored)
      |  WHERE rn = 1
      |)
      |SELECT d.doc_id,
      |  CASE WHEN e.exact_id IS NOT NULL THEN 'exact'
      |       WHEN n.near_id IS NOT NULL THEN 'near'
      |       ELSE 'new' END AS verdict,
      |  COALESCE(e.exact_id, n.near_id) AS match_id,
      |  CASE WHEN e.exact_id IS NULL THEN n.jaccard END AS jaccard
      |FROM (SELECT doc_id FROM flagged WHERE is_delta) d
      |LEFT JOIN exact e USING (doc_id)
      |LEFT JOIN near n USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  // ------------------------------------- cluster-scoped semantic dedup
  /** SemDeDup as published (Abbas et al. 2023): CLUSTER first, then prune
    * near-duplicates only WITHIN each cluster — the shape that makes
    * semantic dedup tractable when n² pair work is impossible. Assignment
    * against k deterministic seed centroids
    * ([[EmbeddingOps.seedAssignment]]); within a cluster, a vector is
    * pruned when any LOWER vec_id sits at cosine ≥ `thr` (the min-id
    * survivor rule of [[ddSemDedup]], restricted to cluster scope). Emits
    * (vec_id, cluster, keep) for every vector.
    *
    * Relationship to the siblings: [[ddSemDedup]] is the exact all-pairs
    * graph (the ground truth this corpus can afford), [[ddSemDedupAnn]]
    * bounds candidates by SRP-LSH buckets, and THIS bounds them by
    * cluster membership — pair work drops from O(n²) to O(Σ n_c²) ≈
    * n²/k for balanced clusters, so k is the scale dial: grow k ∝ n to
    * hold per-cluster pair work constant (the paper runs k≈100k on
    * LAION). Cross-cluster near-dups are invisible BY DESIGN — the
    * documented recall trade every cluster-scoped dedup makes.
    *
    * The dial is IN CODE (the r12 discipline: a scaladoc's sizing rule is
    * not a sizing rule): k = max(16, ⌈n/`clusterTarget`⌉), so balanced
    * pair work stays ≈ n·clusterTarget/2 at any corpus size instead of
    * n²/16 (the perturb-30× rung measured fixed k=16 at 12.9 s with the
    * quadratic curve still attached; the rule holds per-cluster size at
    * ~512 and the cost linear). Gate corpora (≤ 16·512 vectors) resolve
    * to exactly k=16, and the oracle replays the same rule via
    * [[EmbeddingOps.seedAssignCtesAuto]] (ROW_NUMBER + windowed COUNT —
    * portable data-dependent k), so the certification holds at ANY size,
    * the dd_signal_agreement sampler lesson.
    *
    * Scale: seeds broadcast (model state — k·d doubles even at auto-k:
    * 10⁹ vectors → ~2M seeds × 64 dims ≈ 1 GB, the point where seeding
    * itself becomes a kmeans job, as the paper's does); assignment
    * map-side; the pair probe is ONE cluster-keyed shuffle. Low k is safe
    * here only because per-cluster candidate sets are bounded — auto-k
    * restores parallelism exactly when it matters; a skewed giant cluster
    * would get the [[Salting]] treatment. */
  def ddSemDedupCluster(s: SparkSession, dir: String,
      clusterTarget: Int = 512, thr: Double = 0.4): DataFrame = {
    // this positional slot held the CLUSTER COUNT k before r12; a legacy
    // positional call like (s, dir, 32) would silently mean "32 vectors
    // per cluster" — fail loudly instead (any real size target is ≥ 64;
    // callers wanting an explicit k use EmbeddingOps.seedAssignment)
    require(clusterTarget >= 64,
      s"clusterTarget is a per-cluster SIZE target (k = ⌈n/target⌉), not " +
        s"a cluster count — got $clusterTarget")
    val n = Tables.load(s, dir, "embeddings").count()
    val k = math.max(16, math.ceil(n / clusterTarget.toDouble).toInt)
    val asg = EmbeddingOps.seedAssignment(s, dir, k, fan = false)
      .select(col("vec_id"), col("ve"), col("nrm"), col("cluster"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = asg.select(col("cluster"), col("vec_id").as("id_a"),
      col("ve").as("va"), col("nrm").as("na"))
    val b = asg.select(col("cluster"), col("vec_id").as("id_b"),
      col("ve").as("vb"), col("nrm").as("nb"))
    val pruned = a.join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .filter(round(graft.functions.VectorFunctions.dot(col("va"), col("vb"))
        / (col("na") * col("nb")), 6) >= thr)
      .select(col("id_b").as("vec_id")).distinct()
    val out = asg.select(col("vec_id"), col("cluster"))
      .join(pruned.withColumn("pr", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        when(col("pr").isNotNull, lit(0L)).otherwise(lit(1L)).as("keep"))
      .orderBy(col("vec_id"))
      .localCheckpoint()
    asg.unpersist()
    out
  }

  val ddSemDedupClusterSql: String =
    s"""WITH ${EmbeddingOps.seedAssignCtesAuto(16, 512)}, pruned AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM asg a JOIN asg b
       |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
       |  WHERE ROUND(list_dot_product(a.ve, b.ve) / (a.nrm * b.nrm), 6) >= 0.4
       |)
       |SELECT asg.vec_id, asg.cluster,
       |  CAST(CASE WHEN p.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM asg LEFT JOIN pruned p ON asg.vec_id = p.vec_id
       |ORDER BY asg.vec_id""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dd_semdedup_cluster" -> ((s: SparkSession, d: String) => ddSemDedupCluster(s, d)),
    "dd_contam_fraction" -> ((s: SparkSession, d: String) => ddContamFraction(s, d)),
    "dd_size_hist" -> (ddSizeHist _),
    "pipe_dedup_cascade" -> (pipeDedupCascade _),
    "dd_incremental_sem" -> ((s: SparkSession, d: String) => ddIncrementalSem(s, d)),
    "dd_eval_exposure" -> (ddEvalExposure _),
    "dd_decontam_cut" -> ((s: SparkSession, d: String) => ddDecontamCut(s, d)),
    "dd_exact" -> (ddExact _),
    "dd_ngram_jaccard" -> ((s: SparkSession, d: String) => ddNgramJaccard(s, d)),
    "dd_containment" -> ((s: SparkSession, d: String) => ddContainment(s, d)),
    "dd_minhash_lsh" -> ((s: SparkSession, d: String) => ddMinHashLsh(s, d)),
    "dd_simhash" -> (ddSimHashDupCheck _),
    "dd_simhash_pairs" -> ((s: SparkSession, d: String) => ddSimHashPairsCheck(s, d)),
    "dd_embed_cosine" -> ((s: SparkSession, d: String) => ddEmbeddingCosine(s, d)),
    "dd_cos_thresholds" -> ((s: SparkSession, d: String) => ddCosThresholds(s, d)),
    "dd_pair_evidence" -> ((s: SparkSession, d: String) => ddPairEvidence(s, d)),
    "dd_minhash_est" -> ((s: SparkSession, d: String) => ddMinHashEst(s, d)),
    "dd_jaccard_hist" -> ((s: SparkSession, d: String) => ddJaccardHist(s, d)),
    "dd_signal_agreement" -> ((s: SparkSession, d: String) => ddSignalAgreement(s, d)),
    "ds_group_split" -> (dsGroupSplit _),
    "dd_cross_source_spans" -> ((s: SparkSession, d: String) => ddCrossSourceSpans(s, d)),
    "dd_dedup_groups" -> (ddDedupGroups _),
    "dd_canonical" -> (ddCanonical _),
    "dd_semdedup" -> (ddSemDedup _),
    "dd_semdedup_ann" -> (ddSemDedupAnn _),
    "dd_decontaminate" -> ((s: SparkSession, d: String) => ddDecontaminate(s, d)),
    "dd_bloom" -> ((s: SparkSession, d: String) => ddBloomDecontaminate(s, d)),
    "dd_source_overlap" -> (ddSourceOverlap _),
    "dd_dup_rate" -> (ddDupRate _),
    "dd_substring_spans" -> ((s: SparkSession, d: String) => ddSubstringSpans(s, d)),
    "dd_substring_rate" -> ((s: SparkSession, d: String) => ddSubstringRate(s, d)),
    "dd_substring_cut" -> ((s: SparkSession, d: String) => ddSubstringCut(s, d)),
    "dd_substring_contam" -> ((s: SparkSession, d: String) => ddSubstringContamination(s, d)),
    "dd_incremental" -> ((s: SparkSession, d: String) => ddIncremental(s, d)),
  )

  val oracles: Map[String, String] = Map(
    "dd_semdedup_cluster" -> ddSemDedupClusterSql,
    "dd_contam_fraction" -> ddContamFractionSql,
    "dd_size_hist" -> ddSizeHistSql,
    "pipe_dedup_cascade" -> pipeDedupCascadeSql,
    "dd_incremental_sem" -> ddIncrementalSemSql,
    "dd_eval_exposure" -> ddEvalExposureSql,
    "dd_decontam_cut" -> ddDecontamCutSql,
    "dd_exact" -> ddExactSql,
    "dd_ngram_jaccard" -> ddNgramJaccardSql,
    "dd_containment" -> ddContainmentSql,
    "dd_minhash_lsh" -> ddMinHashLshSql,
    "dd_simhash" -> ddSimHashDupCheckSql,
    "dd_simhash_pairs" -> ddSimHashPairsCheckSql,
    "dd_embed_cosine" -> ddEmbeddingCosineSql,
    "dd_cos_thresholds" -> ddCosThresholdsSql,
    "dd_pair_evidence" -> ddPairEvidenceSql,
    "dd_minhash_est" -> ddMinHashEstSql,
    "dd_jaccard_hist" -> ddJaccardHistSql,
    "dd_signal_agreement" -> ddSignalAgreementSql,
    "ds_group_split" -> dsGroupSplitSql,
    "dd_cross_source_spans" -> ddCrossSourceSpansSql,
    "dd_dedup_groups" -> ddDedupGroupsSql,
    "dd_canonical" -> ddCanonicalSql,
    "dd_semdedup" -> ddSemDedupSql,
    // the ANN path's oracle is the EXACT pair graph's groups — valid
    // because SRP recall is complete on this corpus (dd_minhash_lsh
    // precedent); a real miss shows up as a split group and fails the gate
    "dd_semdedup_ann" -> ddSemDedupSql,
    "dd_decontaminate" -> ddDecontaminateSql,
    "dd_bloom" -> ddBloomDecontaminateSql,
    "dd_source_overlap" -> ddSourceOverlapSql,
    "dd_dup_rate" -> ddDupRateSql,
    "dd_substring_spans" -> ddSubstringSpansSql,
    "dd_substring_rate" -> ddSubstringRateSql,
    "dd_substring_cut" -> ddSubstringCutSql,
    "dd_substring_contam" -> ddSubstringContaminationSql,
    "dd_incremental" -> ddIncrementalSql,
  )
}
