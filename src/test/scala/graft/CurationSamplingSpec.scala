package graft

import graft.operators.{CurationOps, EmbeddingOps, SamplingOps}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariant checks for the curation / sampling / embedding-analytics
  * operators (their value-level correctness is driver-oracle-checked; these
  * pin the structural properties an oracle hash can't explain when it
  * breaks: determinism, conservation, monotonicity).
  */
class CurationSamplingSpec extends AnyFunSuite with TempDirs {
  private val dir = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = GraftSession.local("4")
  private def nDocs: Long = Tables.load(spark, dir, "documents").count()
  private def nVecs: Long = Tables.load(spark, dir, "embeddings").count()

  test("txt_repetition emits one bounded row per document") {
    val r = CurationOps.txtRepetition(spark, dir).collect()
    assert(r.length == nDocs)
    r.foreach { row =>
      assert(row.getLong(1) > 0)
      val dup = row.getDouble(2)
      assert(dup >= 0.0 && dup <= 1.0, s"dup_tok_frac $dup")
      assert(row.getDouble(4) > 0.0, "mean token length")
    }
  }

  test("ds_split partitions every document into train/val/test, stably") {
    val r = CurationOps.dsSplit(spark, dir)
    val rows = r.collect()
    assert(rows.map(_.getString(1)).toSet.subsetOf(Set("train", "val", "test")))
    assert(rows.map(_.getLong(2)).sum == nDocs)
    assert(r.collect().sameElements(rows), "split must be deterministic")
  }

  test("txt_tfidf ranks at most 3 descending terms per doc") {
    val byDoc = CurationOps.txtTfidf(spark, dir).collect()
      .groupBy(_.getLong(0)).values
    byDoc.foreach { rs =>
      assert(rs.length <= 3)
      val sorted = rs.sortBy(_.getInt(2))
      assert(sorted.map(_.getInt(2)).toSeq == (1 to rs.length).toSeq)
      val scores = sorted.map(_.getDouble(3))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        "tfidf must be non-increasing in rank")
    }
  }

  test("txt_chunks tiles every document with stride-48 windows") {
    val toks = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), size(split(trim(col("text")), "\\s+")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val byDoc = CurationOps.txtChunks(spark, dir).collect()
      .groupBy(_.getLong(0))
    assert(byDoc.keySet == toks.keySet)
    byDoc.foreach { case (id, rs) =>
      val n = toks(id)
      val want = if (n <= 64) 1 else 1 + math.ceil((n - 64) / 48.0).toInt
      assert(rs.length == want, s"doc $id: ${rs.length} chunks for $n tokens")
      val sorted = rs.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (0L until want).toSeq)
      // chunks cover the doc: last chunk ends at n
      val last = sorted.last
      assert(last.getLong(2) + last.getLong(3) - 1 == n)
      sorted.foreach(r => assert(r.getLong(3) <= 64))
    }
  }

  test("txt_pack packs the token stream contiguously") {
    val rows = CurationOps.txtPack(spark, dir).collect()
      .sortBy(_.getLong(0))
    var expectedOffset = 0L
    rows.foreach { r =>
      val (nTok, startSeq, endSeq) =
        (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(startSeq == expectedOffset / 1024)
      assert(endSeq == (expectedOffset + nTok - 1) / 1024)
      assert(startSeq <= endSeq)
      expectedOffset += nTok
    }
  }

  test("txt_funnel survivors are monotone and start at the corpus size") {
    val rows = CurationOps.txtFunnel(spark, dir).collect()
    assert(rows.length == 5)
    val surv = rows.sortBy(_.getLong(0)).map(_.getLong(2))
    assert(surv.head == nDocs)
    assert(surv.zip(surv.tail).forall { case (a, b) => a >= b },
      s"funnel must be non-increasing: ${surv.mkString(",")}")
    assert(surv.last > 0, "an all-filtering funnel checks nothing")
  }

  test("pipe_curate composes funnel, dedup, and split into a bounded report") {
    val rows = CurationOps.pipeCurate(spark, dir).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getString(0)).toSet.subsetOf(Set("train", "val", "test")))
    val kept = rows.map(_.getLong(2)).sum
    assert(kept > 0 && kept <= nDocs, "pipeline output is a filtered subset")
    // the pipeline can never keep more docs of a lang than exist
    val byLang = Tables.load(spark, dir, "documents")
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.groupBy(_.getString(1)).foreach { case (lang, rs) =>
      assert(rs.map(_.getLong(2)).sum <= byLang(lang))
    }
  }

  test("samp_stratified keeps all English and a hash-stable fraction elsewhere") {
    val r = SamplingOps.sampStratified(spark, dir)
    val rows = r.collect()
    rows.foreach { row =>
      val (total, kept) = (row.getLong(1), row.getLong(2))
      assert(kept <= total)
      if (row.getString(0) == "en") assert(kept == total, "en keeps everything")
    }
    assert(r.collect().sameElements(rows), "sampling must be replayable")
  }

  test("samp_fixed takes min(5, stratum) docs per source with contiguous ranks") {
    val sizes = Tables.load(spark, dir, "documents")
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val bySrc = SamplingOps.sampFixed(spark, dir).collect()
      .groupBy(_.getString(0))
    assert(bySrc.keySet == sizes.keySet)
    bySrc.foreach { case (src, rs) =>
      assert(rs.length == math.min(5L, sizes(src)))
      assert(rs.map(_.getLong(2)).sorted.toSeq == (1L to rs.length).toSeq)
    }
  }

  test("samp_weighted is replayable with contiguous per-stratum ranks") {
    val sizes = Tables.load(spark, dir, "documents")
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val r = SamplingOps.sampWeighted(spark, dir)
    val rows = r.collect()
    rows.groupBy(_.getString(0)).foreach { case (src, rs) =>
      assert(rs.length == math.min(5L, sizes(src)))
      assert(rs.map(_.getLong(2)).sorted.toSeq == (1L to rs.length).toSeq)
    }
    assert(r.collect().sameElements(rows), "weighted sample must be replayable")
  }

  test("mix_weights shares sum to 1 and weights flatten the mix") {
    val rows = SamplingOps.mixWeights(spark, dir).collect()
    val shareSum = rows.map(_.getDouble(3)).sum
    assert(math.abs(shareSum - 1.0) < 1e-3, s"share sum $shareSum")
    val s = rows.length.toDouble
    rows.foreach { r =>
      // weight * share == uniform share (up to the 6-decimal rounding)
      assert(math.abs(r.getDouble(4) * r.getDouble(3) - 1.0 / s) < 1e-3)
    }
  }

  test("ds_split_leakage is exactly the cross-split subset of the pair graph") {
    import graft.operators.DedupOps
    def split(id: Long): String = {
      val c = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.charAt(0)
      if (c < 'c') "train" else if (c < 'e') "val" else "test"
    }
    val pairs = DedupOps.ddNgramJaccard(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(5)))
    val want = pairs.collect { case (a, b, j) if split(a) != split(b) =>
      (a, b, split(a), split(b), j)
    }.toSet
    val got = CurationOps.dsSplitLeakage(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3),
        r.getDouble(4))).toSet
    assert(got == want)
    assert(got.nonEmpty, "sf0.001 is known to leak 8 pairs across splits — " +
      "an empty report means the audit is broken, not the corpus clean")
  }

  test("samp_dsir enriches the target source and ranks monotonically") {
    val r = SamplingOps.sampDsir(spark, dir)
    val rows = r.collect()
    assert(rows.length == 100)
    val ws = rows.map(_.getDouble(2))
    assert(ws.zip(ws.tail).forall { case (a, b) => a >= b },
      "log_w must be non-increasing down the report")
    assert(r.collect().sameElements(rows), "selection must be replayable")
    // the point of DSIR: target-like docs surface. src0 is 5% of the
    // corpus; its share of the top-100 must beat that base rate.
    val srcOf = Tables.load(spark, dir, "documents")
      .select("doc_id", "source").collect()
      .map(x => x.getLong(0) -> x.getString(1)).toMap
    val topSrc0 = rows.count(x => srcOf(x.getLong(0)) == "src0")
    val corpusSrc0 = srcOf.values.count(_ == "src0")
    assert(topSrc0.toDouble / rows.length >
      corpusSrc0.toDouble / srcOf.size,
      s"top-100 src0 share $topSrc0/100 not above base rate " +
        s"$corpusSrc0/${srcOf.size}")
  }

  test("txt_boilerplate matches a plain-Scala 5-gram document-frequency census") {
    import graft.operators.TextQueries
    val docsRaw = Tables.load(spark, dir, "documents")
      .select("text").collect().map(_.getString(0))
    val df = scala.collection.mutable.Map.empty[String, Long]
    docsRaw.foreach { t =>
      val toks = t.trim.split("\\s+")
      val grams = if (toks.length >= 5)
        (0 to toks.length - 5).map(i => toks.slice(i, i + 5).mkString(" ")).toSet
      else Set.empty[String]
      grams.foreach(g => df(g) = df.getOrElse(g, 0L) + 1)
    }
    val want = df.toSeq.sortBy { case (g, n) => (-n, g) }.take(20)
      .map { case (g, n) =>
        (g, n, BigDecimal(n.toDouble / docsRaw.length)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    val got = TextQueries.txtBoilerplate(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == want)
    assert(got.head._2 > 1, "top boilerplate gram must repeat across docs")
  }

  test("dd_canonical partitions the corpus and elects the longest member") {
    import graft.operators.DedupOps
    val groups = DedupOps.ddDedupGroups(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val chars = Tables.load(spark, dir, "documents")
      .select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = groups.groupBy(_._2).map { case (rep, members) =>
      val elected = members.map(_._1)
        .minBy(id => (-chars(id), id))
      (rep, members.length.toLong, elected, chars(elected))
    }.toSet
    val got = DedupOps.ddCanonical(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == want)
    assert(got.toSeq.map(_._2).sum == nDocs, "members partition the corpus")
    assert(got.exists(g => g._2 > 1 && g._3 != g._1),
      "sf0.001 has a multi-doc group whose longest member is not the min-id " +
        "rep — the election must actually move the canonical")
  }

  test("mix_budget greedy fill matches a plain-Scala recomputation") {
    import graft.functions.TextFunctions.EnglishStops
    val rows = Tables.load(spark, dir, "documents")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val scored = rows.map { case (id, src, text) =>
      val toks = text.trim.split("\\s+")
      val q = BigDecimal(toks.count(EnglishStops.contains).toDouble / toks.length)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (id, src, toks.length.toLong, q)
    }
    val totTokens = scored.map(_._3).sum
    val nSources = scored.map(_._2).distinct.length
    val budget = math.floor((0.3 * totTokens) / nSources).toLong
    val want = scored.groupBy(_._2).map { case (src, ds) =>
      var cum = 0L; var kept = 0L; var keptTok = 0L
      ds.sortBy(d => (-d._4, d._1)).foreach { d =>
        if (cum < budget) { kept += 1; keptTok += d._3 }
        cum += d._3
      }
      (src, budget, kept, keptTok)
    }.toSet
    val got = SamplingOps.mixBudget(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == want)
    got.foreach { case (src, b, _, keptTok) =>
      assert(keptTok >= b || keptTok == scored.filter(_._2 == src).map(_._3).sum,
        s"$src under budget without being exhausted") }
  }

  test("mix_budget keeps monotonically more under a larger budget fraction") {
    def roll(frac: Double): Map[String, (Long, Long, Long)] =
      SamplingOps.mixBudget(spark, dir, frac = frac).collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val small = roll(0.2)
    val large = roll(0.5)
    assert(small.keySet == large.keySet)
    small.keySet.foreach { src =>
      val (bS, dS, tS) = small(src)
      val (bL, dL, tL) = large(src)
      assert(bL > bS, s"$src budget must grow with frac")
      // greedy fill is a prefix of the same quality order, so a larger
      // budget can only extend the kept prefix — never swap or shrink it
      assert(dL >= dS && tL >= tS,
        s"$src kept ($dL docs/$tL tok) under frac=0.5 vs ($dS/$tS) at 0.2")
    }
  }

  test("emb_centroids emits labels x dims model-sized output") {
    val e = Tables.load(spark, dir, "embeddings")
    val labels = e.select("label").distinct().count()
    val dims = e.select(size(col("embedding"))).head().getInt(0)
    val rows = EmbeddingOps.embCentroids(spark, dir).collect()
    assert(rows.length == labels * dims)
    assert(rows.forall(r => !r.getDouble(2).isNaN))
  }

  test("emb_assign conserves the corpus") {
    val rows = EmbeddingOps.embAssign(spark, dir).collect()
    assert(rows.map(_.getLong(2)).sum == nVecs)
  }

  test("dd_semdedup labels every vector with a component-transitive rep") {
    import graft.operators.DedupOps
    val rows = DedupOps.ddSemDedup(spark, dir).collect()
    assert(rows.length == nVecs)
    val rep = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    // rep is idempotent (the canonical of a canonical is itself) and
    // every cosine pair landed in one group
    rep.foreach { case (_, g) => assert(rep(g) == g) }
    DedupOps.ddEmbeddingCosine(spark, dir).collect().foreach { p =>
      assert(rep(p.getLong(0)) == rep(p.getLong(1)),
        s"pair ${p.getLong(0)},${p.getLong(1)} split across groups")
    }
  }

  test("emb_outliers reports sane per-label moments and bounded outliers") {
    val rows = EmbeddingOps.embOutliers(spark, dir).collect()
    assert(rows.map(_.getLong(1)).sum == nVecs)
    rows.foreach { r =>
      assert(r.getDouble(2) >= -1.0 && r.getDouble(2) <= 1.0, "mean cosine range")
      assert(r.getDouble(3) >= 0.0, "std non-negative")
      // Chebyshev: at most 1/4 of a distribution sits below mean - 2*std
      assert(r.getLong(4) <= r.getLong(1) / 4 + 1, "outlier bound")
    }
  }

  test("ppl bucket approx (broadcast thresholds) agrees with exact NTILE ≥90%") {
    import graft.operators.TextQueries
    def buckets(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
      df.collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    val exact = buckets(TextQueries.txtPplBuckets(spark, dir))
    val approx = buckets(TextQueries.txtPplBucketsApprox(spark, dir))
    assert(exact.keySet == approx.keySet)
    val agree = exact.count { case (id, b) => approx(id) == b }
    assert(agree.toDouble / exact.size >= 0.9,
      s"approx bucket agreement ${agree.toDouble / exact.size}")
    // within every source, the approx path still yields all three buckets
    // non-degenerately (thresholds inside the ppl range)
    assert(approx.values.toSet == Set("head", "middle", "tail"))
  }

  test("emb_cov diagonal == dimstats variance; PCA eigenpair law holds") {
    val cov = EmbeddingOps.embCov(spark, dir).collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    // the matrix's diagonal IS dimstats' variance (std²), same rounding
    val stats = EmbeddingOps.embDimStats(spark, dir).collect()
    stats.foreach { r =>
      val (dim, std) = (r.getLong(0).toInt, r.getDouble(3))
      assert(math.abs(cov((dim, dim)) - std * std) < 2e-6,
        s"cov($dim,$dim)=${cov((dim, dim))} vs std²=${std * std}")
    }
    // eigenpair certification: empty violation set, and λ (recomputed the
    // operator's way) must dominate every single-axis variance
    assert(EmbeddingOps.embPcaCheck(spark, dir).collect().isEmpty,
      "PCA eigen-residual violations at sf0.001")
    val maxVar = stats.map(r => r.getDouble(3) * r.getDouble(3)).max
    val d = stats.length
    val c = Array.ofDim[Double](d, d)
    cov.foreach { case ((i, j), v) => c(i)(j) = v; c(j)(i) = v }
    var v = Array.tabulate(d)(i => 1.0 / math.sqrt(d))
    for (_ <- 1 to 300) {
      val w = Array.tabulate(d)(i => (0 until d).map(j => c(i)(j) * v(j)).sum)
      val nw = math.sqrt(w.map(x => x * x).sum)
      v = w.map(_ / nw)
    }
    val lambda = (0 until d).map(i =>
      v(i) * (0 until d).map(j => c(i)(j) * v(j)).sum).sum
    assert(lambda >= maxVar - 1e-9,
      s"top eigenvalue $lambda below max axis variance $maxVar")
  }

  test("emb_kmeans conserves the corpus and a Lloyd step never hurts") {
    def objective(iters: Int): (Long, Double) = {
      val rows = EmbeddingOps.embKmeans(spark, dir, k = 8, iters = iters).collect()
      val n = rows.map(_.getLong(1)).sum
      (n, rows.map(r => r.getLong(1) * r.getDouble(2)).sum / n)
    }
    val (n1, o1) = objective(1)
    val (n2, o2) = objective(2)
    assert(n1 == nVecs && n2 == nVecs)
    assert(o2 >= o1 - 1e-4,
      s"mean cosine fell from $o1 to $o2 after a Lloyd step")
  }

  test("ds_shuffle two-phase rank == collected global sort, deterministically") {
    // ground truth computed plain-Scala: the permutation IS the row_number
    // of the (md5(doc_id), doc_id) sort — the two-phase range-partitioned
    // rank must reproduce it exactly, at every parts setting (the offsets
    // logic is the part that can silently break: a wrong base shifts a
    // whole partition's ranks)
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val ids = Tables.load(spark, dir, "documents")
      .select(col("doc_id")).collect().map(_.getLong(0))
    val want = ids.map(id => (md5hex(id.toString), id)).sorted
      .zipWithIndex.map { case ((h, id), i) => id -> (i + 1L) }.toMap
    for (parts <- Seq(1, 4, 32)) {
      val got = SamplingOps.dsShuffle(spark, dir, parts).collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(got == want, s"parts=$parts: two-phase rank diverges from " +
        s"the global sort on ${got.toSet.diff(want.toSet).take(3)}")
    }
    // replayable: a fresh run emits the identical permutation
    val again = SamplingOps.dsShuffle(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(again == want, "shuffle must replay identically from ids alone")
  }

  test("samp_cluster_cap keeps exactly the hash-first cap per cluster") {
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    // cap >= corpus -> the full assignment (nothing truncated)
    val full = EmbeddingOps.sampClusterCap(spark, dir, cap = Int.MaxValue)
      .collect().map(r => r.getLong(0) -> r.get(1))
    assert(full.length == nVecs, "uncapped run must keep every vector")
    // the capped run must keep, per cluster, the first `cap` members of
    // the full assignment under (md5(vec_id), vec_id) order — the capping
    // is pure selection, never reassignment
    val cap = 5
    val want = full.groupBy(_._2).toSeq.flatMap { case (cl, members) =>
      members.map(_._1).sortBy(id => (md5hex(id.toString), id)).take(cap)
        .zipWithIndex.map { case (id, i) => (id, cl, i + 1L) }
    }.toSet
    val got = EmbeddingOps.sampClusterCap(spark, dir, cap = cap).collect()
      .map(r => (r.getLong(0), r.get(1), r.getLong(2))).toSet
    assert(got == want,
      s"missing=${(want -- got).take(3)} spurious=${(got -- want).take(3)}")
    // the scale property is IN THE PLAN: the rk <= cap filter must compile
    // to a WindowGroupLimit (map-side partial per-cluster limit), which is
    // what makes the low-cardinality cluster partition key safe at corpus
    // scale — reducers see tasks*cap rows per cluster, never the corpus
    val plan = EmbeddingOps.sampClusterCap(spark, dir, cap = cap)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"per-cluster cap lost its WindowGroupLimit pushdown:\n$plan")
  }

  test("mix_epochs matches a plain-Scala replay and obeys the epoch cap") {
    import graft.functions.TextFunctions.EnglishStops
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = Tables.load(spark, dir, "documents")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val perSrc = rows.groupBy(_._1).map { case (src, ds) =>
      val toks = ds.map(_._2.trim.split("\\s+"))
      val avail = toks.map(_.length.toLong).sum
      val stop = toks.map(_.count(EnglishStops.contains).toLong).sum
      (src, avail, r6(stop.toDouble / avail))
    }.toSeq
    val totTokens = perSrc.map(_._2).sum
    val z = perSrc.map(t => BigDecimal(t._3)).sum.toDouble
    val want = perSrc.map { case (src, avail, q) =>
      val w = q / z
      val desired = 2.0 * totTokens * w
      val epochs = math.min(4.0, desired / avail)
      val eff = math.floor(epochs * avail).toLong
      (src, avail, r6(w), r6(epochs), eff,
        math.max(0L, math.ceil(desired).toLong - eff))
    }.toSet
    val got = SamplingOps.mixEpochs(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4), r.getLong(5))).toSet
    assert(got == want,
      s"missing=${(want -- got).take(3)} spurious=${(got -- want).take(3)}")
    got.foreach { case (src, avail, w, epochs, eff, deficit) =>
      assert(w > 0 && epochs > 0 && epochs <= 4.0, s"$src epochs=$epochs")
      assert(eff <= 4L * avail, s"$src eff_tokens past the cap")
      // uncapped sources fill their desired slice to floor/ceil slack;
      // a real deficit (> 1 token) can only come from the cap binding
      if (epochs < 4.0) assert(deficit <= 1L, s"$src uncapped but short")
    }
  }

  test("txt_quality_cal quantiles match a plain-Scala histogram replay") {
    import graft.functions.TextFunctions.EnglishStops
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = Tables.load(spark, dir, "documents")
      .select("doc_id", "source", "text").collect()
      .map { r =>
        val toks = r.getString(2).trim.split("\\s+")
        (r.getString(1), r6(toks.count(EnglishStops.contains).toDouble / toks.length))
      }
    def qtile(sorted: Seq[Double], p: Double): Double =
      sorted(math.ceil(p * sorted.length).toInt - 1)
    val tau = qtile(rows.map(_._2).sorted.toIndexedSeq, 0.5)
    val want = rows.groupBy(_._1).map { case (src, ds) =>
      val qs = ds.map(_._2).sorted.toIndexedSeq
      (src, qs.length.toLong, qtile(qs, 0.1), qtile(qs, 0.5), qtile(qs, 0.9),
        tau, qs.count(_ >= tau).toLong)
    }.toSet
    val got = CurationOps.txtQualityCal(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getLong(6))).toSet
    assert(got == want,
      s"missing=${(want -- got).take(3)} spurious=${(got -- want).take(3)}")
    // the calibration table must explain the global keep volume: summing
    // n_keep over sources = corpus docs at or above the global median
    assert(got.toSeq.map(_._7).sum == rows.count(_._2 >= tau).toLong)
  }

  test("emb_cluster_purity == plain-Scala replay; entropy/share laws hold") {
    val vecs = Tables.load(spark, dir, "embeddings")
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(_.toDouble).toArray))
      .sortBy(_._1)
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def d15(x: Double): BigDecimal =
      BigDecimal(x).setScale(15, BigDecimal.RoundingMode.HALF_UP)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def nrm(a: Array[Double]): Double = math.sqrt(dot(a, a))
    val seeds = vecs.take(16).map { case (id, _, v) => (id, v.map(r6)) }
    val byCluster = vecs.map { case (id, lab, v) =>
      val n = nrm(v)
      val best = seeds.map { case (c, cv) => (c, dot(v, cv) / (n * nrm(cv))) }
        .maxBy { case (c, cos) => (cos, -c) }._1
      (best, lab)
    }.groupBy(_._1)
    val want = byCluster.map { case (cl, members) =>
      val counts = members.groupBy(_._2).map(_._2.length.toLong)
      val n = counts.sum
      val ent = counts.map { c =>
        val p = c.toDouble / n.toDouble; d15(-p * math.log(p))
      }.sum.toDouble
      (cl, n, counts.size.toLong,
        r6(counts.max.toDouble / n.toDouble), r6(ent))
    }.toSet
    val got = EmbeddingOps.embClusterPurity(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSet
    assert(got == want,
      s"missing=${(want -- got).take(3)} spurious=${(got -- want).take(3)}")
    // conservation + information bounds
    assert(got.toSeq.map(_._2).sum == nVecs)
    got.foreach { case (cl, n, nl, ts, ent) =>
      assert(ts >= 1.0 / nl - 1e-9 && ts <= 1.0, s"cluster $cl top_share $ts")
      assert(ent >= -1e-9 && ent <= math.log(nl.toDouble) + 1e-9,
        s"cluster $cl entropy $ent outside [0, ln($nl)]")
      assert((nl == 1) == (ent == 0.0), s"cluster $cl: pure iff zero entropy")
      assert(n >= nl)
    }
  }

  test("mix_doremi: excess-proportional weights, smoothed floor, sum to 1") {
    val rows = SamplingOps.mixDoremi(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    val srcs = Tables.load(spark, dir, "documents")
      .select("source").distinct().collect().map(_.getString(0)).toSet
    assert(rows.map(_._1).toSet == srcs, "one row per source")
    val ns = rows.length
    // rounding each of ns weights to 6 decimals moves the sum < ns·5e-7
    assert(math.abs(rows.map(_._5).sum - 1.0) < ns * 5e-7,
      s"weights sum to ${rows.map(_._5).sum}")
    val alpha = 0.2
    rows.foreach { case (src, nd, mnll, ex, w) =>
      assert(nd > 0 && mnll > 0.0, s"$src: n_docs $nd mean_nll $mnll")
      assert(ex >= 0.0, s"$src: negative excess $ex")
      assert(w >= alpha / ns - 1e-6, s"$src: weight $w below uniform floor")
    }
    assert(rows.map(_._4).min == 0.0, "easiest source defines zero excess")
    // weight is monotone in excess (same affine map for every source)
    val sorted = rows.sortBy(_._4).toSeq
    sorted.sliding(2).withFilter(_.length == 2).foreach { w2 =>
      val (a, b) = (w2(0), w2(1))
      assert(a._5 <= b._5 + 1e-9,
        s"${a._1} excess ${a._4} weight ${a._5} vs ${b._1} ${b._4} ${b._5}")
    }
  }

  test("emb_quant_error: zero bound violations, consistent with a replay") {
    val rows = EmbeddingOps.embQuantError(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getLong(4)))
    val vecs = Tables.load(spark, dir, "embeddings")
      .select("label", "embedding").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    assert(rows.map(_._2).sum == vecs.map(_._2.length.toLong).sum)
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // plain-Scala replay of the shipped quantizer's per-label max error
    val wantMax = vecs.groupBy(_._1).map { case (lab, g) =>
      lab -> r6(g.flatMap { case (_, v) =>
        val scale = v.map(math.abs).max / 127.0
        if (scale == 0.0) v.map(math.abs)
        else v.map(x => math.abs(x -
          math.max(-127.0, math.min(127.0, math.floor(x / scale + 0.5))) * scale))
      }.max)
    }
    rows.foreach { case (lab, _, mx, me, viol) =>
      assert(viol == 0L,
        s"label $lab: $viol elements exceed the scale/2 error bound")
      assert(me <= mx + 1e-9 && me >= 0.0)
      assert(mx == wantMax(lab), s"label $lab max err $mx != ${wantMax(lab)}")
    }
  }

  test("mix_anneal interpolates natural → uniform, each epoch summing to 1") {
    val rows = SamplingOps.mixAnneal(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val byEpoch = rows.groupBy(_._1)
    assert(byEpoch.keySet == Set(0L, 1L, 2L, 3L))
    val ns = rows.map(_._2).distinct.length
    byEpoch.foreach { case (e, g) =>
      assert(g.length == ns)
      assert(math.abs(g.map(_._3).sum - 1.0) < ns * 5e-7, s"epoch $e sum")
    }
    // endpoints: epoch 0 == natural token shares, epoch 3 == uniform
    val natural = SamplingOps.mixWeights(spark, dir).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    byEpoch(0L).foreach { case (_, src, w) =>
      assert(math.abs(w - natural(src)) <= 1e-6, s"$src epoch0 $w")
    }
    byEpoch(3L).foreach { case (_, src, w) =>
      assert(math.abs(w - 1.0 / ns) <= 1e-6, s"$src epoch3 $w")
    }
    // the path is monotone: each source's weight moves one way only
    rows.groupBy(_._2).foreach { case (src, g) =>
      val ws = g.sortBy(_._1).map(_._3).toSeq
      val diffs = ws.sliding(2).collect { case Seq(a, b) => b - a }.toSeq
      assert(diffs.forall(_ >= -1e-9) || diffs.forall(_ <= 1e-9),
        s"$src weight path not monotone: $ws")
    }
  }

  test("emb_centroid_drift == plain-Scala split-half replay; drift is small") {
    val vecs = Tables.load(spark, dir, "embeddings")
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(_.toDouble).toArray))
    def md5head(id: Long): Char =
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.head
    def d15(x: Double): BigDecimal =
      BigDecimal(x).setScale(15, BigDecimal.RoundingMode.HALF_UP)
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val d = vecs.head._3.length
    def centroid(g: Seq[Array[Double]]): IndexedSeq[Double] =
      (0 until d).map(j => r6(g.map(v => d15(v(j))).sum.toDouble / g.length))
    val want = vecs.groupBy(_._2).flatMap { case (lab, g) =>
      val (h0, h1) = g.partition(v => md5head(v._1) < '8')
      if (h0.isEmpty || h1.isEmpty) None
      else {
        val (c0, c1) = (centroid(h0.map(_._3).toSeq), centroid(h1.map(_._3).toSeq))
        val drifts = (0 until d).map(j => math.abs(c0(j) - c1(j)))
        Some((lab.toLong, d.toLong, r6(drifts.max) + 0.0,
          r6(drifts.map(d15(_)).sum.toDouble / d) + 0.0))
      }
    }.toSet
    val got = EmbeddingOps.embCentroidDrift(spark, dir).collect()
      .map(r => (r.getInt(0).toLong, r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSet
    assert(got == want,
      s"missing=${(want -- got).take(2)} spurious=${(got -- want).take(2)}")
    // stability: on the generated per-label Gaussians, split halves agree
    // to well under the cluster separation scale
    got.foreach { case (lab, _, mx, mn) =>
      assert(mx >= mn && mn >= 0.0, s"label $lab")
    }
  }

  test("samp_coreset == plain-Scala greedy k-center; radius curve decreases") {
    val vecs = Tables.load(spark, dir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .sortBy(_._1)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def cosDist(a: Array[Double], b: Array[Double]): Double =
      1.0 - dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val k = 8
    var chosen = Vector((vecs.head._1, 0.0))
    val byId = vecs.toMap
    for (_ <- 2 to k) {
      val ids = chosen.map(_._1).toSet
      val pick = vecs.filter(v => !ids(v._1))
        .map { case (id, v) =>
          (id, chosen.map(c => cosDist(v, byId(c._1))).min)
        }
        .maxBy { case (id, md) => (md, -id) }
      chosen = chosen :+ pick
    }
    val want = chosen.zipWithIndex.map { case ((id, md), i) =>
      (i + 1L, id, r6(md) + 0.0)
    }.toSet
    val got = EmbeddingOps.sampCoreset(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want,
      s"missing=${(want -- got).take(3)} spurious=${(got -- want).take(3)}")
    // k-center law: the selection-time radius never increases
    val curve = got.toSeq.sortBy(_._1).map(_._3)
    curve.drop(1).sliding(2).withFilter(_.length == 2).foreach { w =>
      assert(w(0) >= w(1) - 1e-9, s"radius curve rose: $curve")
    }
    assert(got.map(_._2).size == k, "k distinct vectors chosen")
  }

  test("dd_size_hist conserves the corpus and matches the exact-dup groups") {
    val hist = graft.operators.DedupOps.ddSizeHist(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(hist.map(_._3).sum == nDocs, "Σ n_docs must equal the corpus")
    assert(math.abs(hist.map(_._4).sum - 1.0) < hist.length * 5e-7,
      "doc shares must sum to 1")
    val groups = graft.operators.DedupOps.ddExact(spark, dir).collect()
      .map(_.getLong(2))
    hist.foreach { case (sz, ng, nd, _) =>
      assert(groups.count(_ == sz).toLong == ng, s"size-$sz group count")
      assert(nd == sz * ng)
    }
  }

  test("txt_fertility is consistent with txt_tokens sums and fertility laws") {
    val fert = graft.operators.TextQueries.txtFertility(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6)))
    assert(fert.map(_._2).sum == nDocs, "n_docs conserves the corpus")
    // cross-check the sums against the per-doc txt_tokens report
    val srcOf = Tables.load(spark, dir, "documents")
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val perDoc = graft.operators.TextQueries.txtTokens(spark, dir).collect()
      .map(r => (srcOf(r.getLong(0)), r.getLong(1), r.getLong(3), r.getLong(2)))
    val wantSums = perDoc.groupBy(_._1).map { case (src, g) =>
      src -> ((g.map(_._2).sum, g.map(_._3).sum, g.map(_._4).sum))
    }
    fert.foreach { case (src, _, ws, bpe, chars, bpw, cpb) =>
      val (wWs, wBpe, wChars) = wantSums(src)
      assert((ws, bpe, chars) == ((wWs, wBpe, wChars)), s"$src sums diverge")
      // a whitespace word splits into >= 1 BPE pieces; a piece has >= 1 char
      assert(bpw >= 1.0 - 1e-9, s"$src bpe_per_word $bpw < 1")
      assert(cpb >= 1.0 - 1e-9, s"$src chars_per_bpe $cpb < 1")
    }
  }

  test("emb_rp projection matches a plain-Scala replay and preserves norms") {
    val k = 16
    val vecs = Tables.load(spark, dir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toIndexedSeq)
    // the production Scala-side matrix (rpRecallCheck's plan literal) must
    // BE the ground truth here — that is what pins it equal to the
    // operator's Spark-md5 derivation
    val matrix = EmbeddingOps.rpSignMatrix(vecs.head._2.length, k)
    def sgn(dim: Int, rdim: Int): Int = matrix(rdim)(dim)
    val want = vecs.flatMap { case (id, v) =>
      (0 until k).map { j =>
        val s = v.indices.map { i =>
          val xd = BigDecimal(v(i).toDouble)
            .setScale(15, BigDecimal.RoundingMode.HALF_UP)
          if (sgn(i, j) == 1) xd else -xd
        }.sum
        val proj = BigDecimal(s.toDouble / math.sqrt(k.toDouble))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (id, j.toLong, proj)
      }
    }.toSet
    val got = EmbeddingOps.embRp(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want,
      s"missing=${(want -- got).take(3)} spurious=${(got -- want).take(3)}")
    // the JL property this operator exists for: the 1/sqrt(k)-scaled
    // Rademacher projection preserves squared norms in expectation -- the
    // corpus-mean ratio ||proj||^2 / ||x||^2 concentrates near 1
    val projNorm = got.toSeq.groupBy(_._1)
      .map { case (id, ps) => id -> ps.map(p => p._3 * p._3).sum }
    val ratios = vecs.map { case (id, v) =>
      projNorm(id) / v.map(x => x.toDouble * x.toDouble).sum
    }
    val mean = ratios.sum / ratios.length
    assert(mean > 0.7 && mean < 1.3,
      f"JL norm-preservation broken: mean ratio $mean%.3f over ${ratios.length} vecs")
  }

  // ----------------------------------------------------- txt_langid_margin
  test("txt_langid_margin == plain-Scala marker replay; pred matches txt_langid") {
    import graft.functions.TextFunctions.LangMarkers
    val corpus = Tables.load(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val want = corpus.map { case (id, t) =>
      val toks = t.trim.split("\\s+")
      val scores = LangMarkers.map { case (lang, m) =>
        lang -> toks.count(m.contains).toLong
      }
      val best = scores.map(_._2).max
      val pred = scores.find { case (_, sc) => sc > 0 && sc == best }
        .map(_._1).getOrElse("und")
      val desc = scores.map(_._2).sorted.reverse
      (id, pred, desc(0), desc(1), desc(0) - desc(1),
        if (desc(0) == 0 || desc(0) == desc(1)) 1L else 0L)
    }.toSet
    val got = graft.operators.TextQueries.txtLangIdMargin(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(got == want,
      s"missing=${(want -- got).take(3)} spurious=${(got -- want).take(3)}")
    // the per-doc argmax must roll up to txt_langid's distribution exactly
    val dist = got.toSeq.groupBy(_._2).map { case (l, g) => l -> g.size.toLong }
    val langid = graft.operators.TextQueries.txtLangId(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dist == langid, s"$dist != $langid")
    // an ambiguous doc never has a positive margin
    got.foreach { case (id, _, _, _, m, amb) =>
      assert((amb == 1L) == (m == 0L), s"doc $id margin=$m amb=$amb") }
  }

  // ------------------------------------------------------- samp_softdedup
  test("samp_softdedup weights: group mass ~1, multiplicities match dd_exact") {
    val rows = SamplingOps.sampSoftDedup(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4)))
    assert(rows.length == nDocs)
    // multiplicities agree with the exact-dedup group sizes
    val copies = graft.operators.DedupOps.ddExact(spark, dir).collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap // keep_doc_id -> n_copies
    val bySize = rows.groupBy(_._2).map { case (n, g) => n -> g.size.toLong }
    val wantBySize = copies.values.groupBy(identity)
      .map { case (n, g) => n -> n * g.size } // n docs per group of size n
    assert(bySize == wantBySize, s"$bySize != $wantBySize")
    rows.foreach { case (id, n, tok, w, eff) =>
      assert(math.abs(w - BigDecimal(1.0 / n)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-12, s"doc $id")
      assert(math.abs(eff - BigDecimal(tok.toDouble / n)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-12, s"doc $id eff")
    }
    // soft-dedup's point: every duplicate group contributes ~unit mass
    rows.groupBy(_._2).foreach { case (n, g) =>
      // groups of size n appear g.size/n times; total weight = g.size/n
      val mass = g.map(_._4).sum
      assert(math.abs(mass - g.size.toDouble / n) < 1e-3, s"size-$n mass")
    }
  }

  // ---------------------------------------------------- txt_vocab_coverage
  test("txt_vocab_coverage == plain-Scala ranked-coverage replay; curve laws") {
    val toks = Tables.load(spark, dir, "documents")
      .select("text").collect()
      .flatMap(_.getString(0).trim.toLowerCase.split("\\s+")).toSeq
    val cf = toks.groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    val ranked = cf.toSeq.sortBy { case (t, c) => (-c, t) }
    val total = toks.size.toLong
    val ks = Seq(10, 100, 1000, 10000)
    val want = ks.map { k =>
      val top = ranked.take(k)
      val cov = top.map(_._2).sum
      (k.toLong, top.size.toLong, cov, total,
        BigDecimal(cov.toDouble / total)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toSet
    val got = graft.operators.TextQueries.txtVocabCoverage(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSet
    assert(got == want,
      s"missing=${(want -- got).take(3)} spurious=${(got -- want).take(3)}")
    // curve laws: coverage non-decreasing in k; closes at 1.0 once k >= vocab
    val curve = got.toSeq.sortBy(_._1)
    curve.sliding(2).withFilter(_.length == 2).foreach { w =>
      assert(w(0)._5 <= w(1)._5 + 1e-12, s"coverage dips at k=${w(1)._1}") }
    curve.foreach(r => assert(r._2 == r._1.min(cf.size.toLong),
      s"n_types at k=${r._1} must be min(k, vocab)"))
    if (cf.size <= ks.max) assert(curve.last._5 == 1.0, "full-vocab coverage must close at 1.0")
  }

  // ------------------------------------------------------- emb_norm_hist
  test("emb_norm_hist == plain-Scala bucket replay; counts conserve") {
    val vecs = Tables.load(spark, dir, "embeddings")
      .select("label", "embedding").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    val want = vecs.map { case (lab, v) =>
      var (acc, i) = (0.0, 0)
      while (i < v.length) { acc += v(i) * v(i); i += 1 }
      (lab, math.floor(math.sqrt(acc) * 4) / 4)
    }.groupBy(identity).map { case ((lab, b), g) => (lab, b, g.size.toLong) }.toSet
    val got = EmbeddingOps.embNormHist(spark, dir).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getLong(2))).toSet
    assert(got == want,
      s"missing=${(want -- got).take(3)} spurious=${(got -- want).take(3)}")
    assert(got.toSeq.map(_._3).sum == nVecs, "histogram must conserve vectors")
  }

  // -------------------------------------------------- evt_hourly_profile
  test("evt_hourly_profile == plain-Scala UTC-hour replay; shares sum to 1") {
    val evs = Tables.load(spark, dir, "events")
      .select(col("event_type"), col("ts")).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).toInstant
        .atZone(java.time.ZoneOffset.UTC).getHour.toLong))
    val want = evs.groupBy(identity).map { case ((t, h), g) => (t, h) -> g.size.toLong }
    val got = CurationOps.evtHourlyProfile(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.map(r => (r._1, r._2) -> r._3).toMap == want)
    got.groupBy(_._1).foreach { case (t, g) =>
      val tot = g.map(_._3).sum.toDouble
      g.foreach { case (_, h, n, sh) =>
        assert(math.abs(sh - BigDecimal(n / tot)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9, s"$t/$h") }
      assert(math.abs(g.map(_._4).sum - 1.0) < 1e-4, s"type $t shares")
    }
  }

  // ---------------------------------------------------------- pipe_summary
  test("pipe_summary == plain-Scala corpus profile; consistent with dd_exact") {
    val d = Tables.load(spark, dir, "documents")
      .select("doc_id", "source", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    val toks = d.map(_._4.trim.split("\\s+").length.toLong)
    val fps = d.map(_._4.trim.toLowerCase.split("\\s+").mkString(" "))
    val copies = fps.groupBy(identity).map { case (f, g) => f -> g.size }
    val row = CurationOps.pipeSummary(spark, dir).collect().head
    assert(row.getLong(0) == d.length.toLong)
    assert(row.getLong(1) == toks.sum)
    assert(row.getLong(2) == d.map(_._2).distinct.length.toLong)
    assert(row.getLong(3) == d.map(_._3).distinct.length.toLong)
    assert(row.getLong(4) == fps.count(f => copies(f) > 1).toLong)
    assert(math.abs(row.getDouble(5) - BigDecimal(toks.sum.toDouble / d.length)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    // dup share consistent with dd_exact: dup docs = total - groups-of-1...
    val groups = graft.operators.DedupOps.ddExact(spark, dir).collect()
      .map(r => r.getLong(2))
    assert(row.getLong(4) == groups.filter(_ > 1).sum,
      "n_dup_docs must equal the docs inside multi-copy fingerprint groups")
  }

  // ------------------------------------------------------ emb_label_margin
  test("emb_label_margin == plain-Scala rounded-centroid margin replay") {
    val vecs = Tables.load(spark, dir, "embeddings")
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(_.toDouble).toArray)).toSeq
    val dims = vecs.head._3.length
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val cents = vecs.groupBy(_._2).map { case (lab, g) =>
      lab -> Array.tabulate(dims) { d =>
        // DECIMAL-exact sum -> double -> /n -> round 6, the exact
        // centroidRows/centroidVectors op sequence
        r6(g.map(v => BigDecimal(v._3(d)).setScale(15,
          BigDecimal.RoundingMode.HALF_UP)).sum.toDouble / g.size)
      }
    }
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var (s0, i) = (0.0, 0); while (i < a.length) { s0 += a(i) * b(i); i += 1 }; s0
    }
    def nrm(a: Array[Double]): Double = math.sqrt(dot(a, a))
    val margins = vecs.map { case (_, lab, v) =>
      val scores = cents.map { case (cl, cv) =>
        cl -> dot(v, cv) / (nrm(v) * nrm(cv))
      }
      lab -> (scores(lab) - scores.filter(_._1 != lab).values.max)
    }
    val want = margins.groupBy(_._1).map { case (lab, g) =>
      (lab, g.size.toLong,
        r6(g.map(m => BigDecimal(m._2).setScale(15,
          BigDecimal.RoundingMode.HALF_UP)).sum.toDouble / g.size),
        g.count(_._2 < 0).toLong)
    }.toSet
    val got = EmbeddingOps.embLabelMargin(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(got == want,
      s"missing=${(want -- got).take(3)} spurious=${(got -- want).take(3)}")
    // the audit's whole point is honesty about (non-)separability: the
    // report must bound its own confusion count, not assert separation
    got.foreach { case (lab, n, _, conf) =>
      assert(conf >= 0 && conf <= n, s"label $lab") }
  }

  // ----------------------------------------------------- evt_user_profiles
  test("evt_user_profiles == plain-Scala per-user feature replay") {
    val evs = Tables.load(spark, dir, "events")
      .select("user_id", "event_type", "value", "ts").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getTimestamp(3).getTime * 1000 +
          r.getTimestamp(3).getNanos / 1000 % 1000))
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = evs.groupBy(_._1).map { case (u, g) =>
      val days = g.map(_._4 / 86400000000L)
      val sumV = g.map(e => BigDecimal(e._3)
        .setScale(15, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
      (u, g.length.toLong, g.map(_._2).distinct.length.toLong,
        days.max - days.min + 1,
        r6(sumV / g.length), r6(g.map(_._3).max))
    }.toSet
    val got = CurationOps.evtUserProfiles(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5))).toSet
    assert(got == want,
      s"missing=${(want -- got).take(3)} spurious=${(got -- want).take(3)}")
  }

  // --------------------------------------------------------------- ds_kfold
  test("ds_kfold: md5-derived folds conserve docs and replay deterministically") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val d = Tables.load(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val want = d.map { case (id, t) =>
      val fold = java.lang.Long.parseLong(md5hex(id.toString).take(8), 16) % 5
      (fold, t.trim.split("\\s+").length.toLong)
    }.groupBy(_._1).map { case (f, g) =>
      (f, g.length.toLong, g.map(_._2).sum)
    }.toSet
    val got = CurationOps.dsKfold(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want,
      s"missing=${(want -- got).take(3)} spurious=${(got -- want).take(3)}")
    assert(got.toSeq.map(_._2).sum == nDocs, "folds must conserve docs")
    val again = CurationOps.dsKfold(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(again == got, "fold assignment must be replayable")
  }

  // ------------------------------------------------------- txt_collocations
  test("txt_collocations == plain-Scala PMI replay") {
    val texts = Tables.load(spark, dir, "documents")
      .select("text").collect().map(_.getString(0))
    val docsToks = texts.map(_.trim.toLowerCase.split("\\s+").toSeq)
    val pairCounts = docsToks.flatMap(t => t.zip(t.drop(1)))
      .groupBy(identity).map { case (p, g) => p -> g.size.toLong }
      .filter(_._2 >= 5)
    val uni = docsToks.flatten.groupBy(identity)
      .map { case (w, g) => w -> g.size.toLong }
    val nn = docsToks.map(_.size).sum.toDouble
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = pairCounts.toSeq.map { case ((a, b), nab) =>
      (a, b, nab, r6(math.log(nab.toDouble * nn / (uni(a).toDouble * uni(b).toDouble))))
    }.sortBy { case (a, b, _, pmi) => (-pmi, a, b) }
      .take(20).zipWithIndex
      .map { case ((a, b, nab, pmi), i) => (i + 1L, a, b, nab, pmi) }.toSet
    val got = CurationOps.txtCollocations(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3),
        r.getDouble(4))).toSet
    assert(got == want,
      s"missing=${(want -- got).take(3)} spurious=${(got -- want).take(3)}")
  }

  // --------------------------------------------------------------- evt_drift
  test("evt_drift == plain-Scala midpoint-split replay; shares sum to 1 per half") {
    val evs = Tables.load(spark, dir, "events")
      .select("event_type", "ts").collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime * 1000 +
        r.getTimestamp(1).getNanos / 1000 % 1000))
    val (lo, hi) = (evs.map(_._2).min, evs.map(_._2).max)
    val mid = (lo + hi) / 2 // integer floor, positive epochs
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val byType = evs.groupBy(_._1)
    val totE = evs.count(_._2 <= mid).toDouble
    val totL = evs.length - totE
    val want = byType.map { case (t, g) =>
      val ne = g.count(_._2 <= mid).toLong
      val nl = g.length - ne
      (t, ne, nl, r6(ne / totE), r6(nl / totL), r6(nl / totL - ne / totE))
    }.toSet
    val got = CurationOps.evtDrift(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))).toSet
    assert(got == want,
      s"missing=${(want -- got).take(3)} spurious=${(got -- want).take(3)}")
    assert(math.abs(got.toSeq.map(_._4).sum - 1.0) < 1e-4, "early shares")
    assert(math.abs(got.toSeq.map(_._5).sum - 1.0) < 1e-4, "late shares")
  }

  // ---------------------------------------------------------- txt_hash_embed
  test("txt_hash_embed == plain-Scala hashing-trick replay; mass conserves") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val d = Tables.load(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val want = d.flatMap { case (id, t) =>
      t.trim.toLowerCase.split("\\s+").map { tok =>
        (id, java.lang.Long.parseLong(md5hex(tok).take(8), 16) % 32)
      }
    }.groupBy(identity).map { case ((id, dm), g) => (id, dm, g.size.toLong) }.toSet
    val got = graft.operators.TextQueries.txtHashEmbed(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want,
      s"missing=${(want -- got).take(3)} spurious=${(got -- want).take(3)}")
    // conservation: bucket masses per doc sum to the doc's token count
    val tokCount = d.map { case (id, t) =>
      id -> t.trim.split("\\s+").length.toLong }.toMap
    got.groupBy(_._1).foreach { case (id, g) =>
      assert(g.toSeq.map(_._3).sum == tokCount(id), s"doc $id mass") }
  }

  // ------------------------------------------------------------ src_scorecard
  test("src_scorecard == plain-Scala per-source replay; consistent with pipe_summary") {
    val d = Tables.load(spark, dir, "documents")
      .select("source", "lang", "text").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = d.groupBy(_._1).map { case (src, g) =>
      val toks = g.map(_._3.trim.split("\\s+").length.toLong)
      val fps = g.map(_._3.trim.toLowerCase.split("\\s+").mkString(" "))
      val copies = fps.groupBy(identity).map { case (f, x) => f -> x.size }
      val dups = fps.count(copies(_) > 1).toLong
      (src, g.length.toLong, toks.sum, r6(toks.sum.toDouble / g.length),
        g.map(_._2).distinct.length.toLong, dups,
        r6(dups.toDouble / g.length))
    }.toSet
    val got = graft.operators.TextQueries.srcScorecard(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getLong(5), r.getDouble(6))).toSet
    assert(got == want,
      s"missing=${(want -- got).take(3)} spurious=${(got -- want).take(3)}")
    // volume totals must agree with the corpus-level pipe_summary row
    val sum0 = CurationOps.pipeSummary(spark, dir).collect().head
    assert(got.toSeq.map(_._2).sum == sum0.getLong(0), "doc totals")
    assert(got.toSeq.map(_._3).sum == sum0.getLong(1), "token totals")
  }

  // --------------------------------------------------------- evt_activity_hist
  test("evt_activity_hist == plain-Scala log2 buckets; conserves users and events") {
    val counts = Tables.load(spark, dir, "events")
      .select("user_id").collect().map(_.getLong(0))
      .groupBy(identity).map { case (_, g) => g.size.toLong }.toSeq
    val want = counts.groupBy(n => 63L - java.lang.Long.numberOfLeadingZeros(n))
      .map { case (b, g) => (b, g.size.toLong, g.sum) }.toSet
    val got = CurationOps.evtActivityHist(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want,
      s"missing=${(want -- got).take(3)} spurious=${(got -- want).take(3)}")
    assert(got.toSeq.map(_._2).sum == counts.length.toLong, "users conserve")
    assert(got.toSeq.map(_._3).sum == counts.sum, "events conserve")
  }

  // ---------------------------------------------------------- txt_signal_corr
  test("txt_signal_corr: |r| <= 1 and sign matches a plain-Scala estimate") {
    val row = graft.operators.TextQueries.txtSignalCorr(spark, dir).collect().head
    val (n, r) = (row.getLong(0), row.getDouble(1))
    assert(n == nDocs)
    assert(r >= -1.0 - 1e-9 && r <= 1.0 + 1e-9, s"r=$r out of range")
    // independent plain-Scala estimate (naive double sums — tolerance-based)
    val sig = Tables.load(spark, dir, "documents").select("text").collect()
      .map { rr =>
        val t = rr.getString(0)
        val toks = t.trim.split("\\s+")
        val stop = toks.count(Seq("the", "a", "an", "is", "are", "of", "to",
          "and", "in", "that", "it").contains).toDouble
        val punct = t.count("[.,!?;:()-]".toSet.map((c: Char) => c).contains).toDouble
        val q = math.min(math.max(
          math.min(toks.length / 64.0, 1.0) * 0.5 +
            math.min(stop / toks.length * 5.0, 1.0) * 0.4 +
            (1.0 - math.min(punct / math.max(t.length, 1) * 10.0, 1.0)) * 0.1,
          0.0), 1.0)
        (toks.length.toDouble, q)
      }
    val nn = sig.length.toDouble
    val (sx, sy) = (sig.map(_._1).sum, sig.map(_._2).sum)
    val sxy = sig.map(p => p._1 * p._2).sum
    val sxx = sig.map(p => p._1 * p._1).sum
    val syy = sig.map(p => p._2 * p._2).sum
    val rWant = (nn * sxy - sx * sy) /
      (math.sqrt(nn * sxx - sx * sx) * math.sqrt(nn * syy - sy * sy))
    assert(math.abs(r - rWant) < 1e-3, s"r=$r vs plain-Scala $rWant")
  }

  // -------------------------------------------------------------- evt_cadence
  test("evt_cadence == plain-Scala gap-moment replay") {
    val evs = Tables.load(spark, dir, "events")
      .select("user_id", "ts", "event_id").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime * 1000 +
        r.getTimestamp(1).getNanos / 1000 % 1000, r.getLong(2)))
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = evs.groupBy(_._1).flatMap { case (u, g) =>
      val us = g.sortBy(e => (e._2, e._3)).map(_._2)
      val gaps = us.zip(us.drop(1)).map(p => (p._2 - p._1).toDouble / 1000000.0)
      if (gaps.length < 2) None
      else {
        val s1 = gaps.map(x => BigDecimal(x)
          .setScale(15, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
        val s2 = gaps.map(x => BigDecimal(x * x)
          .setScale(15, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
        val n = gaps.length
        val m = s1 / n
        val sd = math.sqrt(math.max((s2 - s1 * s1 / n) / (n - 1).toDouble, 0.0))
        Some((u, n.toLong, r6(m), r6(if (m > 0.0) sd / m else 0.0)))
      }
    }.toSet
    val got = CurationOps.evtCadence(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toSet
    assert(got == want,
      s"missing=${(want -- got).take(3)} spurious=${(got -- want).take(3)}")
    got.foreach { case (u, _, mg, cv) =>
      assert(mg >= 0.0 && cv >= 0.0, s"user $u") }
  }

  // --------------------------------------------------------- emb_intrinsic_dim
  test("emb_intrinsic_dim == plain-Scala two-NN MLE replay") {
    val vecs = Tables.load(spark, dir, "embeddings")
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(_.toDouble).toArray)).toSeq
    def d2(a: Array[Double], b: Array[Double]): Double = {
      def dot(x: Array[Double], y: Array[Double]): Double = {
        var (s0, i) = (0.0, 0); while (i < x.length) { s0 += x(i) * y(i); i += 1 }; s0
      }
      dot(a, a) + dot(b, b) - dot(a, b) * 2
    }
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = vecs.groupBy(_._2).map { case (lab, g) =>
      val twos = g.flatMap { case (src, _, va) =>
        val ds = g.filter(_._1 != src)
          .map { case (dst, _, vb) => (d2(va, vb), dst) }
          .sortBy { case (d, dst) => (d, dst) }
        if (ds.length < 2) None else Some((ds(0)._1, ds(1)._1))
      }
      val used = twos.filter(_._1 > 0.0)
      val slm = used.map { case (d1, dn) =>
        BigDecimal(math.log(dn / d1) * 0.5)
          .setScale(15, BigDecimal.RoundingMode.HALF_UP)
      }.sum.toDouble
      (lab, used.size.toLong, (twos.size - used.size).toLong,
        r6(used.size.toDouble / slm))
    }.toSet
    val got = graft.operators.SimilarityOps.embIntrinsicDim(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == want,
      s"missing=${(want -- got).take(3)} spurious=${(got -- want).take(3)}")
    // sanity: estimated intrinsic dim is positive and at most the ambient 64
    got.foreach { case (lab, _, _, dh) =>
      assert(dh > 0.0 && dh < 200.0, s"label $lab d_hat=$dh") }
  }

  // ------------------------------------------------------------ mix_effective
  test("mix_effective: shares sum to 1, shifts sum to 0, dups only lose share") {
    val rows = SamplingOps.mixEffective(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-4, "raw shares")
    assert(math.abs(rows.map(_._5).sum - 1.0) < 1e-4, "eff shares")
    assert(math.abs(rows.map(_._6).sum) < 1e-4, "shifts are zero-sum")
    rows.foreach { case (src, raw, eff, rs, es, shift) =>
      assert(eff <= raw + 1e-6, s"$src effective cannot exceed raw")
      assert(math.abs(shift - (es - rs)) < 2e-6, s"$src shift identity")
    }
    // consistency with softdedup: per-corpus effective mass must match the
    // doc-level eff_tokens rollup
    val docEff = SamplingOps.sampSoftDedup(spark, dir).collect()
      .map(_.getDouble(4)).sum
    assert(math.abs(rows.map(_._3).sum - docEff) < 1e-3,
      "source rollup must equal the doc-level effective-token mass")
  }

  // ------------------------------------------------------------ mix_temp_sweep
  test("mix_temp_sweep == plain-Scala ladder replay; flattening laws hold") {
    val toks = Tables.load(spark, dir, "documents")
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1).trim.split("\\s+").length.toLong))
    val perSrc = toks.groupBy(_._1).map { case (s0, g) => s0 -> g.map(_._2).sum }
    val tot = perSrc.values.sum.toDouble
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def d15(x: Double): BigDecimal = BigDecimal(x)
      .setScale(15, BigDecimal.RoundingMode.HALF_UP)
    val want = Seq(0.3, 0.5, 0.7, 1.0).map { tau =>
      val p = perSrc.map { case (s0, n) =>
        s0 -> d15(math.exp(tau * math.log(n / tot))) }
      val z = p.values.sum.toDouble
      val w = p.map { case (s0, pv) => s0 -> pv.toDouble / z }
      val h = w.values.map(x => d15(x * math.log(x))).sum.toDouble
      (tau, r6(math.exp(-h)), r6(w.values.max))
    }.toSet
    val got = SamplingOps.mixTempSweep(spark, dir).collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2))).toSet
    assert(got == want,
      s"missing=${(want -- got).take(3)} spurious=${(got -- want).take(3)}")
    // flattening laws: lower tau -> more effective sources, smaller max weight
    val curve = got.toSeq.sortBy(_._1)
    curve.sliding(2).withFilter(_.length == 2).foreach { p =>
      assert(p(0)._2 >= p(1)._2 - 1e-9, s"eff_sources dips at tau=${p(1)._1}")
      assert(p(0)._3 <= p(1)._3 + 1e-9, s"max_w rises at tau=${p(1)._1}")
    }
    val nSrc = perSrc.size.toDouble
    curve.foreach { case (tau, eff, _) =>
      assert(eff <= nSrc + 1e-6, s"tau=$tau eff_sources exceeds source count") }
  }

  // ------------------------------------------------------------ evt_gap_sweep
  test("evt_gap_sweep == plain-Scala session-count replay; monotone in gap") {
    val evs = Tables.load(spark, dir, "events")
      .select("user_id", "ts", "event_id").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime * 1000 +
        r.getTimestamp(1).getNanos / 1000 % 1000, r.getLong(2)))
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val gaps = evs.groupBy(_._1).values.flatMap { g =>
      val us = g.sortBy(e => (e._2, e._3)).map(_._2)
      us.zip(us.drop(1)).map(p => p._2 - p._1)
    }.toSeq
    val nu = evs.map(_._1).distinct.length.toLong
    val ne = evs.length.toLong
    val want = Seq(900L, 1800L, 3600L).map { t =>
      val ns = nu + gaps.count(_ > t * 1000000L)
      (t, ns, r6(ne.toDouble / ns))
    }.toSet
    val got = CurationOps.evtGapSweep(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want,
      s"missing=${(want -- got).take(3)} spurious=${(got -- want).take(3)}")
    val curve = got.toSeq.sortBy(_._1)
    curve.sliding(2).withFilter(_.length == 2).foreach { p =>
      assert(p(0)._2 >= p(1)._2, s"session count rises at gap=${p(1)._1}") }
    // the 1800 s rung must agree with q38's sessionization (same gap)
    val q38 = graft.operators.RelationalQueries.q38Sessionize(spark, dir).count()
    assert(curve.find(_._1 == 1800L).get._2 == q38,
      "30-minute rung must equal the sessionize table's session count")
  }

  // ---------------------------------------------------------- emb_centroid_sim
  test("emb_centroid_sim == plain-Scala rounded-centroid cosine replay") {
    val vecs = Tables.load(spark, dir, "embeddings")
      .select("label", "embedding").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).map(_.toDouble).toArray)).toSeq
    val dims = vecs.head._2.length
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val cents = vecs.groupBy(_._1).map { case (lab, g) =>
      lab -> Array.tabulate(dims) { d =>
        r6(g.map(v => BigDecimal(v._2(d)).setScale(15,
          BigDecimal.RoundingMode.HALF_UP)).sum.toDouble / g.size)
      }
    }
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var (s0, i) = (0.0, 0); while (i < a.length) { s0 += a(i) * b(i); i += 1 }; s0
    }
    val want = (for {
      (a, ca) <- cents.toSeq; (b, cb) <- cents.toSeq if a < b
    } yield (a, b, r6(dot(ca, cb) /
      (math.sqrt(dot(ca, ca)) * math.sqrt(dot(cb, cb)))))).toSet
    val got = EmbeddingOps.embCentroidSim(spark, dir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2))).toSet
    assert(got == want,
      s"missing=${(want -- got).take(3)} spurious=${(got -- want).take(3)}")
    val k = cents.size
    assert(got.size == k * (k - 1) / 2, "full upper triangle must emit")
  }

  // --------------------------------------------------------- evt_value_profile
  test("evt_value_profile == plain-Scala moment replay; bounds hold") {
    val evs = Tables.load(spark, dir, "events")
      .select("event_type", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = evs.groupBy(_._1).map { case (t, g) =>
      val n = g.length
      val s1 = g.map(e => BigDecimal(e._2)
        .setScale(15, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
      val s2 = g.map(e => BigDecimal(e._2 * e._2)
        .setScale(15, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
      val sd = if (n > 1)
        math.sqrt(math.max((s2 - s1 * s1 / n) / (n - 1).toDouble, 0.0)) else 0.0
      (t, n.toLong, r6(s1 / n), r6(sd), r6(g.map(_._2).min), r6(g.map(_._2).max))
    }.toSet
    val got = CurationOps.evtValueProfile(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))).toSet
    assert(got == want,
      s"missing=${(want -- got).take(3)} spurious=${(got -- want).take(3)}")
    got.foreach { case (t, _, m, sd, lo, hi) =>
      assert(sd >= 0.0 && lo <= m + 1e-9 && m <= hi + 1e-9, s"type $t bounds") }
  }

  // ----------------------------------- emb_intrinsic_dim bounded blk path
  test("emb_intrinsic_dim above the block cap == plain-Scala blk-rule replay") {
    // The r13 fix bounds per-label pair work by balanced sub-blocks, but
    // every gate label fits ONE block (n <= 256), so the replay above only
    // exercises the degenerate blk = 0 case. Build a corpus with one label
    // PAST the cap (400 > 256 => 2 blocks) and one under it, and replay the
    // exact rule — md5-rank balanced chunking, per-(label, blk) two-NN,
    // DECIMAL MLE rollup — in plain Scala. This is the Scala-side twin of
    // the oracle's blk CTE, so the bounded path's parity no longer rests on
    // DuckDB alone.
    val tmp = tempDir("graft_idim_blk").toString
    val rnd = new scala.util.Random(20260815L)
    val dim = 8
    val rows = (0 until 450).map { i =>
      val label = if (i < 400) 1 else 2
      (i.toLong * 7 + 3, Array.fill(dim)(rnd.nextGaussian().toFloat), label)
    }
    import spark.implicits._
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")

    val cap = graft.GraftTuning.KnnBlockCap
    def md5hex(x: Long): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(x.toString.getBytes("UTF-8"))
      d.map(b => f"$b%02x").mkString
    }
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var (acc, i) = (0.0, 0)
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val byLabel = rows.map { case (id, v, lab) =>
      (lab, id, v.map(_.toDouble))
    }.groupBy(_._1)
    val want = byLabel.map { case (lab, g) =>
      val n = g.length
      val nblk = (n + cap - 1) / cap
      // rank0 within label by (md5(vec_id), vec_id); blk = rank0*nblk div n
      val ordered = g.sortBy { case (_, id, _) => (md5hex(id), id) }
      val blocks = ordered.zipWithIndex
        .groupBy { case (_, rank0) => rank0.toLong * nblk / n }
        .values.map(_.map(_._1))
      val twos = blocks.flatMap { blk =>
        blk.flatMap { case (_, src, va) =>
          val ds = blk.filter(_._2 != src)
            .map { case (_, dst, vb) =>
              (dot(va, va) + dot(vb, vb) - dot(va, vb) * 2, dst) }
            .sortBy { case (d, dst) => (d, dst) }
          if (ds.length < 2) None else Some((ds(0)._1, ds(1)._1))
        }
      }.toSeq
      val used = twos.filter(_._1 > 0.0)
      val slm = used.map { case (d1, dn) =>
        BigDecimal(math.log(dn / d1) * 0.5)
          .setScale(15, BigDecimal.RoundingMode.HALF_UP)
      }.sum.toDouble
      (lab, used.size.toLong, (twos.size - used.size).toLong,
        r6(used.size.toDouble / slm))
    }.toSet
    val got = graft.operators.SimilarityOps.embIntrinsicDim(spark, tmp).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == want,
      s"missing=${(want -- got).take(3)} spurious=${(got -- want).take(3)}")
    // and the bounded estimate stays within estimator tolerance of the
    // unbounded exact twin on the SAME corpus (TwoNN subsample consistency)
    val exact = graft.operators.SimilarityOps.embIntrinsicDimExact(spark, tmp)
      .collect().map(r => r.getInt(0) -> r.getDouble(3)).toMap
    got.foreach { case (lab, _, _, dh) =>
      val ex = exact(lab)
      assert(math.abs(dh - ex) / ex < 0.35,
        s"label $lab bounded d_hat=$dh vs exact $ex — outside tolerance")
    }
  }
}
