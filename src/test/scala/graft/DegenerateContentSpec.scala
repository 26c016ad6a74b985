package graft

import graft.operators.{CurationOps, MultimodalOps, SamplingOps}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hostile-content semantics, pinned (VERDICT r14 #5): the registry-wide
  * degenerate sweep (`ScaleSmoke 1 all degenerate`) runs every operator
  * over ~20 pathological rows — empty text, single tokens, all-whitespace,
  * 4-byte unicode, an 8 MB document, a 1 MB single token — and its first
  * run found two real defects: samp_weighted divided by a zero weight
  * (ANSI runtime error), and the CDC chunk fold copied its accumulator
  * array per token (O(tokens × chunks) — one 8 MB doc pinned a core for
  * 30+ minutes). This spec pins the semantics those fixes chose, at unit
  * scale, so they cannot silently regress between sweeps.
  */
class DegenerateContentSpec extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = GraftSession.local("4")
  import spark.implicits._

  private def degenDocs = Seq(
    (1L, "", "en", "src_degen", 0L),
    (2L, "   \t  \n  ", "en", "src_degen", 9L),
    (3L, "solo", "en", "src_degen", 4L),
    (4L, "😀 🚀🚀 你好", "zh", "src_degen", 10L),
    (5L, (0 until 50000).map(i => "w" + (i % 997)).mkString(" "), "en", "src_degen", 250000L),
    (6L, "a" * 100000, "en", "src_degen", 100000L),
    (7L, "normal text with several plain tokens here", "en", "src_degen", 43L))
    .toDF("doc_id", "text", "lang", "source", "n_chars")

  test("CDC chunking: empty/whitespace docs yield no chunks; huge docs chunk linearly") {
    val chunks = CurationOps.cdcChunksFrom(degenDocs).collect()
    val byDoc = chunks.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    assert(!byDoc.contains(1L) && !byDoc.contains(2L),
      "empty-after-trim docs must yield zero chunks")
    assert(byDoc(3L) == 1 && byDoc(6L) == 1,
      "a single-token doc is exactly one chunk (the flushed tail)")
    // boundary p = 1/16 => ~3,125 chunks for 50k tokens; the linear
    // sentinel construction must produce them (the quadratic fold would
    // still be running); wide bounds: binomial is tight around the mean
    val huge = byDoc(5L)
    assert(huge > 2000 && huge < 4500, s"50k-token doc chunked into $huge")
    // chunk token counts must cover the corpus exactly: no token lost or
    // duplicated by the join/split construction
    val nTokSum = chunks.filter(_.getLong(0) == 5L).map(_.getLong(2)).sum
    assert(nTokSum == 50000L, s"chunk n_tok sums to $nTokSum, not 50000")
  }

  test("CDC chunking: U+0001 in input is a token separator, never a forged cut") {
    // the sentinel byte is reserved by the construction: a document
    // carrying it must chunk as if it were whitespace
    val tricky = Seq((1L, "alphabeta gamma"), (2L, "alpha beta gamma"))
      .toDF("doc_id", "text")
    val c = CurationOps.cdcChunksFrom(tricky).collect()
      .map(r => (r.getLong(0), r.getString(3))).groupBy(_._1)
    assert(c(1L).map(_._2).toSet == c(2L).map(_._2).toSet,
      "U+0001 must normalize to a separator (identical chunks)")
  }

  test("samp_weighted: zero-weight docs are unsampleable, never an error") {
    degenDocs.createOrReplaceTempView("unused") // doc frame goes via dir loader normally
    val dir = tempDir("degen").toString
    degenDocs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SamplingOps.sampWeighted(spark, dir).collect()
    val picked = out.map(_.getLong(1)).toSet
    assert(!picked.contains(1L), "n_chars=0 doc must be excluded (P proportional to w = 0)")
    assert(picked.contains(3L) || picked.contains(7L), "positive-weight docs sample")
  }

  // -------------------------------------------- streaming half (r15 #3)
  // The batch degenerate sweep (ScaleSmoke `degenerate`) runs every
  // registry op over hostile rows, but the streaming twins never saw them.
  // Drive the stateless projections (pii, bpe-apply, substring-cut, dsir,
  // cdc-chunks) and a stateful path (near-dup over the huge doc's simhash)
  // from a multi-batch file stream of the SAME pathological rows and
  // assert twin ≡ batch row-for-row — divergence on hostile content is a
  // branch the uniform corpora never take (empty token arrays, a 100k-char
  // single token, a 50k-token doc in one row).
  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

  private def runToCompletion(df: org.apache.spark.sql.DataFrame,
      mode: String, name: String): org.apache.spark.sql.DataFrame = {
    val q = df.writeStream.outputMode(mode).format("memory")
      .queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
  }

  test("stateless streaming twins match batch on hostile rows") {
    import graft.streaming.StreamOps
    val gateDir = "/root/testdata/sf0.001"
    val d = degenDocs
    val sdir = tempDir("degen-stream").toString
    d.repartition(3).write.mode("overwrite").parquet(sdir)
    def stream = StreamOps.readParquetStream(spark, sdir, d.schema)
    // model state comes from the GATE corpus (train offline, score on
    // arrival) — the hostile rows are pure probe-side input
    val sketch = graft.operators.DedupOps.substringDupSketch(spark, gateDir)
    val buckets = graft.operators.SamplingOps.dsirLlrBuckets(spark, gateDir)
    val merges = graft.operators.CurationOps.txtBpeTrain(spark, gateDir)
      .collect().sortBy(_.getLong(0))
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val twins = Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
      "pii" -> (StreamOps.streamingPii(_)),
      "cdc" -> (StreamOps.streamingCdcChunks(_)),
      "cut" -> (StreamOps.streamingSubstringCut(_, sketch)),
      "dsir" -> (StreamOps.streamingDsirScore(_, buckets)),
      "bpe" -> (StreamOps.streamingBpeApply(_, merges)))
    // hostile input must cost linear time: a kernel that backtracks
    // quadratically over the 100,000-char document takes minutes here
    val wallBoundS = 60.0
    twins.foreach { case (tag, f) =>
      val t0 = System.nanoTime()
      val streamed = runToCompletion(f(stream), "append", s"degen_${tag}_out")
      val batch = f(d)
      assert(canon(streamed) == canon(batch),
        s"$tag twin diverged from batch on hostile rows")
      val wallS = (System.nanoTime() - t0) / 1e9
      info(f"$tag twin: $wallS%.1f s streamed + batch")
      assert(wallS <= wallBoundS,
        f"$tag twin took $wallS%.1f s on hostile rows (bound $wallBoundS%.0f s)")
    }
  }

  test("streaming near-dup matches batch on hostile-doc simhashes (incl. huge docs)") {
    import graft.streaming.StreamOps
    import graft.functions.{SimHash64, TextFunctions}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val sigs = degenDocs.select(col("doc_id"),
        SimHash64(TextFunctions.tokens(lower(col("text")))).as("sig"))
      .as[(Long, Long)].collect().toSeq
    val mem = MemoryStream[(Long, Long)]
    val q = StreamOps.streamingNearDup(mem.toDS())(spark).toDF()
      .writeStream.outputMode("append").format("memory")
      .queryName("degen_nd_out").start()
    try {
      mem.addData(sigs.take(3): _*); q.processAllAvailable()
      mem.addData(sigs.drop(3): _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("degen_nd_out")
    val batch = StreamOps.batchNearDup(spark.createDataset(sigs))(spark)
    assert(canon(streamed) == canon(batch.toDF()),
      "near-dup twin diverged on hostile-doc signatures")
  }

  test("mm_phash/mm_phash64: empty-text docs are absent; multibyte text hashes") {
    val dir = tempDir("degen2").toString
    degenDocs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Seq(
      MultimodalOps.mmPhash(spark, dir),
      MultimodalOps.mmPhash64(spark, dir)
    ).foreach { df =>
      val ids = df.collect().map(_.getLong(0)).toSet
      assert(!ids.contains(1L),
        "a zero-length payload has no stripe profile")
      // whitespace IS payload at the media layer: the stripe stat is a
      // byte-level statistic of an opaque payload (the stub hashes text
      // bytes), so an all-whitespace doc hashes like any other bytes
      assert(ids.contains(2L), "whitespace bytes are still payload bytes")
      assert(ids.contains(4L), "4-byte unicode must hash, not crash")
      assert(ids.contains(5L) && ids.contains(6L), "huge docs must hash")
    }
  }
}
