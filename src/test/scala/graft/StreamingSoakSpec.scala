package graft

import java.nio.file.{Files, Paths}
import graft.streaming.StreamOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.scalatest.funsuite.AnyFunSuite

/** Streaming STATE/WALL soak (VERDICT r13 #2): the spec suite pins the
  * streaming twins ≡ batch on gate corpora, but equivalence says nothing
  * about state growth or per-batch wall under sustained input — the
  * reference's whole streaming posture is the checkpointed long-running
  * job (`flink-conf.yaml:61-63`). Drive the three state-bearing paths
  * over a p30-derived, EVENT-TIME-ORDERED file stream for 60
  * micro-batches and assert from `StreamingQueryProgress`:
  *
  *  - watermark eviction bounds state: `numRowsTotal` stays a small
  *    multiple of the per-horizon row count instead of tracking the
  *    cumulative window/key universe (the difference between a job that
  *    runs for a month and one that OOMs on day three);
  *  - per-batch wall is FLAT: the last third of the soak processes no
  *    slower than the first third (state-size-dependent batch cost is
  *    exactly what bounded state is supposed to prevent).
  *
  * Env-gated (GRAFT_SOAK=1): ~3M events / 60 sequential half-day files
  * is a measurement run, not a unit test — BASELINE.md records the
  * soak's numbers. Files are written ONE AT A TIME in ts order because
  * the file source triggers batches in modification-time order: an
  * unordered listing would replay the month shuffled, watermarks would
  * jump to max on batch 1, and the soak would measure late-drop instead
  * of steady-state eviction.
  */
class StreamingSoakSpec extends AnyFunSuite with TempDirs {
  private val soakOn = sys.env.get("GRAFT_SOAK").contains("1")
  private val srcDir = sys.env.getOrElse("GRAFT_SOAK_SRC", "/root/testdata/sf0.1")
  private val factor = 30
  implicit lazy val spark: SparkSession = GraftSession.local()
  import PatternKit._
  import graft.operators.PatternCompiler.{QOpt, QPlus, QStar}

  /** The registry pattern stages every pattern rung drives:
    * view → (middle stage) → purchase. */
  private val fixedStages = abc(viewP, click50P, purchaseP)
  private val clickOrError = Seq("click50" -> click50P, "error" -> errorP)

  /** 60 half-day parquet files, written sequentially in event-time order
    * (clone rule = ScaleSmoke's events derivation: event_id AND user_id
    * offset per copy — the user population grows ×factor while per-user
    * sequences stay constant). */
  private lazy val soakDir: String = {
    val d = "/tmp/graft_soak_events"
    if (!Files.exists(Paths.get(s"$d/_SOAK_READY"))) {
      val base = Tables.load(spark, srcDir, "events")
      val cloned = (0 until factor).map { k =>
        base.select(
          (col("event_id") + lit(k.toLong * 1000000000L)).as("event_id"),
          col("ts"),
          (col("user_id") + lit(k.toLong * 1000000000L)).as("user_id"),
          col("event_type"), col("value"), col("props"))
      }.reduce(_ unionByName _)
        .withColumn("__chunk", ntile(60).over(
          org.apache.spark.sql.expressions.Window.orderBy(col("ts"))))
        .localCheckpoint()
      (1 to 60).foreach { c =>
        cloned.filter(col("__chunk") === c).drop("__chunk")
          .coalesce(1).write.mode("append").parquet(d)
      }
      Files.createFile(Paths.get(s"$d/_SOAK_READY"))
    }
    d
  }

  private def soakSchema =
    Tables.load(spark, srcDir, "events").schema

  /** Run a stream to completion at one-file-per-trigger, return every
    * batch's progress (data batches only — zero-row bookkeeping triggers
    * carry no wall signal). */
  private def soak(df: DataFrame, mode: String, name: String): Seq[StreamingQueryProgress] = {
    val progresses = scala.collection.mutable.ArrayBuffer[StreamingQueryProgress]()
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      progresses ++= q.recentProgress.filter(_.numInputRows > 0)
    } finally q.stop()
    progresses.toSeq
  }

  /** [[soak]] with a NOOP sink — for rungs whose OUTPUT is too large for
    * the in-driver memory sink (the decade 10-min interval join emits
    * ~10× the 1-min rung's pairs); per-batch wall/state signals are
    * unchanged, and output volume reads from sink.numOutputRows. */
  private def soakNoop(df: DataFrame, mode: String): Seq[StreamingQueryProgress] = {
    val progresses = scala.collection.mutable.ArrayBuffer[StreamingQueryProgress]()
    val q = df.writeStream.outputMode(mode).format("noop").start()
    try {
      q.processAllAvailable()
      progresses ++= q.recentProgress.filter(_.numInputRows > 0)
    } finally q.stop()
    progresses.toSeq
  }

  private def stateRows(p: StreamingQueryProgress): Long =
    p.stateOperators.map(_.numRowsTotal).sum
  private def stateBytes(p: StreamingQueryProgress): Long =
    p.stateOperators.map(_.memoryUsedBytes).sum
  private def wallMs(p: StreamingQueryProgress): Long =
    p.durationMs.getOrDefault("triggerExecution", 0L)

  private def median(xs: Seq[Long]): Long = {
    val s = xs.sorted; s(s.length / 2)
  }

  /** Machine-readable soak record (r14 verdict #3: the soak numbers lived
    * only in BASELINE prose — no gate could diff them). When
    * GRAFT_SOAK_JSON is set, each test merges its row into that file:
    * `{tag: {state_peak, state_end, wall_head_ms, wall_tail_ms, batches}}`.
    * scripts/soak_check.py diffs a fresh run against the committed
    * scripts/soak_baseline.json with generous bounds (state 2x, wall 1.5x)
    * — a dropped watermark inflates state_peak orders of magnitude, so the
    * gate trips on the leak class, not on VM noise. Read-modify-write so
    * the three tests (run in one suite, any order) share the file. */
  private def emitSoak(tag: String, ps: Seq[StreamingQueryProgress]): Unit =
    sys.env.get("GRAFT_SOAK_JSON").foreach { path =>
      val walls = ps.map(wallMs)
      val rows = ps.map(stateRows)
      val rec = s""""$tag": {"state_peak": ${rows.max}, "state_end": ${rows.last},
        | "wall_head_ms": ${median(walls.slice(5, 20))},
        | "wall_tail_ms": ${median(walls.takeRight(15))},
        | "batches": ${ps.length}}""".stripMargin.replaceAll("\n", "")
      val p = Paths.get(path)
      val prior = if (Files.exists(p))
        new String(Files.readAllBytes(p), "UTF-8").trim
          .stripPrefix("{").stripSuffix("}").trim else ""
      val merged = (prior.split(",(?=\\s*\"[a-z0-9_]+\": \\{)").toSeq
        .filter(e => e.nonEmpty && !e.trim.startsWith("\"" + tag + "\"")) :+ rec)
        .mkString(",\n ")
      Files.write(p, s"{$merged}\n".getBytes("UTF-8"))
    }

  /** Flatness: the soak's last third may not run slower than 2.5× its
    * first third (post-warmup). A state leak shows as monotone growth —
    * on 60 batches the tail/head ratio is the cheap, robust detector. */
  private def assertFlat(tag: String, ps: Seq[StreamingQueryProgress]): Unit = {
    val walls = ps.map(wallMs)
    val head = median(walls.slice(5, 20))
    val tail = median(walls.takeRight(15))
    info(s"$tag: batches=${ps.length} headMedian=${head}ms tailMedian=${tail}ms")
    assert(tail <= math.max(head * 2.5, head + 500),
      s"$tag per-batch wall grew: head median ${head}ms, tail median ${tail}ms")
  }

  private def assertBoundedState(tag: String, ps: Seq[StreamingQueryProgress],
      boundRows: Long): Unit = {
    val rows = ps.map(stateRows)
    val bytes = ps.map(stateBytes)
    info(s"$tag: state rows peak=${rows.max} end=${rows.last} " +
      s"bytes peak=${bytes.max} end=${bytes.last}")
    assert(rows.max <= boundRows,
      s"$tag state peaked at ${rows.max} rows (bound $boundRows) — eviction broken?")
    // the end-of-soak state may not exceed the peak: a leak's signature is
    // a monotone series whose last point IS the max
    assert(rows.last <= math.max((rows.max * 0.9).toLong, rows.max - 1) ||
      rows.max <= 64,
      s"$tag state still growing at soak end (last=${rows.last} max=${rows.max})")
  }

  /** Hot-key variant (r15 verdict #2): same p30 clone derivation, then
    * ~30% of ALL events re-key to one user (the ScaleSmoke skew rule,
    * hash on event_id so the selection cuts across clones) — one
    * mapGroupsWithState group receives 30% of the stream. The uniform
    * soak can never see a hot-group cliff; this corpus is built to. */
  private lazy val skewSoakDir: String = {
    val d = "/tmp/graft_soak_events_skew"
    if (!Files.exists(Paths.get(s"$d/_SOAK_READY"))) {
      val base = Tables.load(spark, srcDir, "events")
      val cloned = (0 until factor).map { k =>
        base.select(
          (col("event_id") + lit(k.toLong * 1000000000L)).as("event_id"),
          col("ts"),
          (col("user_id") + lit(k.toLong * 1000000000L)).as("user_id"),
          col("event_type"), col("value"), col("props"))
      }.reduce(_ unionByName _)
        .withColumn("user_id",
          when(pmod(xxhash64(col("event_id")), lit(10)) < 3, lit(424242L))
            .otherwise(col("user_id")))
        .withColumn("__chunk", ntile(60).over(
          org.apache.spark.sql.expressions.Window.orderBy(col("ts"))))
        .localCheckpoint()
      (1 to 60).foreach { c =>
        cloned.filter(col("__chunk") === c).drop("__chunk")
          .coalesce(1).write.mode("append").parquet(d)
      }
      Files.createFile(Paths.get(s"$d/_SOAK_READY"))
    }
    d
  }

  test("skew soak: horizon-bounded sessionize is state- and wall-flat under a 30% hot user") {
    assume(soakOn, "set GRAFT_SOAK=1 to run the streaming soak")
    val ps = soak(
      StreamOps.streamingSessionizeTtl(
        StreamOps.readParquetStream(spark, skewSoakDir, soakSchema))(spark)
        .toDF(),
      "update", "soak_sess_skew")
    assert(ps.length >= 50, s"expected >=50 data batches, got ${ps.length}")
    // state rows = one SessTtlState row per live user; the hot user's
    // CONTENT is horizon-bounded (open session summaries + seen-ids within
    // 2h), so state BYTES must not trend — tail ≤ 2x head is the leak
    // detector the summary compaction exists to pass (the unbounded
    // snapshot twin fails it by construction: its hot-user state grows
    // linearly with the stream)
    val bytes = ps.map(stateBytes)
    val bHead = median(bytes.slice(5, 20))
    val bTail = median(bytes.takeRight(15))
    info(s"sessionize_ttl_skew: state bytes head=$bHead tail=$bTail")
    assert(bTail <= 2 * bHead,
      s"hot-user state bytes trending: head $bHead tail $bTail")
    assertFlat("sessionize_ttl_skew", ps)
    emitSoak("sessionize_ttl_skew", ps)
    assert(spark.table("soak_sess_skew").count() > 1000,
      "most sessions should finalize during the soak")
  }

  test("skew soak: funnel state stays geometry-bounded under a 30% hot user") {
    assume(soakOn, "set GRAFT_SOAK=1 to run the streaming soak")
    val ps = soak(
      StreamOps.streamingFunnel(
        StreamOps.readParquetStream(spark, skewSoakDir, soakSchema))(spark)
        .toDF(),
      "update", "soak_funnel_skew")
    assert(ps.length >= 50, s"expected >=50 data batches, got ${ps.length}")
    // per-user state = anchor + clicks ≤ t1+win + purchases ≤ t1+2win:
    // once the hot user's first view lands, its lists FREEZE at the
    // first-window population — constant thereafter, wall flat
    assertFlat("funnel_skew", ps)
    emitSoak("funnel_skew", ps)
  }

  test("skew soak: stream-stream interval join under a 30% hot user") {
    assume(soakOn, "set GRAFT_SOAK=1 to run the streaming soak")
    // the BANDED streaming interval join (r17: time band in the join key
    // — before it, every hot-user probe scanned the user's whole
    // watermark buffer post-probe, ~9-10 s/batch at p30-skew; the p30
    // baseline row was re-recorded with the banded form)
    val joined = StreamOps.streamingIntervalJoin(
      StreamOps.readParquetStream(spark, skewSoakDir, soakSchema))
    val ps = soak(joined, "append", "soak_ivjoin_skew")
    assert(ps.length >= 50, s"expected >=50 data batches, got ${ps.length}")
    // join state is watermark-bounded on BOTH sides (the raw range
    // predicate is what Spark derives eviction from); the hot user makes
    // one key hold 30% of the horizon — bounded, so flat; the banded key
    // bounds each probe to ~2 bands of that key's rows
    assertFlat("ivjoin_skew", ps)
    emitSoak("ivjoin_skew", ps)
    assert(spark.table("soak_ivjoin_skew").count() > 0)
  }

  test("skew soak: horizon-bounded pattern matcher under a 30% hot user") {
    assume(soakOn, "set GRAFT_SOAK=1 to run the streaming soak")
    val ps = soak(
      StreamOps.streamingPatternSpecTtl(
        StreamOps.readParquetStream(spark, skewSoakDir, soakSchema),
        fixedStages, withinUs = 4L * 3600 * 1000000L)(spark).toDF(),
      "update", "soak_pat_skew")
    assert(ps.length >= 50, s"expected >=50 data batches, got ${ps.length}")
    // hot-user state = qualifying rows in the horizon+W tail (~6h of one
    // user's stream), not the stream's history — bytes must not trend
    val bytes = ps.map(stateBytes)
    val bHead = median(bytes.slice(5, 20))
    val bTail = median(bytes.takeRight(15))
    info(s"pattern_ttl_skew: state bytes head=$bHead tail=$bTail")
    assert(bTail <= 2 * bHead,
      s"hot-user pattern state trending: head $bHead tail $bTail")
    assertFlat("pattern_ttl_skew", ps)
    emitSoak("pattern_ttl_skew", ps)
    assert(spark.table("soak_pat_skew").count() > 0, "no finals emitted")
  }

  test("skew soak: horizon-bounded QUANTIFIED pattern (B+ MEASURES) under a 30% hot user") {
    assume(soakOn, "set GRAFT_SOAK=1 to run the streaming soak")
    // the quantified stage rides the same replay discipline as the
    // fixed-stage pattern; its extra surface is the per-match run
    // aggregation, which the matcher's frame-bounded run scan keeps O(n)
    // per key per batch — state and wall must match the fixed-stage
    // rung's flatness
    val ps = soak(
      StreamOps.streamingPatternSpecTtl(
        StreamOps.readParquetStream(spark, skewSoakDir, soakSchema),
        abc(viewP, click50P, purchaseP, QPlus),
        withinUs = 4L * 3600 * 1000000L)(spark).toDF(),
      "update", "soak_pat_plus_skew")
    assert(ps.length >= 50, s"expected >=50 data batches, got ${ps.length}")
    val bytes = ps.map(stateBytes)
    val bHead = median(bytes.slice(5, 20))
    val bTail = median(bytes.takeRight(15))
    info(s"pattern_plus_ttl_skew: state bytes head=$bHead tail=$bTail")
    assert(bTail <= 2 * bHead,
      s"hot-user quantified-pattern state trending: head $bHead tail $bTail")
    assertFlat("pattern_plus_ttl_skew", ps)
    emitSoak("pattern_plus_ttl_skew", ps)
    assert(spark.table("soak_pat_plus_skew").count() > 0, "no finals emitted")
  }

  test("skew soak: horizon-bounded ALTERNATION pattern under a 30% hot user") {
    assume(soakOn, "set GRAFT_SOAK=1 to run the streaming soak")
    // denser state than the fixed-stage rung: the error branch carries no
    // value predicate, so ~20% of the hot user's stream qualifies for a
    // stage mask — the rung proves the horizon+W tail still bounds it
    val ps = soak(
      StreamOps.streamingPatternSpecTtl(
        StreamOps.readParquetStream(spark, skewSoakDir, soakSchema),
        altStages(viewP, clickOrError, purchaseP),
        withinUs = 4L * 3600 * 1000000L)(spark).toDF(),
      "update", "soak_pat_alt_skew")
    assert(ps.length >= 50, s"expected >=50 data batches, got ${ps.length}")
    val bytes = ps.map(stateBytes)
    val bHead = median(bytes.slice(5, 20))
    val bTail = median(bytes.takeRight(15))
    info(s"pattern_alt_ttl_skew: state bytes head=$bHead tail=$bTail")
    assert(bTail <= 2 * bHead,
      s"hot-user alternation state trending: head $bHead tail $bTail")
    assertFlat("pattern_alt_ttl_skew", ps)
    emitSoak("pattern_alt_ttl_skew", ps)
    assert(spark.table("soak_pat_alt_skew").count() > 0, "no finals emitted")
  }

  test("skew soak: horizon-bounded OPTIONAL pattern (B?) under a 30% hot user") {
    assume(soakOn, "set GRAFT_SOAK=1 to run the streaming soak")
    // r18 shipped the opt twin with equality specs but no recorded soak
    // row (r18 verdict #7); its extra surface vs the fixed rung is the
    // whole-completion backtracking per anchor — still O(tail) per key
    // per batch, so state and wall must hold the family's flatness
    val ps = soak(
      StreamOps.streamingPatternSpecTtl(
        StreamOps.readParquetStream(spark, skewSoakDir, soakSchema),
        abc(viewP, click50P, purchaseP, QOpt),
        withinUs = 4L * 3600 * 1000000L)(spark).toDF(),
      "update", "soak_pat_opt_skew")
    assert(ps.length >= 50, s"expected >=50 data batches, got ${ps.length}")
    val bytes = ps.map(stateBytes)
    val bHead = median(bytes.slice(5, 20))
    val bTail = median(bytes.takeRight(15))
    info(s"pattern_opt_ttl_skew: state bytes head=$bHead tail=$bTail")
    assert(bTail <= 2 * bHead,
      s"hot-user optional-pattern state trending: head $bHead tail $bTail")
    assertFlat("pattern_opt_ttl_skew", ps)
    emitSoak("pattern_opt_ttl_skew", ps)
    assert(spark.table("soak_pat_opt_skew").count() > 0, "no finals emitted")
  }

  test("skew soak: horizon-bounded ZERO-OR-MORE pattern (B*) under a 30% hot user") {
    assume(soakOn, "set GRAFT_SOAK=1 to run the streaming soak")
    // the star twin's anchor universe is every (view, later purchase)
    // pair — the densest of the pattern family (empty runs match) — so
    // this rung is the one that would first expose an emission-volume
    // or state-tail regression
    val ps = soak(
      StreamOps.streamingPatternSpecTtl(
        StreamOps.readParquetStream(spark, skewSoakDir, soakSchema),
        abc(viewP, click50P, purchaseP, QStar),
        withinUs = 4L * 3600 * 1000000L)(spark).toDF(),
      "update", "soak_pat_star_skew")
    assert(ps.length >= 50, s"expected >=50 data batches, got ${ps.length}")
    val bytes = ps.map(stateBytes)
    val bHead = median(bytes.slice(5, 20))
    val bTail = median(bytes.takeRight(15))
    info(s"pattern_star_ttl_skew: state bytes head=$bHead tail=$bTail")
    assert(bTail <= 2 * bHead,
      s"hot-user star-pattern state trending: head $bHead tail $bTail")
    assertFlat("pattern_star_ttl_skew", ps)
    emitSoak("pattern_star_ttl_skew", ps)
    assert(spark.table("soak_pat_star_skew").count() > 0, "no finals emitted")
  }

  test("soak: windowed agg state is watermark-bounded and wall-flat (60 batches)") {
    assume(soakOn, "set GRAFT_SOAK=1 to run the streaming soak")
    val ps = soak(
      StreamOps.tumbleAgg(
        StreamOps.readParquetStream(spark, soakDir, soakSchema),
        watermark = "2 hours", windowDur = "1 hour"),
      "append", "soak_tumble")
    assert(ps.length >= 50, s"expected >=50 data batches, got ${ps.length}")
    // 30 days × 24 windows × n_types ≈ 3.6k windows pass through state;
    // bounded = state holds only the open horizon (~half-day batch span +
    // 2h watermark ≈ ≤20h of windows × types ≈ ~100 rows; 600 = 6× slack,
    // still 6× below the cumulative universe)
    val nTypes = spark.read.parquet(soakDir).select("event_type").distinct().count()
    assertBoundedState("tumble", ps, boundRows = nTypes * 120)
    assertFlat("tumble", ps)
    emitSoak("tumble", ps)
    val out = spark.table("soak_tumble")
    assert(out.count() > 2000, "append stream should finalize most windows")
  }

  /** Checkpoint recovery at p30 (r15 verdict #6): r11 proved
    * kill-and-resume exactly-once at toy scale; this rung kills the two
    * state-bearing gate paths MID-SOAK on the real 3M-event corpus (state
    * in the tens of thousands of rows) and asserts the resumed run's sink
    * is byte-identical to an uninterrupted run's — the file-sink commit
    * protocol must replay the aborted batch without duplicating any
    * already-committed one, with real watermarks and real eviction in
    * flight at the kill point. */
  private def ckptRecoveryRun(mk: DataFrame => DataFrame,
      tag: String): Unit = {
    def run(interrupt: Boolean): Seq[String] = {
      val ckpt = tempDir(s"soak-ckpt-$tag").toString
      val out = tempDir(s"soak-out-$tag").toString
      def start() = mk(
        StreamOps.readParquetStream(spark, soakDir, soakSchema))
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", out).start()
      val q1 = start()
      if (interrupt) {
        // stop HARD once ~1/3 of the input is in: no quiesce wait, so the
        // in-flight micro-batch aborts and must replay on resume
        val deadline = System.nanoTime() + 300e9.toLong
        while (q1.recentProgress.count(_.numInputRows > 0) < 20 &&
          System.nanoTime() < deadline) Thread.sleep(100)
        q1.stop()
        val q2 = start()
        q2.processAllAvailable(); q2.stop()
      } else { q1.processAllAvailable(); q1.stop() }
      spark.read.parquet(out).collect()
        .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    }
    val resumed = run(interrupt = true)
    val uninterrupted = run(interrupt = false)
    info(s"$tag: ${resumed.size} rows resumed vs ${uninterrupted.size} uninterrupted")
    assert(resumed == uninterrupted,
      s"$tag: kill-and-resume diverged from the uninterrupted run")
    assert(resumed.nonEmpty, s"$tag: empty sink — the rung measured nothing")
  }

  test("soak: tumble agg kill-and-resume at p30 == uninterrupted (exactly-once)") {
    assume(soakOn, "set GRAFT_SOAK=1 to run the streaming soak")
    ckptRecoveryRun(
      StreamOps.tumbleAgg(_, watermark = "2 hours", windowDur = "1 hour"),
      "ckpt_tumble")
  }

  test("soak: dedup-within-watermark kill-and-resume at p30 == uninterrupted") {
    assume(soakOn, "set GRAFT_SOAK=1 to run the streaming soak")
    ckptRecoveryRun(
      StreamOps.dedupWithinWatermark(_, watermark = "1 hour"),
      "ckpt_dedup")
  }

  /** Kill-and-resume for the UPDATE-mode custom-state paths (r16 verdict
    * #5): sessionize-TTL and pattern-TTL carry hand-rolled case-class
    * state (opens/seen/maxTs/lastEnd) — the risky recovery surface
    * (encoder round-trip through the state store, emit-once across the
    * kill). The parquet FileSink only takes append queries, so these
    * recover through the standard idempotent-foreachBatch discipline:
    * each micro-batch OVERWRITES its own batch-id directory, so the
    * aborted batch's replay rewrites the same directory instead of
    * duplicating — with 1-file-per-trigger sources, batch boundaries and
    * the fmgws emissions are deterministic, and the resumed run's total
    * output must be byte-identical to an uninterrupted run's. */
  private def ckptRecoveryRunUpdate(mk: DataFrame => DataFrame,
      tag: String, srcDirOverride: Option[String] = None): Unit = {
    val src = srcDirOverride.getOrElse(skewSoakDir)
    def run(interrupt: Boolean): Seq[String] = {
      val ckpt = tempDir(s"soak-ckpt-$tag").toString
      val out = tempDir(s"soak-out-$tag").toString
      def start() = mk(
        StreamOps.readParquetStream(spark, src, soakSchema))
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: DataFrame, id: Long) =>
          df.write.mode("overwrite").parquet(s"$out/b$id")
        }.start()
      val q1 = start()
      if (interrupt) {
        val deadline = System.nanoTime() + 300e9.toLong
        while (q1.recentProgress.count(_.numInputRows > 0) < 20 &&
          System.nanoTime() < deadline) Thread.sleep(100)
        q1.stop()
        val q2 = start()
        q2.processAllAvailable(); q2.stop()
      } else { q1.processAllAvailable(); q1.stop() }
      spark.read.parquet(s"$out/b*").collect()
        .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    }
    val resumed = run(interrupt = true)
    val uninterrupted = run(interrupt = false)
    info(s"$tag: ${resumed.size} rows resumed vs ${uninterrupted.size} uninterrupted")
    assert(resumed == uninterrupted,
      s"$tag: kill-and-resume diverged from the uninterrupted run")
    assert(resumed.nonEmpty, s"$tag: empty sink — the rung measured nothing")
  }

  test("soak: sessionize-TTL kill-and-resume at p30-skew == uninterrupted") {
    assume(soakOn, "set GRAFT_SOAK=1 to run the streaming soak")
    ckptRecoveryRunUpdate(
      df => StreamOps.streamingSessionizeTtl(df)(spark).toDF(),
      "ckpt_sess_ttl")
  }

  test("soak: pattern-TTL kill-and-resume at p30-skew == uninterrupted") {
    assume(soakOn, "set GRAFT_SOAK=1 to run the streaming soak")
    ckptRecoveryRunUpdate(
      df => StreamOps.streamingPatternSpecTtl(df, fixedStages,
        withinUs = 4L * 3600 * 1000000L)(spark).toDF(),
      "ckpt_pat_ttl")
  }

  test("soak: quantified-pattern-TTL kill-and-resume at p30-skew == uninterrupted") {
    assume(soakOn, "set GRAFT_SOAK=1 to run the streaming soak")
    // the quantified state adds a Double (value) to the encoder surface
    // and the run MEASURES to the emission — both must survive the
    // checkpoint round-trip byte-identically
    ckptRecoveryRunUpdate(
      df => StreamOps.streamingPatternSpecTtl(df,
        abc(viewP, click50P, purchaseP, QPlus),
        withinUs = 4L * 3600 * 1000000L)(spark).toDF(),
      "ckpt_pat_plus_ttl")
  }

  test("soak: alternation-pattern-TTL kill-and-resume at p30-skew == uninterrupted") {
    assume(soakOn, "set GRAFT_SOAK=1 to run the streaming soak")
    // r18 verdict #4: the alternation emission carries the winning
    // branch (provenance) through the encoder — it must survive the
    // kill/restore byte-identically
    ckptRecoveryRunUpdate(
      df => StreamOps.streamingPatternSpecTtl(df,
        altStages(viewP, clickOrError, purchaseP),
        withinUs = 4L * 3600 * 1000000L)(spark).toDF(),
      "ckpt_pat_alt_ttl")
  }

  test("soak: optional-pattern-TTL kill-and-resume at p30-skew == uninterrupted") {
    assume(soakOn, "set GRAFT_SOAK=1 to run the streaming soak")
    // the optional stage's anchor is absent (the Long.MinValue sentinel)
    // when the zero-B arm won — the taken/skipped distinction must survive
    // recovery, and a replayed batch must re-derive the same
    // backtracking decision
    ckptRecoveryRunUpdate(
      df => StreamOps.streamingPatternSpecTtl(df,
        abc(viewP, click50P, purchaseP, QOpt),
        withinUs = 4L * 3600 * 1000000L)(spark).toDF(),
      "ckpt_pat_opt_ttl")
  }

  test("soak: star-pattern-TTL kill-and-resume at p30-skew == uninterrupted") {
    assume(soakOn, "set GRAFT_SOAK=1 to run the streaming soak")
    // star combines the run MEASURES (Double values) with the empty-run
    // emission — both cross the kill here
    ckptRecoveryRunUpdate(
      df => StreamOps.streamingPatternSpecTtl(df,
        abc(viewP, click50P, purchaseP, QStar),
        withinUs = 4L * 3600 * 1000000L)(spark).toDF(),
      "ckpt_pat_star_ttl")
  }

  // ------------------------------------------- decade-scale skew soak
  /** p100-skew soak corpus (r16 verdict #4): factor 100 → 10M events, the
    * hot user holding ~3M — the ScaleSmoke p100s geometry as 60
    * event-time-ordered half-day files. Gated separately
    * (GRAFT_SOAK_DECADE=1, baseline scripts/soak_p100_baseline.json) so
    * the standard GRAFT_SOAK gate's cost is unchanged. */
  private lazy val skewSoakDir100: String = {
    val d = "/tmp/graft_soak_events_skew_p100"
    if (!Files.exists(Paths.get(s"$d/_SOAK_READY"))) {
      val base = Tables.load(spark, srcDir, "events")
      val cloned = (0 until 100).map { k =>
        base.select(
          (col("event_id") + lit(k.toLong * 1000000000L)).as("event_id"),
          col("ts"),
          (col("user_id") + lit(k.toLong * 1000000000L)).as("user_id"),
          col("event_type"), col("value"), col("props"))
      }.reduce(_ unionByName _)
        .withColumn("user_id",
          when(pmod(xxhash64(col("event_id")), lit(10)) < 3, lit(424242L))
            .otherwise(col("user_id")))
        .withColumn("__chunk", ntile(60).over(
          org.apache.spark.sql.expressions.Window.orderBy(col("ts"))))
        .localCheckpoint()
      (1 to 60).foreach { c =>
        cloned.filter(col("__chunk") === c).drop("__chunk")
          .coalesce(1).write.mode("append").parquet(d)
      }
      Files.createFile(Paths.get(s"$d/_SOAK_READY"))
    }
    d
  }
  private val decadeOn = sys.env.get("GRAFT_SOAK_DECADE").contains("1")

  test("decade soak: sessionize-TTL state/wall under a 3M-event hot user") {
    assume(decadeOn, "set GRAFT_SOAK_DECADE=1 to run the decade soak")
    val ps = soak(
      StreamOps.streamingSessionizeTtl(
        StreamOps.readParquetStream(spark, skewSoakDir100, soakSchema))(spark)
        .toDF(),
      "update", "soak_sess_skew100")
    assert(ps.length >= 50, s"expected >=50 data batches, got ${ps.length}")
    val bytes = ps.map(stateBytes)
    val bHead = median(bytes.slice(5, 20))
    val bTail = median(bytes.takeRight(15))
    info(s"sessionize_ttl_skew_p100: state bytes head=$bHead tail=$bTail")
    assert(bTail <= 2 * bHead,
      s"hot-user state bytes trending: head $bHead tail $bTail")
    assertFlat("sessionize_ttl_skew_p100", ps)
    emitSoak("sessionize_ttl_skew_p100", ps)
    assert(spark.table("soak_sess_skew100").count() > 1000)
  }

  test("decade soak: funnel under a 3M-event hot user") {
    assume(decadeOn, "set GRAFT_SOAK_DECADE=1 to run the decade soak")
    val ps = soak(
      StreamOps.streamingFunnel(
        StreamOps.readParquetStream(spark, skewSoakDir100, soakSchema))(spark)
        .toDF(),
      "update", "soak_funnel_skew100")
    assert(ps.length >= 50, s"expected >=50 data batches, got ${ps.length}")
    assertFlat("funnel_skew_p100", ps)
    emitSoak("funnel_skew_p100", ps)
  }

  test("decade soak: stream-stream interval join under a 3M-event hot user") {
    assume(decadeOn, "set GRAFT_SOAK_DECADE=1 to run the decade soak")
    // Window is 1 MINUTE here, not the p30 rung's 10: the clone
    // derivation packs ×factor events into the same 30 days, so the hot
    // user's TRUE in-window pair count grows ~factor² — at p100 the
    // 10-min join's OUTPUT alone is ~11× the p30 rung's per batch (the
    // r16 w_interval_join adjudication class — work the corpus really
    // has). The decade rung measures the operator at a window that keeps
    // output human-scale; the first p100 run of the UNBANDED join is
    // what exposed the probe-scan quadratic the banded helper fixes
    // (BASELINE.md r17).
    val ps = soak(StreamOps.streamingIntervalJoin(
        StreamOps.readParquetStream(spark, skewSoakDir100, soakSchema),
        windowUs = 60L * 1000000L),
      "append", "soak_ivjoin_skew100")
    assert(ps.length >= 50, s"expected >=50 data batches, got ${ps.length}")
    assertFlat("ivjoin_skew_p100", ps)
    emitSoak("ivjoin_skew_p100", ps)
    assert(spark.table("soak_ivjoin_skew100").count() > 0)
  }

  test("decade soak: interval join at the 10-MINUTE production window") {
    assume(decadeOn, "set GRAFT_SOAK_DECADE=1 to run the decade soak")
    // r17 verdict #4: the 1-min decade row proved the banded key flat,
    // but the pre-fix failure was DIAGNOSED at the 10-min production
    // window — the band bound (~2W of a key's rows per probe) predicts
    // flat there too; this rung measures it instead of inferring. The
    // output is work-the-corpus-has (clone packing grows the hot user's
    // true in-window pair count ~factor², ~10× the 1-min rung per batch
    // — the r16 w_interval_join adjudication class), so the rung sinks
    // to noop: wall flatness and state boundedness are the signals, not
    // the pair list.
    val ps = soakNoop(StreamOps.streamingIntervalJoin(
        StreamOps.readParquetStream(spark, skewSoakDir100, soakSchema)),
      "append")
    assert(ps.length >= 50, s"expected >=50 data batches, got ${ps.length}")
    assertFlat("ivjoin_skew_p100_10min", ps)
    emitSoak("ivjoin_skew_p100_10min", ps)
    assert(ps.map(_.sink.numOutputRows).sum > 0, "join emitted nothing")
  }

  test("decade soak: quantified-pattern-TTL under a 3M-event hot user") {
    assume(decadeOn, "set GRAFT_SOAK_DECADE=1 to run the decade soak")
    val ps = soak(
      StreamOps.streamingPatternSpecTtl(
        StreamOps.readParquetStream(spark, skewSoakDir100, soakSchema),
        abc(viewP, click50P, purchaseP, QPlus),
        withinUs = 4L * 3600 * 1000000L)(spark).toDF(),
      "update", "soak_pat_plus_skew100")
    assert(ps.length >= 50, s"expected >=50 data batches, got ${ps.length}")
    val bytes = ps.map(stateBytes)
    val bHead = median(bytes.slice(5, 20))
    val bTail = median(bytes.takeRight(15))
    info(s"pattern_plus_ttl_skew_p100: state bytes head=$bHead tail=$bTail")
    assert(bTail <= 2 * bHead,
      s"hot-user quantified-pattern state trending: head $bHead tail $bTail")
    assertFlat("pattern_plus_ttl_skew_p100", ps)
    emitSoak("pattern_plus_ttl_skew_p100", ps)
    assert(spark.table("soak_pat_plus_skew100").count() > 0, "no finals emitted")
  }

  test("decade soak: pattern-TTL under a 3M-event hot user") {
    assume(decadeOn, "set GRAFT_SOAK_DECADE=1 to run the decade soak")
    val ps = soak(
      StreamOps.streamingPatternSpecTtl(
        StreamOps.readParquetStream(spark, skewSoakDir100, soakSchema),
        fixedStages, withinUs = 4L * 3600 * 1000000L)(spark).toDF(),
      "update", "soak_pat_skew100")
    assert(ps.length >= 50, s"expected >=50 data batches, got ${ps.length}")
    val bytes = ps.map(stateBytes)
    val bHead = median(bytes.slice(5, 20))
    val bTail = median(bytes.takeRight(15))
    info(s"pattern_ttl_skew_p100: state bytes head=$bHead tail=$bTail")
    assert(bTail <= 2 * bHead,
      s"hot-user pattern state trending: head $bHead tail $bTail")
    assertFlat("pattern_ttl_skew_p100", ps)
    emitSoak("pattern_ttl_skew_p100", ps)
    assert(spark.table("soak_pat_skew100").count() > 0, "no finals emitted")
  }

  /** Decade-scale recovery (r17 verdict #5): the p30 rungs proved the
    * custom-state encoder round-trip and emit-once across a kill; these
    * re-run the same discipline on the p100-skew corpus — 10M events, a
    * 3M-event hot user, bigger state snapshots, a longer replay after the
    * kill — where a serialization or replay-determinism defect that hides
    * at small state would surface. */
  test("decade soak: sessionize-TTL kill-and-resume at p100-skew == uninterrupted") {
    assume(decadeOn, "set GRAFT_SOAK_DECADE=1 to run the decade soak")
    ckptRecoveryRunUpdate(
      df => StreamOps.streamingSessionizeTtl(df)(spark).toDF(),
      "ckpt_sess_ttl_p100", Some(skewSoakDir100))
  }

  test("decade soak: pattern-TTL kill-and-resume at p100-skew == uninterrupted") {
    assume(decadeOn, "set GRAFT_SOAK_DECADE=1 to run the decade soak")
    ckptRecoveryRunUpdate(
      df => StreamOps.streamingPatternSpecTtl(df, fixedStages,
        withinUs = 4L * 3600 * 1000000L)(spark).toDF(),
      "ckpt_pat_ttl_p100", Some(skewSoakDir100))
  }

  test("soak: dropDuplicatesWithinWatermark evicts keys and stays wall-flat") {
    assume(soakOn, "set GRAFT_SOAK=1 to run the streaming soak")
    val ps = soak(
      StreamOps.dedupWithinWatermark(
        StreamOps.readParquetStream(spark, soakDir, soakSchema),
        watermark = "1 hour"),
      "append", "soak_dedup")
    assert(ps.length >= 50, s"expected >=50 data batches, got ${ps.length}")
    val emitted = spark.table("soak_dedup").count()
    val peak = ps.map(stateRows).max
    info(s"dedup: emitted=$emitted statePeak=$peak")
    // keys live ~1h in state; a half-day batch carries ~2.1k events at
    // p30 (3M/30d/2) → horizon ≈ few hundred live keys. The cumulative
    // emitted-key count is ~270k; bounded = peak orders below that.
    assert(peak < emitted / 10,
      s"dedup state peak $peak not far below emitted key universe $emitted")
    assertFlat("dedup", ps)
    emitSoak("dedup", ps)
  }

  test("soak: domain-bounded update agg (hourly counts) holds model-sized state") {
    assume(soakOn, "set GRAFT_SOAK=1 to run the streaming soak")
    val ps = soak(
      StreamOps.streamingHourlyCounts(
        StreamOps.readParquetStream(spark, soakDir, soakSchema)),
      "update", "soak_hourly")
    assert(ps.length >= 50, s"expected >=50 data batches, got ${ps.length}")
    val nTypes = spark.read.parquet(soakDir).select("event_type").distinct().count()
    // state bounded by the VALUE DOMAIN (24h × types), not the stream
    // length — the scaladoc's claim, now measured
    val rows = ps.map(stateRows)
    info(s"hourly: state end=${rows.last} bound=${nTypes * 24}")
    assert(rows.max <= nTypes * 24,
      s"hourly state ${rows.max} exceeded the 24×$nTypes domain bound")
    assertFlat("hourly", ps)
    emitSoak("hourly", ps)
  }
}
