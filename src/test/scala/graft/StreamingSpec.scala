package graft

import graft.streaming.StreamOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming ≡ batch equivalence: the same operators produce the same final
  * answer whether driven by spark.read or a multi-micro-batch file stream.
  * The batch side of each is DuckDB-oracle-checked (WindowQueries), so
  * equality here transitively oracle-checks the streaming path.
  */
class StreamingSpec extends AnyFunSuite with TempDirs {
  private val dir = "/root/testdata/sf0.001"
  implicit lazy val spark: SparkSession = GraftSession.local("4")

  /** Split events into several parquet files so the file stream runs
    * multiple micro-batches (state actually carries across batches). */
  private lazy val streamDir: String = {
    val d = tempDir("graft-stream").toString
    Tables.load(spark, dir, "events")
      .repartitionByRange(4, col("ts"))
      .write.mode("overwrite").parquet(d)
    d
  }

  private def eventsSchema =
    Tables.load(spark, dir, "events").schema

  private def runToCompletion(df: DataFrame, mode: String, name: String): DataFrame = {
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
  }

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

  // Equivalence tests use a watermark wider than the data's whole time range:
  // the file source lists micro-batches in nondeterministic order, and a
  // tight watermark would (correctly!) drop late files. Late-drop semantics
  // themselves are pinned by the MemoryStream test below.
  private val wideWm = "60 days"

  test("streaming tumble agg == batch tumble agg") {
    val streamed = runToCompletion(
      StreamOps.tumbleAgg(
        StreamOps.readParquetStream(spark, streamDir, eventsSchema), wideWm),
      "complete", "tumble_out")
    val batch = StreamOps.tumbleAgg(Tables.load(spark, dir, "events"), wideWm)
    assert(canon(streamed) == canon(batch))
    assert(streamed.count() > 0)
  }

  test("streaming session windows == batch session windows") {
    val streamed = runToCompletion(
      StreamOps.sessionAgg(
        StreamOps.readParquetStream(spark, streamDir, eventsSchema), wideWm),
      "complete", "session_out")
    val batch = StreamOps.sessionAgg(Tables.load(spark, dir, "events"), wideWm)
    assert(canon(streamed) == canon(batch))
  }

  test("streaming cumulate windows == batch cumulate windows") {
    import graft.operators.CumulateWindows
    def agg(df: DataFrame): DataFrame =
      CumulateWindows.cumulate(df, col("ts"), stepSec = 60, sizeSec = 120)
        .groupBy(col("win_start"), col("win_end"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
    val streamed = runToCompletion(
      agg(StreamOps.readParquetStream(spark, streamDir, eventsSchema)),
      "complete", "cumulate_out")
    val batch = agg(Tables.load(spark, dir, "events"))
    assert(canon(streamed) == canon(batch))
    assert(streamed.count() > 0)
  }

  test("horizon-bounded sessionize: finals == batch q38 rows, numbering included") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ev = Tables.load(spark, dir, "events").filter(col("ts").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .as[(Long, java.sql.Timestamp, Long, Double)].collect()
      .sortBy(_._2.getTime) // ts-ordered arrival; horizon covers in-batch ties
    val horizonUs = 2L * 3600 * 1000000L
    val gapUs = 1800L * 1000000L
    val maxUs = ev.last._2.getTime * 1000L
    // end-of-input fence: one far-future event per user pushes maxTs past
    // horizon + gap of everything real, finalizing every real session; the
    // fence sessions themselves stay open and never emit
    val fences = ev.map(_._1).distinct.zipWithIndex.map { case (u, i) =>
      (u, new java.sql.Timestamp((maxUs + horizonUs + 2 * gapUs) / 1000L + 1000L),
        -1000L - i, 0.0)
    }
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, Double)]
    val df = mem.toDF().toDF("user_id", "ts", "event_id", "value")
    val q = StreamOps.streamingSessionizeTtl(df, gapUs, horizonUs).toDF()
      .writeStream.outputMode("update").format("memory")
      .queryName("sess_ttl_out").start()
    try {
      ev.grouped((ev.length + 9) / 10).foreach { b =>
        mem.addData(b.toIndexedSeq: _*); q.processAllAvailable()
      }
      mem.addData(fences.toIndexedSeq: _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("sess_ttl_out")
    val batch = graft.operators.RelationalQueries.q38Sessionize(spark, dir)
      .select(col("user_id"), col("session_id"),
        unix_micros(col("session_start")).as("start_us"),
        unix_micros(col("session_end")).as("end_us"),
        col("n_events"), col("sum_value"))
    assert(canon(streamed) == canon(batch),
      "horizon-bounded finals must equal the batch session table")
    // emit-once: no duplicate (user, session) rows
    assert(streamed.select("user_id", "session_id").distinct().count() ==
      streamed.count())
  }

  test("horizon-bounded sessionize: late drop, eviction, re-delivery, bridge-merge") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, Double)]
    val df = mem.toDF().toDF("user_id", "ts", "event_id", "value")
    val q = StreamOps.streamingSessionizeTtl(df).toDF() // gap 30m, horizon 2h
      .writeStream.outputMode("update").format("memory")
      .queryName("sess_ttl_hand").start()
    try {
      // session A: 12:00 + 12:58 are separate (58m > gap) until the 12:29
      // bridge merges all three into one summary — the compaction case
      mem.addData((1L, t("2024-01-01 12:00:00"), 1L, 1.0),
        (1L, t("2024-01-01 12:58:00"), 2L, 2.0))
      q.processAllAvailable()
      mem.addData((1L, t("2024-01-01 12:29:00"), 3L, 4.0),
        (1L, t("2024-01-01 12:29:00"), 3L, 4.0)) // same batch re-delivery
      q.processAllAvailable()
      // advance maxTs to 16:00: A (ends 12:58) < 16:00-2h-30m = 13:30 ->
      // A finalizes NOW and leaves state
      mem.addData((1L, t("2024-01-01 16:00:00"), 4L, 8.0))
      q.processAllAvailable()
      // cross-batch re-delivery of event 1 AND a late event at 12:05
      // (below 16:00 - 2h): both must be dropped — no new session, no
      // re-emission, no double count
      mem.addData((1L, t("2024-01-01 12:00:00"), 1L, 1.0),
        (1L, t("2024-01-01 12:05:00"), 9L, 99.0))
      q.processAllAvailable()
      // fence finalizes the 16:00 session
      mem.addData((1L, t("2024-01-02 12:00:00"), 5L, 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("sess_ttl_hand")
      .select("user_id", "session_id", "start_us", "end_us", "n_events", "sum_value")
      .collect().map(_.toSeq).sortBy(_(1).asInstanceOf[Long])
    def us(s: String) = t(s).getTime * 1000L
    assert(rows.length == 2, s"expected 2 finals, got ${rows.mkString("; ")}")
    assert(rows(0) == Seq(1L, 1L, us("2024-01-01 12:00:00"),
      us("2024-01-01 12:58:00"), 3L, 7.0), s"session 1 wrong: ${rows(0)}")
    assert(rows(1) == Seq(1L, 2L, us("2024-01-01 16:00:00"),
      us("2024-01-01 16:00:00"), 1L, 8.0), s"session 2 wrong: ${rows(1)}")
  }

  test("horizon-bounded sessionize: exact boundary tie — a session ending AT floor stays open") {
    // the sessionize analogue of the pattern-TTL tie (r16 verdict #2):
    // a session ending at exactly floor = maxTs − horizon − gap can still
    // be extended by an admissible event at exactly maxTs − horizon
    // (admission and gap-merge are both inclusive) — the strict < at the
    // finalization line is what keeps it open. Pinned so neither TTL
    // operator can regress to at-or-below resolution.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, Double)]
    val df = mem.toDF().toDF("user_id", "ts", "event_id", "value")
    val q = StreamOps.streamingSessionizeTtl(df).toDF() // gap 30m, horizon 2h
      .writeStream.outputMode("update").format("memory")
      .queryName("sess_ttl_tie").start()
    try {
      mem.addData((1L, t("2024-01-01 12:00:00"), 1L, 1.0))
      q.processAllAvailable()
      // E2@14:30 sets floor = 14:30 − 2h − 30m = 12:00 == session A's end
      mem.addData((1L, t("2024-01-01 14:30:00"), 2L, 8.0))
      q.processAllAvailable()
      assert(spark.table("sess_ttl_tie").count() == 0,
        "a session ending at exactly floor is unresolved — nothing may finalize")
      // E3 at exactly maxTs − horizon == 12:30: admissible with equality,
      // gap-adjacent to the tied session (30m ≤ gap) — must merge into it
      mem.addData((1L, t("2024-01-01 12:30:00"), 3L, 2.0))
      q.processAllAvailable()
      // fence finalizes everything real
      mem.addData((1L, t("2024-01-02 12:00:00"), 4L, 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("sess_ttl_tie")
      .select("user_id", "session_id", "start_us", "end_us", "n_events", "sum_value")
      .collect().map(_.toSeq).sortBy(_(1).asInstanceOf[Long])
    def us(s: String) = t(s).getTime * 1000L
    assert(rows.length == 2, s"expected 2 finals, got ${rows.mkString("; ")}")
    assert(rows(0) == Seq(1L, 1L, us("2024-01-01 12:00:00"),
      us("2024-01-01 12:30:00"), 2L, 3.0),
      s"tied session must absorb the boundary event: ${rows(0)}")
    assert(rows(1) == Seq(1L, 2L, us("2024-01-01 14:30:00"),
      us("2024-01-01 14:30:00"), 1L, 8.0), s"session 2 wrong: ${rows(1)}")
  }

  test("watermark drops late rows (append-mode tumble)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "event_type", "value")
    val q = StreamOps.tumbleAgg(df, watermark = "1 minute")
      .writeStream.outputMode("append").format("memory").queryName("late_out")
      .start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // batch 1: establishes watermark at 12:10 - 1min = 12:09
    mem.addData((t("2024-01-01 12:10:00"), "click", 1.0))
    q.processAllAvailable()
    // batch 2: a row at 12:00 — behind the watermark, must be dropped;
    // a row at 12:20 advances the watermark past both windows, closing them
    mem.addData((t("2024-01-01 12:00:00"), "click", 1.0),
      (t("2024-01-01 12:20:00"), "click", 1.0))
    q.processAllAvailable()
    // batch 3: advance watermark past 12:21 so the 12:20 window also emits
    mem.addData((t("2024-01-01 12:30:00"), "click", 1.0))
    q.processAllAvailable()
    q.stop()
    val wins = spark.table("late_out").select("win_start").collect()
      .map(_.getLong(0)).toSet
    val epoch = (s: String) => t(s).getTime / 1000
    assert(wins.contains(epoch("2024-01-01 12:10:00")), "on-time window missing")
    assert(!wins.contains(epoch("2024-01-01 12:00:00")), "late row was not dropped")
  }

  test("dropDuplicatesWithinWatermark yields one row per (user, type)") {
    val streamed = runToCompletion(
      StreamOps.dedupWithinWatermark(
        StreamOps.readParquetStream(spark, streamDir, eventsSchema), wideWm),
      "append", "dedup_out")
    val expected = Tables.load(spark, dir, "events")
      .select("user_id", "event_type").distinct().count()
    assert(streamed.select("user_id", "event_type").distinct().count() == expected)
    assert(streamed.count() == expected)
  }

  test("stream-stream interval join (banded key) == batch interval join") {
    import graft.operators.WindowQueries
    // the banded helper (time band in the join KEY — the r17 structural
    // fix for the hot-key probe scan) must still equal the batch form
    // pair-for-pair; the band explode may not duplicate or drop any pair.
    // Compare the RAW (p_id, user, p_ts, c_ts) multiset against a PLAIN
    // unbanded batch join — a band-edge defect that swaps one qualifying
    // click for a non-qualifying one is count-preserving, so the old
    // aggregated comparison could not see it (r17 advice)
    val ev = StreamOps.readParquetStream(spark, streamDir, eventsSchema)
    val joined = StreamOps.streamingIntervalJoin(ev, watermark = wideWm)
    val streamed = runToCompletion(joined, "append", "ij_out")
    val evB = Tables.load(spark, dir, "events")
    val p = evB.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
    val c = evB.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
    val batchRaw = p.join(c, col("user_id") === col("c_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") > col("p_ts") - expr("INTERVAL 10 MINUTES"))
      .select(col("p_id"), col("user_id"), col("p_ts"), col("c_ts"))
    assert(canon(streamed) == canon(batchRaw))
    assert(streamed.count() > 0)
    // and the rollup still equals the oracle-checked batch operator
    val streamedAgg = streamed
      .groupBy(col("p_id"), col("user_id"))
      .agg(count(lit(1)).as("clicks_before"))
    assert(canon(streamedAgg) == canon(WindowQueries.qIntervalJoin(spark, dir)))
  }

  test("CDC changelog: latestSnapshot compacts, deletes drop keys, streaming merge matches") {
    import graft.streaming.ChangelogOps
    import spark.implicits._
    val changelog = Seq(
      ("c", 1L, "alice", 100L), ("u", 1L, "alicia", 101L),
      ("c", 2L, "bob", 102L), ("d", 2L, "bob", 103L),
      ("c", 3L, "carol", 104L), ("u", 3L, "carolyn", 105L), ("u", 3L, "caro", 106L)
    ).toDF("op", "id", "name", "lsn")
    val snap = ChangelogOps.latestSnapshot(changelog, Seq("id"), col("lsn"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(snap.toSeq == Seq((1L, "alicia"), (3L, "caro")))

    // streaming merge: key 2 is created in batch 0 and deleted in batch 1 —
    // the tombstone must remove a key from an EARLIER batch
    val store = new graft.engine.ResultStore(Seq("id", "name", "lsn"))
    ChangelogOps.mergeBatch(store, Seq("id"), col("lsn"))(
      changelog.filter(col("lsn") <= 102), 0L)
    assert(store.snapshot().map(_.head).toSet == Set(1L, 2L))
    ChangelogOps.mergeBatch(store, Seq("id"), col("lsn"))(
      changelog.filter(col("lsn") > 102), 1L)
    val state = store.snapshot().map(r => (r(0).asInstanceOf[Long], r(1))).sortBy(_._1)
    assert(state == Seq((1L, "alicia"), (3L, "caro")))
  }

  test("CDC batch compaction: same-ts_ms changes order by file write time, not split packing") {
    import graft.streaming.ChangelogOps
    val dir = tempDir("graft-cdc-tie")
    // the EARLIER-written file is deliberately LARGER: split-size packing
    // would scan it first and a position-only tiebreaker would crown its
    // change the winner — write order must decide instead
    java.nio.file.Files.writeString(dir.resolve("a.json"),
      ("""{"before":null,"after":{"id":1,"name":"old"},"op":"c","ts_ms":100}""" + "\n") +
        (2 to 40).map(i =>
          s"""{"before":null,"after":{"id":$i,"name":"pad$i"},"op":"c","ts_ms":50}""")
          .mkString("", "\n", "\n"))
    Thread.sleep(20) // distinct mtime at microsecond resolution
    java.nio.file.Files.writeString(dir.resolve("b.json"),
      """{"before":{"id":1,"name":"old"},"after":{"id":1,"name":"new"},"op":"u","ts_ms":100}""" + "\n")
    val payload = new org.apache.spark.sql.types.StructType()
      .add("id", org.apache.spark.sql.types.IntegerType)
      .add("name", org.apache.spark.sql.types.StringType)
    val log = graft.sources.DebeziumJson.fileBatch(spark, dir.toString, payload)
      .withColumn("__seq", monotonically_increasing_id())
    val snap = ChangelogOps.latestSnapshot(log, Seq("id"),
        org.apache.spark.sql.functions.struct(col("__ord"), col("__mt"), col("__seq")),
        opCol = "__op")
      .filter(col("id") === 1).collect()
    assert(snap.map(_.getString(1)).toSeq == Seq("new"),
      s"later-written change must win the ts tie; got ${snap.toSeq}")
  }

  test("streaming top-N converges to batch top-N across micro-batches") {
    import spark.implicits._
    val streamed = runToCompletion(
      StreamOps.streamingTopN(
        StreamOps.readParquetStream(spark, streamDir, eventsSchema)).toDF(),
      "update", "topn_out")
    // update mode re-emits per batch: keep the LAST emission per (group,rank)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("group"), col("rank"))
      .orderBy(col("emit_order").desc)
    val finalRows = streamed
      .withColumn("emit_order", monotonically_increasing_id())
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("group", "value", "cnt", "rank")
    val batch = StreamOps.batchTopN(Tables.load(spark, dir, "events"))
      .select("group", "value", "cnt", "rank")
    assert(canon(finalRows) == canon(batch))
  }

  test("streaming near-dup emits exactly the batch Hamming pairs, once each") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // signatures with planted structure: 10/11 identical (ham 0), 12 within
    // ham 2 of both, 13 within ham 3 of 12 only, 14/15 far away — and the
    // near-dups arrive in DIFFERENT micro-batches so matching crosses state
    val base = 0x0123456789abcdefL
    val sigs = Seq(
      10L -> base, 11L -> base, 12L -> (base ^ 3L),
      13L -> (base ^ 3L ^ (1L << 40) ^ (1L << 50) ^ (1L << 60)),
      14L -> ~base, 15L -> (~base ^ 1L))
    val mem = MemoryStream[(Long, Long)]
    val q = StreamOps.streamingNearDup(mem.toDS()).toDF()
      .writeStream.outputMode("append").format("memory")
      .queryName("neardup_out").start()
    try {
      mem.addData(sigs.take(3): _*); q.processAllAvailable()
      // re-deliver doc 10 (at-least-once upstream): must not re-emit its
      // pairs or grow state
      mem.addData(sigs.drop(3) :+ sigs.head: _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("neardup_out")
    val batch = StreamOps.batchNearDup(spark.createDataset(sigs))
    assert(canon(streamed) == canon(batch), s"streamed=${canon(streamed)}")
    // exactly-once per pair even though pairs collide in multiple blocks
    val pairs = streamed.select("id_a", "id_b").collect().map(_.toSeq)
    assert(pairs.distinct.length == pairs.length, "duplicate pair emission")
    assert(pairs.nonEmpty)
  }

  test("streaming near-dup TTL: watermark evicts old docs, in-window pairs unchanged") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val base = 0x0123456789abcdefL
    val mem = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val q = StreamOps.streamingNearDupTtl(mem.toDS(), ttl = "10 minutes").toDF()
      .writeStream.outputMode("append").format("memory")
      .queryName("neardup_ttl_out").start()
    try {
      // batch 1: identical sigs 10/11 at 12:00 → pair (10,11); watermark
      // after the batch = 11:50
      mem.addData((10L, base, t("2024-01-01 12:00:00")),
        (11L, base, t("2024-01-01 12:00:00")))
      q.processAllAvailable()
      // batch 2: a far-away doc at 12:40 pairs with nothing but advances
      // the watermark to 12:30 — PAST docs 10/11
      mem.addData((14L, ~base, t("2024-01-01 12:40:00")))
      q.processAllAvailable()
      // batch 3: doc 12 is within ham 2 of 10/11 and doc 13 within ham 3
      // of all of 10/11/12 — but 10/11 are evicted, so only the in-window
      // pair (12,13) may emit
      mem.addData((12L, base ^ 3L, t("2024-01-01 12:35:00")),
        (13L, base ^ 3L ^ (1L << 40), t("2024-01-01 12:36:00")))
      q.processAllAvailable()
    } finally q.stop()
    val pairs = spark.table("neardup_ttl_out")
      .select("id_a", "id_b", "ham").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs == Set((10L, 11L, 0), (12L, 13L, 1)),
      s"expected eviction of 10/11 before 12/13 arrived; got $pairs")
  }

  /** Latest emission per user from an update-mode sink (the topN pattern:
    * memory-sink row order tracks emission order). */
  private def lastPerUser(sink: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("emit_order").desc)
    sink.withColumn("emit_order", monotonically_increasing_id())
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
  }

  test("streaming funnel converges to the batch funnel stage counts") {
    val streamed = runToCompletion(
      StreamOps.streamingFunnel(
        StreamOps.readParquetStream(spark, streamDir, eventsSchema)).toDF(),
      "update", "funnel_out")
    val last = lastPerUser(streamed)
    val counts = (1 to 3).map(s => last.filter(col("stage") >= s).count())
    val batch = graft.operators.RelationalQueries.q36EventFunnel(spark, dir)
      .orderBy("stage").collect().map(_.getLong(2)).toSeq
    assert(counts == batch, s"streamed stage counts $counts != batch $batch")
    assert(counts.head > 0)
  }

  test("streaming retention converges to the batch cohort matrix") {
    val streamed = runToCompletion(
      StreamOps.streamingRetention(
        StreamOps.readParquetStream(spark, streamDir, eventsSchema)).toDF(),
      "update", "retention_out")
    // materialized once: `last` feeds BOTH sides of the cells×sizes join,
    // and monotonically_increasing_id must not be re-evaluated per branch
    val last = lastPerUser(streamed).localCheckpoint()
    val cells = last
      .select(col("cohort"), explode(col("day_offsets")).as("day_offset"))
      .groupBy(col("cohort"), col("day_offset"))
      .agg(count(lit(1)).as("n_active"))
    val sizes = last.groupBy(col("cohort")).agg(count(lit(1)).as("n_cohort"))
    val matrix = cells.join(sizes, Seq("cohort"))
      .select(col("cohort"), col("day_offset"), col("n_active"), col("n_cohort"),
        round(col("n_active").cast("double") / col("n_cohort").cast("double"), 6)
          .as("retention"))
    val batch = graft.operators.RelationalQueries.q37Retention(spark, dir)
    assert(canon(matrix) == canon(batch))
  }

  test("streaming split assignment == batch assignment doc-for-doc") {
    // the hash-deterministic design claim made testable: whatever
    // micro-batch a doc arrives in, it lands in the same split
    val d = Tables.load(spark, dir, "documents")
    val splitDocsDir = tempDir("graft-split-stream").toString
    d.repartition(4).write.mode("overwrite").parquet(splitDocsDir)
    val streamed = runToCompletion(
      graft.operators.CurationOps.dsSplitAssign(
        StreamOps.readParquetStream(spark, splitDocsDir, d.schema)),
      "append", "split_out")
    val batch = graft.operators.CurationOps.dsSplitAssign(d)
    assert(canon(streamed) == canon(batch))
    assert(streamed.select("split").distinct().count() == 3)
  }

  test("streaming sessionize converges to the batch session table") {
    val streamed = runToCompletion(
      StreamOps.streamingSessionize(
        StreamOps.readParquetStream(spark, streamDir, eventsSchema)).toDF(),
      "update", "sessionize_out")
    val table = lastPerUser(streamed)
      .select(col("user_id"), explode(col("sessions")).as("s"))
      .select(col("user_id"), col("s.session_id"), col("s.start_us"),
        col("s.end_us"), col("s.n_events"), col("s.sum_value"))
    val batch = graft.operators.RelationalQueries.q38Sessionize(spark, dir)
      .select(col("user_id"), col("session_id"),
        unix_micros(col("session_start")).as("start_us"),
        unix_micros(col("session_end")).as("end_us"),
        col("n_events"), col("sum_value"))
    assert(canon(table) == canon(batch))
    assert(table.filter(col("n_events") > 1).count() > 0,
      "testdata should contain multi-event sessions")
  }

  test("streaming transitions converge to the batch transition matrix") {
    val streamed = runToCompletion(
      StreamOps.streamingTransitions(
        StreamOps.readParquetStream(spark, streamDir, eventsSchema)).toDF(),
      "update", "trans_out")
    val table = lastPerUser(streamed)
      .select(explode(col("pairs")).as("p"))
      .groupBy(col("p.prev_type").as("prev_type"),
        col("p.next_type").as("next_type"))
      .agg(count(lit(1)).as("n_trans"))
    val batch = graft.operators.CurationOps.evtTransitions(spark, dir)
      .select(col("prev_type"), col("next_type"), col("n_trans"))
    assert(canon(table) == canon(batch))
    assert(table.count() > 0, "testdata should produce transitions")
  }

  test("streaming hourly counts converge to the batch hourly profile") {
    val streamed = runToCompletion(
      StreamOps.streamingHourlyCounts(
        StreamOps.readParquetStream(spark, streamDir, eventsSchema)),
      "update", "hourly_out")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"), col("hh")).orderBy(col("emit_order").desc)
    val table = streamed.withColumn("emit_order", monotonically_increasing_id())
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("event_type"), col("hh"), col("n_events"))
    val batch = graft.operators.CurationOps.evtHourlyProfile(spark, dir)
      .select(col("event_type"), col("hh"), col("n_events"))
    assert(canon(table) == canon(batch))
  }

  test("streaming event outliers == batch z-score verdicts on arrival") {
    val moments = graft.operators.CurationOps.evtValueMoments(spark, dir)
    val streamed = runToCompletion(
      StreamOps.streamingEvtOutliers(
        StreamOps.readParquetStream(spark, streamDir, eventsSchema), moments),
      "append", "evtout_out")
    val batch = graft.operators.CurationOps.evtOutliers(spark, dir)
    assert(canon(streamed) == canon(batch))
  }

  test("streaming soft-dedup snapshots converge to the batch weights") {
    val d = Tables.load(spark, dir, "documents")
    val sdDir = tempDir("graft-softdedup").toString
    d.repartition(4).write.mode("overwrite").parquet(sdDir)
    val streamed = runToCompletion(
      StreamOps.streamingSoftDedup(
        StreamOps.readParquetStream(spark, sdDir, d.schema)).toDF(),
      "update", "softdedup_out")
    // last snapshot per fingerprint group, flattened to doc rows
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp")).orderBy(col("emit_order").desc)
    val table = streamed.withColumn("emit_order", monotonically_increasing_id())
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(explode(col("docs")).as("d"))
      .select(col("d.doc_id"), col("d.n_copies"), col("d.weight"),
        col("d.eff_tokens"))
    val batch = graft.operators.SamplingOps.sampSoftDedup(spark, dir)
      .select(col("doc_id"), col("n_copies"), col("weight"), col("eff_tokens"))
    assert(canon(table) == canon(batch))
    assert(table.count() == Tables.load(spark, dir, "documents").count())
  }

  test("streaming substring cut == batch cut doc-for-doc (stateless append)") {
    // sketch over the corpus's duplicated windows, as the batch side builds
    // it; stream the same docs through multiple micro-batches. Sketch is
    // oversized for the corpus (≪1 expected false positives), so exact
    // equality with the batch cut is the honest assertion — any divergence
    // is a logic bug, not bloom noise.
    val d = Tables.load(spark, dir, "documents")
    val sketch = graft.operators.DedupOps.substringDupSketch(spark, dir)
    val cutDir = tempDir("graft-subcut-stream").toString
    d.repartition(4).write.mode("overwrite").parquet(cutDir)
    val streamed = runToCompletion(
      StreamOps.streamingSubstringCut(
        StreamOps.readParquetStream(spark, cutDir, d.schema), sketch),
      "append", "subcut_out")
    val batch = graft.operators.DedupOps.ddSubstringCut(spark, dir)
    assert(canon(streamed) == canon(batch))
    assert(streamed.filter(col("n_removed") > 0).count() > 0,
      "testdata should contain duplicated spans")
  }

  test("streaming mix_budget: single wave == batch assembly; waves stay closed") {
    import graft.operators.SamplingOps
    val d = Tables.load(spark, dir, "documents")
    val batch = SamplingOps.mixBudget(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val budget = batch.values.head._1
    // single wave (one file, one micro-batch): the per-wave quality sort
    // makes the stream's greedy fill the batch assembly exactly
    val dir1 = tempDir("graft-budget-1").toString
    d.coalesce(1).write.mode("overwrite").parquet(dir1)
    val one = runToCompletion(
      StreamOps.streamingMixBudget(
        StreamOps.readParquetStream(spark, dir1, d.schema), budget).toDF(),
      "append", "budget_one")
    val oneRoll = one.filter(col("kept"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(col("n_tokens")).as("tok"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(oneRoll == batch.map { case (s, (_, n, t)) => s -> (n, t) },
      "single-wave stream must equal the batch assembly rollup")
    // multi-wave (4 files): closure law — every source ends at-or-past its
    // budget or fully admitted, and every doc got exactly one decision
    val dir4 = tempDir("graft-budget-4").toString
    d.repartition(4).write.mode("overwrite").parquet(dir4)
    val four = runToCompletion(
      StreamOps.streamingMixBudget(
        StreamOps.readParquetStream(spark, dir4, d.schema), budget).toDF(),
      "append", "budget_four")
    assert(four.count() == d.count(), "one decision per document")
    val srcTok = d.select(col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n"))
      .groupBy("source").agg(sum(col("n")).as("tot")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    four.filter(col("kept")).groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("tok")).collect().foreach { r =>
        val (s, tok) = (r.getString(0), r.getLong(1))
        assert(tok >= budget || tok == srcTok(s),
          s"$s closed under budget without exhausting: $tok < $budget")
      }
  }

  test("streaming DSIR scores == batch scores and enrich the target source") {
    import graft.operators.SamplingOps
    val d = Tables.load(spark, dir, "documents")
    val buckets = SamplingOps.dsirLlrBuckets(spark, dir)
    val streamDir = tempDir("graft-dsir-stream").toString
    d.repartition(4).write.mode("overwrite").parquet(streamDir)
    val streamed = runToCompletion(
      StreamOps.streamingDsirScore(
        StreamOps.readParquetStream(spark, streamDir, d.schema), buckets),
      "append", "dsir_out")
    val batch = SamplingOps.dsirScore(d, buckets)
    assert(canon(streamed) == canon(batch),
      "hashed-model scoring must agree doc-for-doc across batch and stream")
    // the hashed model keeps DSIR's point: src0 docs surface. Top-100 by
    // streamed score must beat src0's corpus base rate (the exact-form
    // spec's law, now holding for the stream-portable model).
    val srcOf = d.select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val top = streamed.orderBy(col("log_w").desc, col("doc_id"))
      .limit(100).collect()
    val topSrc0 = top.count(r => srcOf(r.getLong(0)) == "src0")
    assert(topSrc0.toDouble / top.length >
      srcOf.values.count(_ == "src0").toDouble / srcOf.size,
      s"top-100 src0 share $topSrc0/100 not above base rate")
  }

  test("streaming bloom decontamination flags == batch flags (stateless append)") {
    import graft.functions.{BloomSketch, TextFunctions}
    // sketch over the eval side (src0), exactly as the batch screen builds it
    val d = Tables.load(spark, dir, "documents")
    val evalSh = d.filter(col("source") === "src0")
      .select(explode(TextFunctions.shingles(TextFunctions.tokens(col("text")), 3)).as("s"))
      .select(xxhash64(col("s")).as("hs")).distinct()
    val sketch = BloomSketch.buildSketch(evalSh, col("hs"), 1L << 20, 1L << 24)
    // stream the train docs through multiple micro-batches
    val trainDir = tempDir("graft-bloom-stream").toString
    val train = d.filter(col("source") =!= "src0")
    train.repartition(4).write.mode("overwrite").parquet(trainDir)
    val streamed = runToCompletion(
      StreamOps.streamingBloomFlag(
        StreamOps.readParquetStream(spark, trainDir, d.schema), sketch),
      "append", "bloomflag_out")
    val batch = graft.operators.DedupOps.ddBloomFlag(spark, dir)
      .select(col("train_doc").as("doc_id"), col("n_hits"))
    assert(canon(streamed) == canon(batch),
      s"streamed=${canon(streamed)} batch=${canon(batch)}")
    assert(streamed.count() > 0, "testdata should contain contaminated train docs")
  }

  test("streaming Gopher battery == batch battery doc-for-doc (stateless append)") {
    val d = Tables.load(spark, dir, "documents")
    val docsDir = tempDir("graft-gopher-stream").toString
    d.repartition(4).write.mode("overwrite").parquet(docsDir)
    val streamed = runToCompletion(
      StreamOps.streamingGopherFlags(
        StreamOps.readParquetStream(spark, docsDir, d.schema)),
      "append", "gopher_out")
    val batch = graft.operators.TextQueries.all("txt_gopher")(spark, dir)
    assert(canon(streamed) == canon(batch))
    // Corpus-calibrated guards: sf0.001 has ZERO docs passing all seven
    // rules, so the old `keep === 1` guard was testdata-coupled (the r8
    // red test). Parity above already pins `keep` doc-for-doc; here just
    // require the battery saw rows and discriminates at the rule grain.
    val n = streamed.count()
    assert(n > 0, "streamed no docs")
    val ruleCols = Seq("r_wordcount", "r_meanlen", "r_symbol", "r_bullet",
      "r_ellipsis", "r_alpha", "r_stops")
    val sums = streamed
      .select(ruleCols.map(c => sum(col(c).cast("long")).as(c)): _*)
      .collect()(0)
    assert(ruleCols.indices.exists(i => sums.getLong(i) > 0),
      "no rule passes any doc — battery vacuously rejecting")
    assert(ruleCols.indices.exists(i => sums.getLong(i) < n),
      "every rule passes every doc — battery vacuously accepting")
  }

  test("streaming PII scan == batch scan doc-for-doc (stateless append)") {
    val d = Tables.load(spark, dir, "documents")
    val docsDir = tempDir("graft-pii-stream").toString
    d.repartition(4).write.mode("overwrite").parquet(docsDir)
    val streamed = runToCompletion(
      StreamOps.streamingPii(
        StreamOps.readParquetStream(spark, docsDir, d.schema)),
      "append", "pii_out")
    val batch = graft.operators.TextQueries.txtPii(spark, dir)
    assert(canon(streamed) == canon(batch))
    // every non-control class doc carries exactly its one injected form
    assert(streamed.filter(col("has_pii") === 1).count() ==
      d.filter(pmod(col("doc_id"), lit(5L)) =!= 4).count())
  }

  test("streaming BPE apply == batch compression report (fixed merge table)") {
    val d = Tables.load(spark, dir, "documents")
    val merges = graft.operators.CurationOps.txtBpeTrain(spark, dir).collect()
      .sortBy(_.getLong(0)).map(r => (r.getString(1), r.getString(2))).toSeq
    val docsDir = tempDir("graft-bpe-stream").toString
    d.repartition(4).write.mode("overwrite").parquet(docsDir)
    val streamed = runToCompletion(
      StreamOps.streamingBpeApply(
        StreamOps.readParquetStream(spark, docsDir, d.schema), merges),
      "append", "bpe_out")
    val batch = graft.operators.CurationOps.txtBpeApply(spark, dir)
    assert(canon(streamed) == canon(batch))
    assert(streamed.agg(sum(col("saved"))).collect()(0).getLong(0) > 0,
      "the fixed merge table must compress arriving docs")
  }

  test("streaming CDC chunks == batch chunk grain (stateless append)") {
    val d = Tables.load(spark, dir, "documents")
    val docsDir = tempDir("graft-cdc-stream").toString
    d.repartition(4).write.mode("overwrite").parquet(docsDir)
    val streamed = runToCompletion(
      StreamOps.streamingCdcChunks(
        StreamOps.readParquetStream(spark, docsDir, d.schema)),
      "append", "cdc_out")
    val batch = graft.operators.CurationOps.txtCdcChunks(spark, dir)
      .select(col("doc_id"), col("chunk_id"), col("n_tok"), col("chunk_fp"))
    assert(canon(streamed) == canon(batch))
  }

  test("streaming incremental exact screen == batch exact tier (stream-static join)") {
    import graft.functions.TextFunctions
    import graft.operators.DedupOps
    val bucket = substring(md5(col("doc_id").cast("string")), 1, 1)
    val d = Tables.load(spark, dir, "documents").select(col("doc_id"), col("text"))
    // plant one cross-bucket exact duplicate so the exact verdict fires
    // (the generated corpus's exact dups all land inside one bucket)
    val corpusText = d.withColumn("b", bucket).filter(col("b") < "d")
      .limit(1).collect()(0).getString(1)
    val plantedId = (1000000L to 1001000L).find { id =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.head >= 'd'
    }.get
    import spark.implicits._
    val aug = d.unionByName(Seq((plantedId, corpusText)).toDF("doc_id", "text"))
    val tmp = tempDir("graft-incr-static").toString
    aug.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val withB = Tables.load(spark, tmp, "documents").withColumn("b", bucket)
    val index = DedupOps.fingerprintIndex(withB.filter(col("b") < "d")
      .select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp")))
    val delta = withB.filter(col("b") >= "d").select("doc_id", "text")
    val deltaDir = tempDir("graft-incr-stream").toString
    delta.repartition(4).write.mode("overwrite").parquet(deltaDir)
    val streamed = runToCompletion(
      StreamOps.streamingIncrementalExact(
        StreamOps.readParquetStream(spark, deltaDir, delta.schema), index),
      "append", "incr_out")
    // batch ground truth: the exact tier of ddIncremental (near → new,
    // since the streaming exact screen by design only probes fingerprints)
    val batch = DedupOps.ddIncremental(spark, tmp)
      .select(col("doc_id"),
        when(col("verdict") === "exact", "exact").otherwise("new").as("verdict"),
        when(col("verdict") === "exact", col("match_id")).as("match_id"))
    assert(canon(streamed) == canon(batch))
    assert(streamed.filter(col("verdict") === "exact").count() >= 1,
      "the planted cross-bucket duplicate must surface as an exact match")
  }

  test("streaming contamination fraction == batch graded verdicts on arrival") {
    import graft.operators.DedupOps
    val d = Tables.load(spark, dir, "documents")
    val train = d.filter(col("source") =!= "src0").select("doc_id", "text")
    val (rare, evalGrams) = DedupOps.contamStatics(spark, dir)
    val docsDir = tempDir("graft-contam-stream").toString
    train.repartition(4).write.mode("overwrite").parquet(docsDir)
    val streamed = runToCompletion(
      StreamOps.streamingContamFraction(
        StreamOps.readParquetStream(spark, docsDir, train.schema),
        rare, evalGrams),
      "update", "contam_out")
    // each doc arrives whole in one micro-batch → exactly one emission;
    // batch reports zero-gram docs as 0/0 which the stream (by documented
    // design) omits — compare on the docs the stream saw
    val batch = DedupOps.ddContamFraction(spark, dir)
      .filter(col("n_grams") > 0)
    assert(canon(streamed) == canon(batch))
    assert(streamed.filter(col("n_contam") > 0).count() > 0,
      "planted contamination should surface on the stream")
  }

  test("streaming cluster assignment == batch seed assignment vec-for-vec") {
    val e = Tables.load(spark, dir, "embeddings")
    // the batch model: 16 lowest vec_ids, components rounded to 6 — the
    // seedAssignment contract, rebuilt here as the literal model the
    // stream ships
    val cents = e.select(col("vec_id"), col("embedding"))
      .orderBy(col("vec_id")).limit(16).collect()
      .map { r =>
        (r.getLong(0), r.getSeq[Float](1).map(f =>
          BigDecimal(f.toDouble).setScale(6,
            BigDecimal.RoundingMode.HALF_UP).toDouble).toSeq)
      }.toSeq
    val vecsDir = tempDir("graft-assign-stream").toString
    e.repartition(4).write.mode("overwrite").parquet(vecsDir)
    val streamed = runToCompletion(
      StreamOps.streamingClusterAssign(
        StreamOps.readParquetStream(spark, vecsDir, e.schema), cents),
      "append", "assign_out")
    val batch = graft.operators.EmbeddingOps.seedAssignment(spark, dir, 16)
      .select(col("vec_id"), col("cluster"))
    assert(canon(streamed.select(col("vec_id"), col("cluster")))
      == canon(batch))
    assert(streamed.count() == e.count(), "every arriving vector routed")
    assert(streamed.select("cluster").distinct().count() > 1,
      "the model must actually separate the corpus")
  }

  test("streaming winnowing == batch winnowing doc-for-doc") {
    val d = Tables.load(spark, dir, "documents")
    val fpIndex = graft.operators.TextQueries.winnowingFpIndex(spark, dir)
      .localCheckpoint()
    val wDir = tempDir("graft-winnow-stream").toString
    d.repartition(4).write.mode("overwrite").parquet(wDir)
    val streamed = runToCompletion(
      StreamOps.streamingWinnowing(
        StreamOps.readParquetStream(spark, wDir, d.schema), fpIndex),
      "update", "winnow_out")
    // each doc's fingerprints arrive in ONE micro-batch (one row per doc),
    // so every doc-keyed group emits exactly once — no snapshot dedup
    val batch = graft.operators.TextQueries.txtWinnowing(spark, dir)
      .select(col("doc_id"), col("n_grams"), col("n_sel"), col("n_fp"),
        col("n_fp_shared"), col("density"))
    assert(canon(streamed) == canon(batch))
    assert(streamed.filter(col("n_fp_shared") > 0).count() > 0,
      "testdata should contain cross-doc shared fingerprints")
  }

  test("streaming containment folds onto the batch pair relation") {
    val d = Tables.load(spark, dir, "documents")
    val (sh, cnt, sketch) =
      graft.operators.DedupOps.containmentCorpusState(spark, dir)
    val cDir = tempDir("graft-contain-stream").toString
    d.repartition(4).write.mode("overwrite").parquet(cDir)
    val streamed = runToCompletion(
      StreamOps.streamingContainment(
        StreamOps.readParquetStream(spark, cDir, d.schema), sh, cnt, sketch),
      "update", "contain_out")
    // a corpus replay produces each undirected batch pair as BOTH directed
    // rows; the (id_delta < id_corpus) half, renamed, IS the batch relation
    val half = streamed.filter(col("id_delta") < col("id_corpus"))
      .select(col("id_delta").as("id_a"), col("id_corpus").as("id_b"),
        col("n_inter"), col("n_delta").as("n_a"), col("n_corpus").as("n_b"),
        col("cont_delta_in_corpus").as("cont_a_in_b"),
        col("cont_corpus_in_delta").as("cont_b_in_a"))
    val batch = graft.operators.DedupOps.ddContainment(spark, dir)
    assert(canon(half) == canon(batch))
    assert(streamed.count() == 2 * batch.count(),
      "both directions of every pair must surface")
    assert(batch.count() > 0, "testdata should contain containment pairs")
  }

  test("recovery restart: kill a checkpointed agg mid-stream, resume — no lost or duplicated aggregates") {
    // The EXACTLY_ONCE contract (reference conf/flink-conf.yaml:61-63):
    // a checkpointed streaming aggregation stopped mid-stream and resumed
    // from the same checkpointLocation must produce results identical to
    // an uninterrupted run — state recovered (a window OPEN at the kill
    // accumulates rows from both before and after), nothing re-emitted.
    import java.sql.Timestamp
    import spark.implicits._
    def t(s: String) = Timestamp.valueOf(s)
    // one "file" per micro-batch; window 12:02 receives rows BEFORE the
    // kill (file 2) and AFTER the resume (file 3) — the recovered-state
    // probe. The final sentinel advances the watermark past every real
    // window so append mode flushes them all.
    val files: Seq[Seq[(Timestamp, String, Double)]] = Seq(
      Seq((t("2024-01-01 12:00:10"), "click", 1.0),
        (t("2024-01-01 12:00:20"), "view", 2.0)),
      Seq((t("2024-01-01 12:01:10"), "click", 3.0)),
      Seq((t("2024-01-01 12:02:10"), "click", 4.0)),
      // ---- kill + resume happens between these two ----
      Seq((t("2024-01-01 12:02:40"), "click", 5.0),
        (t("2024-01-01 12:03:10"), "view", 6.0)),
      Seq((t("2024-01-01 13:00:00"), "sentinel", 0.0)))
    val schema = files.head.toDF("ts", "event_type", "value").schema

    /** Write `batch` as one parquet file into `src`, then let the running
      * query drain it — each step is (at least) one micro-batch, and the
      * file arrival ORDER is controlled, so the watermark advances
      * deterministically in every run. */
    def step(src: String, q: org.apache.spark.sql.streaming.StreamingQuery,
        batch: Seq[(Timestamp, String, Double)]): Unit = {
      batch.toDF("ts", "event_type", "value")
        .coalesce(1).write.mode("append").parquet(src)
      q.processAllAvailable()
    }
    def start(src: String, ck: String, out: String) =
      StreamOps.tumbleAgg(
          StreamOps.readParquetStream(spark, src, schema), "2 minutes")
        .writeStream.outputMode("append").format("parquet")
        .option("path", out).option("checkpointLocation", ck).start()

    val base = tempDir("graft-recovery")
    def mk(n: String) = { val p = base.resolve(n); p.toFile.mkdirs(); p.toString }

    // interrupted run: 3 batches, STOP, new query from the same
    // checkpoint + sink, remaining batches
    val (srcA, ckA, outA) = (mk("srcA"), mk("ckA"), mk("outA"))
    val q1 = start(srcA, ckA, outA)
    files.take(3).foreach(step(srcA, q1, _))
    q1.stop()
    q1.awaitTermination()
    val q2 = start(srcA, ckA, outA)
    files.drop(3).foreach(step(srcA, q2, _))
    q2.stop()
    q2.awaitTermination()

    // uninterrupted control: same batches, one query lifetime
    val (srcB, ckB, outB) = (mk("srcB"), mk("ckB"), mk("outB"))
    val qb = start(srcB, ckB, outB)
    files.foreach(step(srcB, qb, _))
    qb.stop()
    qb.awaitTermination()

    // reading the sink path honors the FileStreamSink _spark_metadata log,
    // i.e. this read IS the exactly-once visibility surface
    val got = spark.read.parquet(outA)
    val control = spark.read.parquet(outB)
    assert(canon(got) == canon(control),
      "resumed run must equal the uninterrupted run row-for-row")
    // the window spanning the kill recovered its pre-kill state: 12:02
    // holds the pre-kill click(4.0) AND the post-resume click(5.0)
    val spanning = got.filter(col("win_start") ===
        t("2024-01-01 12:02:00").getTime / 1000)
      .select(col("event_type"), col("n_events"), col("sum_value").cast("double"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(spanning == Set(("click", 2L, 9.0)),
      s"window open across the kill must merge both sides, got $spanning")
    // exactly-once: every (window, type) group appears exactly once
    val dup = got.groupBy(col("win_start"), col("event_type"))
      .agg(count(lit(1)).as("n")).filter(col("n") > 1).count()
    assert(dup == 0, "no aggregate may be emitted twice across the restart")
    // nothing lost: all four real windows closed and surfaced
    val wins = got.select("win_start").distinct().collect()
      .map(_.getLong(0)).toSet
    val expect = Seq("12:00", "12:01", "12:02", "12:03")
      .map(m => t(s"2024-01-01 $m:00").getTime / 1000).toSet
    assert(wins == expect, s"expected exactly the four real windows, got $wins")
  }
}
