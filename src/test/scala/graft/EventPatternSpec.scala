package graft

import graft.operators.{EventPattern, PatternCompiler}
import graft.operators.PatternCompiler.{GStageRes, QOpt, QPlus, QStar}
import graft.streaming.StreamOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** MATCH_RECOGNIZE-class pattern semantics, pinned by hand-computed cases
  * (VERDICT r15 #4): the two AFTER MATCH modes, strict stage ordering, the
  * inclusive WITHIN boundary, the greedy matcher's re-anchoring (the case
  * a naive single-anchor scan gets wrong), and streaming twin ≡ batch on
  * multi-batch out-of-order arrival. evt_pattern's oracle row covers the
  * declarative form end-to-end; this spec is where the SEMANTICS are
  * chosen and frozen. Every case runs the engine's one pattern path —
  * [[PatternCompiler.compile]], [[PatternCompiler.genericMatches]] and
  * [[StreamOps.streamingPatternSpecTtl]] — read through the thin
  * per-shape projections of [[PatternKit]].
  */
class EventPatternSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = GraftSession.local("4")
  import spark.implicits._
  import PatternKit._

  private def ts(sec: Long): java.sql.Timestamp =
    new java.sql.Timestamp(sec * 1000L)
  private def us(sec: Long): Long = sec * 1000000L

  private val stages = abc(col("event_type") === "A",
    col("event_type") === "B", col("event_type") === "C")

  /** The generic greedy matcher's anchors over (ts, mask) rows. */
  private def greedyAnchors(evs: IndexedSeq[(Long, Int)],
      withinUs: Long): List[IndexedSeq[Long]] =
    PatternCompiler.genericMatches(evs.map(e => (e._1, e._2, 0.0)), stages,
      withinUs).map(_.map(_.anchor))

  /** A memory-sink table of generic TTL emissions, per user and stage. */
  private def finals(name: String): Seq[(Long, IndexedSeq[GStageRes])] =
    specFinals(spark.table(name))

  private val regStages = abc(viewP, click50P, purchaseP)

  private def ev(rows: (Long, String, Long)*): DataFrame =
    rows.map { case (u, t, sec) => (u, t, 1.0, ts(sec)) }
      .toDF("user_id", "event_type", "value", "ts")

  // ------------------------------------------ generic greedy matcher (pure)
  test("greedy: leftmost match, then skip past last row (non-overlapping)") {
    // A@0 B@10 C@20 A@5 B@25 C@30, within 30s: leftmost match (0,10,20);
    // resume AFTER row C@20 — A@5 is consumed/skipped, so no second match
    // even though (5,25,30) completes in isolation
    val evs = IndexedSeq((us(0), 1), (us(5), 1), (us(10), 2),
      (us(20), 4), (us(25), 2), (us(30), 4))
    assert(greedyAnchors(evs, us(30)) ==
      List(IndexedSeq(us(0), us(10), us(20))))
    // two disjoint full sequences -> two matches
    val evs2 = IndexedSeq((us(0), 1), (us(1), 2), (us(2), 4),
      (us(100), 1), (us(101), 2), (us(102), 4))
    assert(greedyAnchors(evs2, us(30)) ==
      List(IndexedSeq(us(0), us(1), us(2)),
        IndexedSeq(us(100), us(101), us(102))))
  }

  test("greedy: a failed anchor re-anchors at the next start (the naive-scan trap)") {
    // W=10s: A@0 cannot complete (B@12 is outside (0, 10]); A@4 can
    // ((4,12,14] all within (4, 14]) — a single-anchor scan that only
    // resets on window expiry would sit on A@0 and miss the match
    val evs = IndexedSeq((us(0), 1), (us(4), 1), (us(12), 2), (us(14), 4))
    assert(greedyAnchors(evs, us(10)) ==
      List(IndexedSeq(us(4), us(12), us(14))))
  }

  test("greedy: strict stage ordering — one row can never fill two stages") {
    // row at t=5 qualifies for BOTH b and c (mask 6): after anchoring b
    // there, c requires ts STRICTLY greater, so a same-instant c is inert
    val noC = IndexedSeq((us(0), 1), (us(5), 6))
    assert(greedyAnchors(noC, us(30)).isEmpty)
    val laterC = IndexedSeq((us(0), 1), (us(5), 6), (us(6), 4))
    assert(greedyAnchors(laterC, us(30)) ==
      List(IndexedSeq(us(0), us(5), us(6))))
  }

  test("greedy: WITHIN is inclusive of t1 + within, exclusive past it") {
    val atBound = IndexedSeq((us(0), 1), (us(10), 2), (us(30), 4))
    assert(greedyAnchors(atBound, us(30)).nonEmpty)
    val pastBound = IndexedSeq((us(0), 1), (us(10), 2), (us(30) + 1, 4))
    assert(greedyAnchors(pastBound, us(30)).isEmpty)
  }

  // ----------------------------------- compiled form (skip to next row)
  test("skip-to-next-row: one match per qualifying start, overlaps allowed") {
    val df = ev((1L, "A", 0), (1L, "A", 5), (1L, "B", 10), (1L, "C", 20),
      (2L, "A", 0), (2L, "C", 5)) // user 2: no B -> no match
    val got = PatternCompiler.compile(df, stages, us(30)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1L, us(0), us(10), us(20)),
      (1L, us(5), us(10), us(20))))
  }

  test("skip-to-next-row: greedy-earliest inner anchors are exact, not heuristic") {
    // for start A@0 (W=25s): earliest B is @10; C must be > 10 and <= 25 —
    // C@20 qualifies. A LATER B (@22) would leave no room for any C, so
    // min-agg anchoring is what makes the match exist.
    val df = ev((1L, "A", 0), (1L, "B", 10), (1L, "B", 22), (1L, "C", 20))
    val got = PatternCompiler.compile(df, stages, us(25)).collect()
    assert(got.map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq ==
      Seq((us(0), us(10), us(20))))
  }

  test("skip-to-next-row: band boundary — candidates in the next time band are found") {
    // within = 30s bands the time axis at 30s; anchor at 29s has its whole
    // window inside band 1 (its own band 0's successor) — the two-band
    // probe must find B@31 and C@58
    val df = ev((1L, "A", 29), (1L, "B", 31), (1L, "C", 58))
    val got = PatternCompiler.compile(df, stages, us(30)).collect()
    assert(got.map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq ==
      Seq((us(29), us(31), us(58))))
  }

  // --------------------------------------------- relationship of modes
  test("first greedy match per user == earliest skip-to-next-row match") {
    val dir = "/root/testdata/sf0.01"
    val events = Tables.load(spark, dir, "events")
    val w = 24L * 3600 * 1000000L
    val nextRow = PatternCompiler.compile(events, regStages, w).collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.map(r => Seq(r.getLong(1), r.getLong(2), r.getLong(3)))
        .minBy(_.head)).toMap
    val greedy = greedyBatch(events, regStages, w)
      .map { case (u, m) => (u, anchors(m)) }
      .groupBy(_._1).view.mapValues(_.map(_._2).minBy(_.head)).toMap
    assert(greedy.keySet == nextRow.keySet,
      "the two modes must agree on WHICH users match")
    greedy.foreach { case (u, m) =>
      assert(m == nextRow(u), s"user $u: greedy first match $m != " +
        s"earliest next-row match ${nextRow(u)}")
    }
    assert(greedy.nonEmpty, "gate corpus should produce matches")
  }

  // ------------------------------------- horizon-bounded streaming twin
  test("TTL pattern: fence-closed finals == batch greedy matches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val w = 48L * 3600 * 1000000L
    val horizon = 2L * 3600 * 1000000L
    val rows = Tables.load(spark, dir, "events").filter(col("ts").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        col("value"))
      .as[(Long, java.sql.Timestamp, Long, String, Double)].collect()
      .sortBy(_._2.getTime)
    // the fence must itself QUALIFY for a stage (mask-0 rows never reach
    // state, so they cannot advance the key's event-time floor): one
    // far-future 'view' per user opens an unresolvable start and
    // finalizes everything real below it
    val maxMs = rows.last._2.getTime
    val fences = rows.map(_._1).distinct.zipWithIndex.map { case (u, i) =>
      (u, new java.sql.Timestamp(maxMs + (horizon + w) / 1000L + 3600000L),
        -2000L - i, "view", 0.0)
    }
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val df = mem.toDF().toDF("user_id", "ts", "event_id", "event_type", "value")
    val q = StreamOps.streamingPatternSpecTtl(df, regStages, w, horizon).toDF()
      .writeStream.outputMode("update").format("memory")
      .queryName("pat_ttl_out").start()
    try {
      rows.grouped((rows.length + 9) / 10).foreach { b =>
        mem.addData(b.toIndexedSeq: _*); q.processAllAvailable()
      }
      mem.addData(fences.toIndexedSeq: _*); q.processAllAvailable()
    } finally q.stop()
    def canonAll(xs: Seq[(Long, Seq[Long])]): Seq[String] =
      xs.map { case (u, m) => u + ":" + m.mkString(",") }.sorted
    val streamed = finals("pat_ttl_out").map { case (u, m) => (u, anchors(m)) }
    val batch = greedyBatch(Tables.load(spark, dir, "events"), regStages, w)
      .map { case (u, m) => (u, anchors(m)) }
    assert(canonAll(streamed) == canonAll(batch),
      "fence-closed TTL finals must equal the batch greedy match list")
    assert(streamed.nonEmpty)
    // emit-once: no duplicate finals
    assert(canonAll(streamed).distinct.size == streamed.size)
  }

  test("TTL pattern: late rows drop, finals emit exactly once, failed starts resolve") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val w = 3600L * 1000000L      // 1h window
    val horizon = 2L * 3600 * 1000000L
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val df = mem.toDF().toDF("user_id", "ts", "event_id", "event_type", "value")
    val q = StreamOps.streamingPatternSpecTtl(df, stages, w, horizon)
      .toDF().writeStream.outputMode("update").format("memory")
      .queryName("pat_ttl_hand").start()
    try {
      mem.addData((1L, t("2024-01-01 12:00:00"), 1L, "A", 0.0),
        (1L, t("2024-01-01 12:30:00"), 2L, "B", 0.0))
      q.processAllAvailable()
      mem.addData((1L, t("2024-01-01 12:45:00"), 3L, "C", 0.0))
      q.processAllAvailable()
      assert(spark.table("pat_ttl_hand").count() == 0,
        "match must stay in flight until the floor passes its window")
      // floor = 17:00 - 2h - 1h = 14:00 > 12:00 -> the match finalizes;
      // the A@17:00 start stays open
      mem.addData((1L, t("2024-01-01 17:00:00"), 4L, "A", 0.0))
      q.processAllAvailable()
      assert(spark.table("pat_ttl_hand").count() == 1, "exactly one final")
      // late B (ts < 17:00 - 2h) and a re-delivered event 1: both dropped
      mem.addData((1L, t("2024-01-01 12:50:00"), 9L, "B", 0.0),
        (1L, t("2024-01-01 12:00:00"), 1L, "A", 0.0))
      q.processAllAvailable()
      // fence resolves the 17:00 start as FAILED (no B/C in its window)
      mem.addData((1L, t("2024-01-02 12:00:00"), 5L, "A", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("pat_ttl_hand").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toSeq))
    assert(out.length == 1, s"exactly one final, ever; got ${out.mkString("; ")}")
    val m = out.head._2
    assert(m == Seq(t("2024-01-01 12:00:00"), t("2024-01-01 12:30:00"),
      t("2024-01-01 12:45:00")).map(_.getTime * 1000L),
      s"final anchors wrong: $m")
  }

  // ------------------------------------------- quantified pattern (B+)
  private def evv(rows: (Long, String, Long, Double)*): DataFrame =
    rows.map { case (u, t, sec, v) => (u, t, v, ts(sec)) }
      .toDF("user_id", "event_type", "value", "ts")

  private val aP = col("event_type") === "A"
  private val bP = col("event_type") === "B"
  private val cP = col("event_type") === "C"

  private val plusStages = abc(aP, bP, cP, QPlus)

  private def plusRows(df: DataFrame, w: Long) =
    PatternCompiler.compile(df, plusStages, w).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getLong(5), r.getLong(6))).toSeq

  test("plus: the run collects every B between the anchor and the completing C") {
    val df = evv((1L, "A", 0, 0.0), (1L, "B", 10, 5.0), (1L, "B", 20, 7.0),
      (1L, "B", 25, 9.0), (1L, "C", 30, 0.0), (1L, "B", 40, 1.0),
      (1L, "C", 50, 0.0))
    assert(plusRows(df, us(60)) ==
      Seq((1L, us(0), us(10), 3L, 21.0, us(25), us(30))))
    // the pure greedy matcher agrees, and resumes past t3 (no 2nd match)
    val evs = IndexedSeq((us(0), 1, 0.0), (us(10), 2, 5.0), (us(20), 2, 7.0),
      (us(25), 2, 9.0), (us(30), 4, 0.0), (us(40), 2, 1.0), (us(50), 4, 0.0))
    assert(PatternCompiler.genericMatches(evs, plusStages, us(60)).map(plusOf) ==
      List((us(0), us(10), 3L, 21.0, us(25), us(30))))
  }

  test("plus: a B at exactly t3's instant belongs to C's frame, not the run") {
    val df = evv((1L, "A", 0, 0.0), (1L, "B", 10, 2.0), (1L, "B", 20, 3.0),
      (1L, "C", 20, 0.0))
    assert(plusRows(df, us(60)) ==
      Seq((1L, us(0), us(10), 1L, 2.0, us(10), us(20))))
  }

  test("plus: a C before any B is inert; no completing C means no match") {
    val withEarlyC = evv((1L, "A", 0, 0.0), (1L, "C", 5, 0.0),
      (1L, "B", 10, 4.0), (1L, "C", 15, 0.0))
    assert(plusRows(withEarlyC, us(60)) ==
      Seq((1L, us(0), us(10), 1L, 4.0, us(10), us(15))))
    val noC = evv((1L, "A", 0, 0.0), (1L, "B", 10, 4.0), (1L, "C", 5, 0.0))
    assert(plusRows(noC, us(60)).isEmpty)
  }

  test("plus: WITHIN is inclusive at t1 + within for the completing row") {
    val atBound = evv((1L, "A", 0, 0.0), (1L, "B", 30, 1.0), (1L, "C", 60, 0.0))
    assert(plusRows(atBound, us(60)).nonEmpty)
    val pastBound = evv((1L, "A", 0, 0.0), (1L, "B", 30, 1.0), (1L, "C", 61, 0.0))
    assert(plusRows(pastBound, us(60)).isEmpty)
  }

  test("plus: first greedy match per user == earliest declarative match (gate corpus)") {
    val dir = "/root/testdata/sf0.01"
    val events = Tables.load(spark, dir, "events")
    val w = 24L * 3600 * 1000000L
    val decl = EventPattern.evtPatternPlus(spark, dir).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getLong(5), r.getLong(6))))
      .groupBy(_._1).view.mapValues(_.map(_._2).minBy(_._1)).toMap
    val greedy = greedyBatch(events, abc(viewP, click50P, purchaseP, QPlus), w)
      .groupBy(_._1).map { case (u, ms) => u -> plusOf(ms.head._2) }
    assert(greedy.keySet == decl.keySet,
      "the two modes must agree on WHICH users match")
    greedy.foreach { case (u, m) =>
      assert(m == decl(u), s"user $u: greedy first $m != declarative ${decl(u)}")
    }
    assert(greedy.nonEmpty, "gate corpus should produce matches")
  }

  test("TTL pattern: exact boundary tie — a start AT floor stays unresolved (strict <)") {
    // r16 verdict #2: admission (ts ≥ maxTs − horizon) and the match
    // window (c_ts ≤ t1 + W) are both inclusive, so a start at exactly
    // t1 == floor == maxTs − horizon − W has window end t1 + W ==
    // maxTs − horizon — an instant a still-admissible event can hit with
    // equality. At-or-below-floor resolution would evict the anchor and
    // lose a match batch greedy finds; the strict-< law keeps it.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val w = 3600L * 1000000L      // 1h window
    val horizon = 2L * 3600 * 1000000L
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val df = mem.toDF().toDF("user_id", "ts", "event_id", "event_type", "value")
    val q = StreamOps.streamingPatternSpecTtl(df, stages, w, horizon)
      .toDF().writeStream.outputMode("update").format("memory")
      .queryName("pat_ttl_tie").start()
    val allRows = Seq(
      (1L, t("2024-01-01 12:00:00"), 1L, "A", 0.0),
      (1L, t("2024-01-01 12:30:00"), 2L, "B", 0.0),
      (1L, t("2024-01-01 15:00:00"), 3L, "A", 0.0),
      (1L, t("2024-01-01 13:00:00"), 4L, "C", 0.0))
    try {
      mem.addData(allRows(0), allRows(1))
      q.processAllAvailable()
      // A@15:00 sets floor = 15:00 − 2h − 1h = 12:00 == the A@12:00 start
      mem.addData(allRows(2))
      q.processAllAvailable()
      assert(spark.table("pat_ttl_tie").count() == 0,
        "a start at exactly floor is unresolved — nothing may finalize")
      // C at exactly maxTs − horizon == t1 + W: admissible with equality,
      // inside the tied start's inclusive window — must complete the match
      mem.addData(allRows(3))
      q.processAllAvailable()
      // fence pushes floor past everything real
      mem.addData((1L, t("2024-01-02 12:00:00"), 5L, "A", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("pat_ttl_tie").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toSeq))
    assert(out.toSeq == Seq((1L, Seq(t("2024-01-01 12:00:00"),
      t("2024-01-01 12:30:00"), t("2024-01-01 13:00:00"))
      .map(_.getTime * 1000L))),
      s"tied-boundary match lost or wrong: ${out.mkString("; ")}")
    // and the batch greedy form agrees on the same event multiset
    val batchDf = allRows.map { case (u, tt, id, ty, v) => (u, ty, v, tt) }
      .toDF("user_id", "event_type", "value", "ts")
    val batch = greedyBatch(batchDf, stages, w)
      .map { case (u, m) => (u, anchors(m)) }
    assert(batch.toSeq == out.toSeq,
      "streaming tie semantics must equal batch greedy")
  }

  // ------------------- alternation / optional / star (r17 verdict #3)
  private val altBranches = Seq(
    "b" -> (col("event_type") === "B"),
    "c" -> (col("event_type") === "C"))
  private val dP = col("event_type") === "D"

  private def altRows(df: DataFrame, w: Long) =
    PatternCompiler.compile(df, altStages(aP, altBranches, dP), w).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getLong(4))).toSeq

  test("alt: earliest branch row wins; provenance names the branch") {
    // B@10 beats C@15; D@20 completes
    val viaB = evv((1L, "A", 0, 0.0), (1L, "B", 10, 0.0), (1L, "C", 15, 0.0),
      (1L, "D", 20, 0.0))
    assert(altRows(viaB, us(60)) == Seq((1L, us(0), us(10), "b", us(20))))
    // C@5 beats B@10 — the SECOND-listed branch wins on time
    val viaC = evv((1L, "A", 0, 0.0), (1L, "C", 5, 0.0), (1L, "B", 10, 0.0),
      (1L, "D", 20, 0.0))
    assert(altRows(viaC, us(60)) == Seq((1L, us(0), us(5), "c", us(20))))
  }

  test("alt: same-instant branch tie resolves to the FIRST-LISTED branch") {
    val tied = evv((1L, "A", 0, 0.0), (1L, "C", 10, 0.0), (1L, "B", 10, 0.0),
      (1L, "D", 20, 0.0))
    assert(altRows(tied, us(60)) == Seq((1L, us(0), us(10), "b", us(20))))
    // and the pure greedy twin agrees on the tie (mask: A=1, b=2, c=4, D=8)
    val evs = IndexedSeq((us(0), 1), (us(10), 2), (us(10), 4), (us(20), 8))
    assert(PatternCompiler.genericMatches(evs.map(e => (e._1, e._2, 0.0)),
        altStages(aP, altBranches, dP), us(60))
      .map(m => (m(0).anchor, m(1).anchor, m(1).bi, m(2).anchor)) ==
      List((us(0), us(10), 0, us(20))))
  }

  test("alt: D before the branch row is inert; D at the branch instant is inert") {
    val early = evv((1L, "A", 0, 0.0), (1L, "D", 5, 0.0), (1L, "B", 10, 0.0),
      (1L, "D", 10, 0.0))
    assert(altRows(early, us(60)).isEmpty)
    val later = evv((1L, "A", 0, 0.0), (1L, "D", 5, 0.0), (1L, "B", 10, 0.0),
      (1L, "D", 11, 0.0))
    assert(altRows(later, us(60)) == Seq((1L, us(0), us(10), "b", us(11))))
  }

  test("alt: first greedy match per user == earliest declarative match (gate corpus)") {
    val dir = "/root/testdata/sf0.01"
    val w = 24L * 3600 * 1000000L
    val decl = EventPattern.evtPatternAlt(spark, dir).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3),
        r.getLong(4))))
      .groupBy(_._1).view.mapValues(_.map(_._2).minBy(_._1)).toMap
    val alts = Seq("click50" -> click50P, "error" -> errorP)
    val altS = altStages(viewP, alts, purchaseP)
    val greedy = greedyBatch(Tables.load(spark, dir, "events"), altS, w)
      .groupBy(_._1)
      .map { case (u, ms) => u -> altOf(ms.head._2, alts.map(_._1)) }
    assert(greedy.keySet == decl.keySet,
      "the two modes must agree on WHICH users match")
    greedy.foreach { case (u, m) =>
      assert(m == decl(u), s"user $u: greedy first $m != declarative ${decl(u)}")
    }
    assert(greedy.nonEmpty, "gate corpus should produce matches")
  }

  private def optRows(df: DataFrame, w: Long) =
    PatternCompiler.compile(df, abc(aP, bP, cP, QOpt), w)
      .select("user_id", "s1_ts", "s2_taken", "s2_ts", "s3_ts").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getLong(4))).toSeq

  test("opt: greedy B? prefers the with-B completion when it exists") {
    // C@5 would complete zero-B EARLIER, but B@10 + C@15 completes the
    // with-B form — greedy takes it (took_b=1, t3 = the later C)
    val both = evv((1L, "A", 0, 0.0), (1L, "C", 5, 0.0), (1L, "B", 10, 0.0),
      (1L, "C", 15, 0.0))
    assert(optRows(both, us(60)) == Seq((1L, us(0), 1, us(10), us(15))))
  }

  test("opt: backtracks to zero-B when the with-B form cannot complete") {
    // B@10 exists but no C after it — the zero-B completion (C@5) matches
    val backtrack = evv((1L, "A", 0, 0.0), (1L, "C", 5, 0.0), (1L, "B", 10, 0.0))
    assert(optRows(backtrack, us(60)) == Seq((1L, us(0), 0, -1L, us(5))))
    // no B at all: plain A→C
    val noB = evv((1L, "A", 0, 0.0), (1L, "C", 5, 0.0))
    assert(optRows(noB, us(60)) == Seq((1L, us(0), 0, -1L, us(5))))
    // no C at all: no match, B or not
    val noC = evv((1L, "A", 0, 0.0), (1L, "B", 10, 0.0))
    assert(optRows(noC, us(60)).isEmpty)
  }

  private def starRows(df: DataFrame, w: Long) =
    PatternCompiler.compile(df, abc(aP, bP, cP, QStar), w)
      .select("user_id", "s1_ts", "s2_count", "s2_sum", "s2_last", "s3_ts")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        if (r.isNullAt(4)) -1L else r.getLong(4), r.getLong(5))).toSeq

  test("star: zero-B completion matches with an EMPTY run (count 0, sum 0.0, null last)") {
    val empty = evv((1L, "A", 0, 0.0), (1L, "C", 5, 0.0))
    assert(starRows(empty, us(60)) == Seq((1L, us(0), 0L, 0.0, -1L, us(5))))
  }

  test("star: a non-empty run is preferred and carries the plus MEASURES") {
    // same greedy-emptiness law as opt: C@5 completes zero-B earlier, but
    // the B+ rounds complete too — the non-empty run wins
    val runPref = evv((1L, "A", 0, 0.0), (1L, "C", 5, 0.0), (1L, "B", 10, 2.5),
      (1L, "B", 20, 1.5), (1L, "C", 30, 0.0))
    assert(starRows(runPref, us(60)) ==
      Seq((1L, us(0), 2L, 4.0, us(20), us(30))))
  }

  test("opt/star agree with plus where the run is non-empty (gate corpus)") {
    val dir = "/root/testdata/sf0.01"
    val plus = EventPattern.evtPatternPlus(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getLong(5), r.getLong(6)))
      .toMap
    // opt took_b=1 rows ARE the plus anchors' (b1, t3) projection
    val optB = EventPattern.evtPatternOpt(spark, dir)
      .filter(col("took_b") === 1).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(3), r.getLong(4)))
      .toMap
    assert(optB.keySet == plus.keySet,
      "opt's with-B anchors must equal plus's anchor set")
    optB.foreach { case (k, (b, t3)) =>
      assert((b, t3) == (plus(k)._1, plus(k)._5), s"opt/plus disagree at $k")
    }
    // star b_count>=1 rows carry plus's MEASURES verbatim
    val starB = EventPattern.evtPatternStar(spark, dir)
      .filter(col("b_count") >= 1).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(starB.keySet == plus.keySet,
      "star's non-empty-run anchors must equal plus's anchor set")
    starB.foreach { case (k, (n, s2, last, t3)) =>
      assert((n, s2, last, t3) ==
        (plus(k)._2, plus(k)._3, plus(k)._4, plus(k)._5),
        s"star/plus MEASURES disagree at $k")
    }
    assert(plus.nonEmpty, "gate corpus should produce matches")
  }

  // ----------------------------------------- alternation TTL twin (r18)
  test("alt TTL: fence-closed finals == batch greedyMatchesAlt (gate corpus)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val aPg = col("event_type") === "view"
    val branches = Seq(
      "click50" -> (col("event_type") === "click" && col("value") >= 50),
      "error" -> (col("event_type") === "error"))
    val dPg = col("event_type") === "purchase"
    val w = 48L * 3600 * 1000000L
    val horizon = 2L * 3600 * 1000000L
    val rows = Tables.load(spark, dir, "events").filter(col("ts").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        col("value"))
      .as[(Long, java.sql.Timestamp, Long, String, Double)].collect()
      .sortBy(_._2.getTime)
    val maxMs = rows.last._2.getTime
    val fences = rows.map(_._1).distinct.zipWithIndex.map { case (u, i) =>
      (u, new java.sql.Timestamp(maxMs + (horizon + w) / 1000L + 3600000L),
        -2000L - i, "view", 0.0)
    }
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val df = mem.toDF().toDF("user_id", "ts", "event_id", "event_type", "value")
    val altS = altStages(aPg, branches, dPg)
    val q = StreamOps.streamingPatternSpecTtl(df, altS, w, horizon)
      .toDF().writeStream.outputMode("update").format("memory")
      .queryName("pat_alt_ttl_out").start()
    try {
      rows.grouped((rows.length + 9) / 10).foreach { b =>
        mem.addData(b.toIndexedSeq: _*); q.processAllAvailable()
      }
      mem.addData(fences.toIndexedSeq: _*); q.processAllAvailable()
    } finally q.stop()
    val names = branches.map(_._1)
    val streamed = finals("pat_alt_ttl_out")
      .map { case (u, m) => (u, altOf(m, names)) }
    // batch reference: the hand-written alternation matcher over per-user
    // collected rows
    val batch = maskedRows(Tables.load(spark, dir, "events"), altS)
      .toSeq.flatMap { case (u, rs) =>
        GreedyReference.greedyMatchesAlt(
          rs.map(r => (r._1, r._2)).distinct, 2, w)
          .map { case (t1, t2, bi, t3) => (u, (t1, t2, names(bi), t3)) }
      }
    def canonA(xs: Seq[(Long, (Long, Long, String, Long))]) =
      xs.map { case (u, m) => s"$u:$m" }.sorted
    assert(canonA(streamed) == canonA(batch),
      "fence-closed alt-TTL finals must equal batch greedyMatchesAlt")
    assert(streamed.nonEmpty, "gate corpus should produce matches")
    assert(canonA(streamed).distinct.size == streamed.size, "emit-once")
  }

  test("alt TTL: provenance survives finalization; late rows drop; emit once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val w = 3600L * 1000000L      // 1h window
    val horizon = 2L * 3600 * 1000000L
    val branches = Seq("b" -> (col("event_type") === "B"),
      "c" -> (col("event_type") === "C"))
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val df = mem.toDF().toDF("user_id", "ts", "event_id", "event_type", "value")
    val q = StreamOps.streamingPatternSpecTtl(df,
        altStages(aP, branches, dP), w, horizon)
      .toDF().writeStream.outputMode("update").format("memory")
      .queryName("pat_alt_ttl_hand").start()
    try {
      // A@12:00; the SECOND-listed branch (C@12:20) beats the first-listed
      // B@12:30 on time; D@12:45 completes — via must read "c"
      mem.addData((1L, t("2024-01-01 12:00:00"), 1L, "A", 0.0),
        (1L, t("2024-01-01 12:20:00"), 2L, "C", 0.0),
        (1L, t("2024-01-01 12:30:00"), 3L, "B", 0.0))
      q.processAllAvailable()
      mem.addData((1L, t("2024-01-01 12:45:00"), 4L, "D", 0.0))
      q.processAllAvailable()
      assert(spark.table("pat_alt_ttl_hand").count() == 0,
        "match must stay in flight until the floor passes its window")
      mem.addData((1L, t("2024-01-01 17:00:00"), 5L, "A", 0.0))
      q.processAllAvailable()
      assert(spark.table("pat_alt_ttl_hand").count() == 1, "exactly one final")
      // late branch row and a re-delivered event 2: both dropped
      mem.addData((1L, t("2024-01-01 12:50:00"), 9L, "B", 0.0),
        (1L, t("2024-01-01 12:20:00"), 2L, "C", 0.0))
      q.processAllAvailable()
      mem.addData((1L, t("2024-01-02 12:00:00"), 6L, "A", 0.0)) // fence
      q.processAllAvailable()
    } finally q.stop()
    val out = finals("pat_alt_ttl_hand").map { case (u, m) =>
      val (t1, t2, via, t3) = altOf(m, branches.map(_._1))
      (u, t1, t2, via, t3)
    }
    def us2(s: String) = t(s).getTime * 1000L
    assert(out.toSeq == Seq((1L, us2("2024-01-01 12:00:00"),
      us2("2024-01-01 12:20:00"), "c", us2("2024-01-01 12:45:00"))),
      s"final alt row wrong: ${out.mkString("; ")}")
  }

  // ---------------------------- quantified-pattern TTL twin (r17 item #2)
  test("plus TTL: fence-closed finals == batch greedyMatchesPlus (gate corpus)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val aPg = col("event_type") === "view"
    val bPg = col("event_type") === "click" && col("value") >= 50
    val cPg = col("event_type") === "purchase"
    val w = 48L * 3600 * 1000000L
    val horizon = 2L * 3600 * 1000000L
    val rows = Tables.load(spark, dir, "events").filter(col("ts").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        col("value"))
      .as[(Long, java.sql.Timestamp, Long, String, Double)].collect()
      .sortBy(_._2.getTime)
    // fence: a far-future stage-qualifying 'view' per user (the fixed-stage
    // fence rule) finalizes every real start below it
    val maxMs = rows.last._2.getTime
    val fences = rows.map(_._1).distinct.zipWithIndex.map { case (u, i) =>
      (u, new java.sql.Timestamp(maxMs + (horizon + w) / 1000L + 3600000L),
        -2000L - i, "view", 0.0)
    }
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val df = mem.toDF().toDF("user_id", "ts", "event_id", "event_type", "value")
    val plusS = abc(aPg, bPg, cPg, QPlus)
    val q = StreamOps.streamingPatternSpecTtl(df, plusS, w, horizon)
      .toDF().writeStream.outputMode("update").format("memory")
      .queryName("pat_plus_ttl_out").start()
    try {
      rows.grouped((rows.length + 9) / 10).foreach { b =>
        mem.addData(b.toIndexedSeq: _*); q.processAllAvailable()
      }
      mem.addData(fences.toIndexedSeq: _*); q.processAllAvailable()
    } finally q.stop()
    def canonAll(xs: Seq[(Long, (Long, Long, Long, Double, Long, Long))]) =
      xs.map { case (u, m) => s"$u:$m" }.sorted
    val streamed = finals("pat_plus_ttl_out")
      .map { case (u, m) => (u, plusOf(m)) }
    // batch reference: the hand-written quantified matcher over per-user
    // collected rows
    val batch = maskedRows(Tables.load(spark, dir, "events"), plusS)
      .toSeq.flatMap { case (u, rs) =>
        GreedyReference.greedyMatchesPlus(rs, w).map(u -> _)
      }
    assert(canonAll(streamed) == canonAll(batch),
      "fence-closed plus-TTL finals must equal batch greedyMatchesPlus")
    assert(streamed.nonEmpty, "gate corpus should produce matches")
    assert(canonAll(streamed).distinct.size == streamed.size, "emit-once")
  }

  test("plus TTL: late rows drop, run MEASURES final exactly once, failed starts resolve") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val w = 3600L * 1000000L      // 1h window
    val horizon = 2L * 3600 * 1000000L
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val df = mem.toDF().toDF("user_id", "ts", "event_id", "event_type", "value")
    val q = StreamOps.streamingPatternSpecTtl(df, plusStages, w, horizon)
      .toDF().writeStream.outputMode("update").format("memory")
      .queryName("pat_plus_ttl_hand").start()
    try {
      // A@12:00, B@12:10 (3.5), B@12:30 (2.5), C@12:45 — run = both B's
      mem.addData((1L, t("2024-01-01 12:00:00"), 1L, "A", 0.0),
        (1L, t("2024-01-01 12:10:00"), 2L, "B", 3.5),
        (1L, t("2024-01-01 12:30:00"), 3L, "B", 2.5))
      q.processAllAvailable()
      mem.addData((1L, t("2024-01-01 12:45:00"), 4L, "C", 0.0))
      q.processAllAvailable()
      assert(spark.table("pat_plus_ttl_hand").count() == 0,
        "match must stay in flight until the floor passes its window")
      // A@17:00 -> floor = 14:00 > 12:00: the match finalizes
      mem.addData((1L, t("2024-01-01 17:00:00"), 5L, "A", 0.0))
      q.processAllAvailable()
      assert(spark.table("pat_plus_ttl_hand").count() == 1, "exactly one final")
      // late B (behind the horizon) and a re-delivered event 2: both dropped
      // — neither may spawn a new match or change the emitted MEASURES
      mem.addData((1L, t("2024-01-01 12:50:00"), 9L, "B", 100.0),
        (1L, t("2024-01-01 12:10:00"), 2L, "B", 3.5))
      q.processAllAvailable()
      // fence resolves the 17:00 start as FAILED (no B/C in its window)
      mem.addData((1L, t("2024-01-02 12:00:00"), 6L, "A", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val out = finals("pat_plus_ttl_hand").map { case (u, m) =>
      val (t1, b1, n, sum, last, t3) = plusOf(m)
      (u, t1, b1, n, sum, last, t3)
    }
    def us2(s: String) = t(s).getTime * 1000L
    assert(out.toSeq == Seq((1L, us2("2024-01-01 12:00:00"),
      us2("2024-01-01 12:10:00"), 2L, 6.0, us2("2024-01-01 12:30:00"),
      us2("2024-01-01 12:45:00"))),
      s"final row wrong: ${out.mkString("; ")}")
  }

  test("plus TTL: exact boundary tie — a start AT floor stays unresolved (strict <)") {
    // the r16 strict-< law must hold for the quantified twin too: a start
    // at exactly floor == maxTs − horizon − W can still gain run members
    // and a completing C at maxTs − horizon (admissible with equality)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val w = 3600L * 1000000L      // 1h window
    val horizon = 2L * 3600 * 1000000L
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val df = mem.toDF().toDF("user_id", "ts", "event_id", "event_type", "value")
    val q = StreamOps.streamingPatternSpecTtl(df, plusStages, w, horizon)
      .toDF().writeStream.outputMode("update").format("memory")
      .queryName("pat_plus_ttl_tie").start()
    try {
      mem.addData((1L, t("2024-01-01 12:00:00"), 1L, "A", 0.0),
        (1L, t("2024-01-01 12:30:00"), 2L, "B", 4.0))
      q.processAllAvailable()
      // A@15:00 sets floor = 12:00 == the A@12:00 start: unresolved
      mem.addData((1L, t("2024-01-01 15:00:00"), 3L, "A", 0.0))
      q.processAllAvailable()
      assert(spark.table("pat_plus_ttl_tie").count() == 0,
        "a start at exactly floor is unresolved — nothing may finalize")
      // a B behind the admission horizon (12:59 < maxTs − horizon = 13:00)
      // is LATE — it must neither join the run nor change the MEASURES
      // (note the geometry: an ADMISSIBLE event has ts ≥ 13:00 = t1 + W,
      // and run members need ts < t3 ≤ t1 + W, so a tied start's RUN is
      // already final — only its completing C can still arrive)
      mem.addData((1L, t("2024-01-01 12:59:00"), 4L, "B", 1.5))
      q.processAllAvailable()
      // C at exactly maxTs − horizon == t1 + W: admissible with equality,
      // inside the tied start's inclusive window — completes the match
      mem.addData((1L, t("2024-01-01 13:00:00"), 5L, "C", 0.0))
      q.processAllAvailable()
      mem.addData((1L, t("2024-01-02 12:00:00"), 6L, "A", 0.0)) // fence
      q.processAllAvailable()
    } finally q.stop()
    val out = finals("pat_plus_ttl_tie").map { case (u, m) =>
      val (t1, b1, n, sum, last, t3) = plusOf(m)
      (u, t1, b1, n, sum, last, t3)
    }
    def us2(s: String) = t(s).getTime * 1000L
    assert(out.toSeq == Seq((1L, us2("2024-01-01 12:00:00"),
      us2("2024-01-01 12:30:00"), 1L, 4.0, us2("2024-01-01 12:30:00"),
      us2("2024-01-01 13:00:00"))),
      s"tied-boundary quantified match lost or wrong: ${out.mkString("; ")}")
  }

  // -------------------------------------- opt / star TTL twins (r18)
  test("opt+star TTL: fence-closed finals == batch pure matchers (gate corpus)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val aPg = col("event_type") === "view"
    val bPg = col("event_type") === "click" && col("value") >= 50
    val cPg = col("event_type") === "purchase"
    val w = 48L * 3600 * 1000000L
    val horizon = 2L * 3600 * 1000000L
    val rows = Tables.load(spark, dir, "events").filter(col("ts").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        col("value"))
      .as[(Long, java.sql.Timestamp, Long, String, Double)].collect()
      .sortBy(_._2.getTime)
    val maxMs = rows.last._2.getTime
    val fences = rows.map(_._1).distinct.zipWithIndex.map { case (u, i) =>
      (u, new java.sql.Timestamp(maxMs + (horizon + w) / 1000L + 3600000L),
        -2000L - i, "view", 0.0)
    }
    def drive[T](name: String,
        mk: org.apache.spark.sql.DataFrame => org.apache.spark.sql.Dataset[T]): Unit = {
      val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
      val df = mem.toDF().toDF("user_id", "ts", "event_id", "event_type", "value")
      val q = mk(df).toDF().writeStream.outputMode("update").format("memory")
        .queryName(name).start()
      try {
        rows.grouped((rows.length + 9) / 10).foreach { b =>
          mem.addData(b.toIndexedSeq: _*); q.processAllAvailable()
        }
        mem.addData(fences.toIndexedSeq: _*); q.processAllAvailable()
      } finally q.stop()
    }
    val optS = abc(aPg, bPg, cPg, QOpt)
    val starS = abc(aPg, bPg, cPg, QStar)
    drive("pat_opt_ttl_out",
      d => StreamOps.streamingPatternSpecTtl(d, optS, w, horizon))
    drive("pat_star_ttl_out",
      d => StreamOps.streamingPatternSpecTtl(d, starS, w, horizon))
    // opt and star share the mask layout (A=1, B=2, C=4)
    val byUser = maskedRows(Tables.load(spark, dir, "events"), optS)
    def canonS(xs: Seq[String]): Seq[String] = xs.sorted
    // opt
    val streamedOpt = finals("pat_opt_ttl_out").map { case (u, m) =>
      val (t1, b1, t3) = optOf(m)
      s"$u:$t1,${if (b1.isDefined) 1 else 0},${b1.getOrElse(-1L)},$t3"
    }
    val batchOpt = byUser.toSeq.flatMap { case (u, rs) =>
      GreedyReference.greedyMatchesOpt(rs.map(r => (r._1, r._2)).distinct, w)
        .map { case (t1, b1, t3) =>
          s"$u:$t1,${if (b1.isDefined) 1 else 0},${b1.getOrElse(-1L)},$t3" }
    }
    assert(canonS(streamedOpt) == canonS(batchOpt),
      "fence-closed opt-TTL finals must equal batch greedyMatchesOpt")
    assert(streamedOpt.nonEmpty)
    // star
    val streamedStar = finals("pat_star_ttl_out").map { case (u, m) =>
      val (t1, n, s2, last, t3) = starOf(m)
      s"$u:$t1,$n,$s2,${last.getOrElse(-1L)},$t3"
    }
    val batchStar = byUser.toSeq.flatMap { case (u, rs) =>
      GreedyReference.greedyMatchesStar(rs, w)
        .map { case (t1, n, s2, last, t3) =>
          s"$u:$t1,$n,$s2,${last.getOrElse(-1L)},$t3" }
    }
    assert(canonS(streamedStar) == canonS(batchStar),
      "fence-closed star-TTL finals must equal batch greedyMatchesStar")
    assert(streamedStar.nonEmpty)
    // the greedy-emptiness law on real data: every zero-B opt final has a
    // star final with an empty run at the same (user, t1), and vice versa
    val optZero = streamedOpt.filter(_.split(",")(1) == "0").map(s =>
      s.split(",")(0)).toSet
    val starZero = streamedStar.filter(_.split(",")(1) == "0").map(s =>
      s.split(",")(0)).toSet
    assert(optZero == starZero,
      "opt's zero-B finals and star's empty-run finals must coincide")
  }

  test("opt TTL: a resolved backtracking decision is final — a late B cannot flip it") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val w = 3600L * 1000000L      // 1h window
    val horizon = 2L * 3600 * 1000000L
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val df = mem.toDF().toDF("user_id", "ts", "event_id", "event_type", "value")
    val q = StreamOps.streamingPatternSpecTtl(df, abc(aP, bP, cP, QOpt), w,
        horizon)
      .toDF().writeStream.outputMode("update").format("memory")
      .queryName("pat_opt_ttl_hand").start()
    try {
      // A@12:00, C@12:40 — zero-B completion in flight (no B yet)
      mem.addData((1L, t("2024-01-01 12:00:00"), 1L, "A", 0.0),
        (1L, t("2024-01-01 12:40:00"), 2L, "C", 0.0))
      q.processAllAvailable()
      assert(spark.table("pat_opt_ttl_hand").count() == 0, "still in flight")
      // an admissible B@12:20 arrives BEFORE resolution: greedy must flip
      // to the with-B completion (B@12:20 then C@12:40)
      mem.addData((1L, t("2024-01-01 12:20:00"), 3L, "B", 0.0))
      q.processAllAvailable()
      // resolve: floor passes 12:00's window
      mem.addData((1L, t("2024-01-01 17:00:00"), 4L, "A", 0.0))
      q.processAllAvailable()
      // a LATE B inside the resolved window (12:30 < 17:00 − 2h): dropped;
      // the emitted decision must not change or re-emit
      mem.addData((1L, t("2024-01-01 12:30:00"), 9L, "B", 0.0))
      q.processAllAvailable()
      mem.addData((1L, t("2024-01-02 12:00:00"), 5L, "A", 0.0)) // fence
      q.processAllAvailable()
    } finally q.stop()
    val out = finals("pat_opt_ttl_hand").map { case (u, m) =>
      val (t1, b1, t3) = optOf(m)
      (u, t1, if (b1.isDefined) 1 else 0, b1.getOrElse(-1L), t3)
    }
    def us2(s: String) = t(s).getTime * 1000L
    assert(out.toSeq == Seq((1L, us2("2024-01-01 12:00:00"), 1,
      us2("2024-01-01 12:20:00"), us2("2024-01-01 12:40:00"))),
      s"opt decision wrong or flipped: ${out.mkString("; ")}")
  }

  test("star TTL: an empty run finalizes as 0/0.0/NULL and stays final") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val w = 3600L * 1000000L
    val horizon = 2L * 3600 * 1000000L
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val df = mem.toDF().toDF("user_id", "ts", "event_id", "event_type", "value")
    val q = StreamOps.streamingPatternSpecTtl(df, abc(aP, bP, cP, QStar), w,
        horizon)
      .toDF().writeStream.outputMode("update").format("memory")
      .queryName("pat_star_ttl_hand").start()
    try {
      // A@12:00, C@12:10 — zero-B match; a B@12:30 AFTER the completing C
      // belongs to no run (run = B's in (t1, t3) = (12:00, 12:10))
      mem.addData((1L, t("2024-01-01 12:00:00"), 1L, "A", 0.0),
        (1L, t("2024-01-01 12:10:00"), 2L, "C", 0.0),
        (1L, t("2024-01-01 12:30:00"), 3L, "B", 7.0))
      q.processAllAvailable()
      mem.addData((1L, t("2024-01-01 17:00:00"), 4L, "A", 0.0))
      q.processAllAvailable()
      mem.addData((1L, t("2024-01-02 12:00:00"), 5L, "A", 0.0)) // fence
      q.processAllAvailable()
    } finally q.stop()
    val out = finals("pat_star_ttl_hand").map { case (u, m) =>
      val (t1, n, sum, last, t3) = starOf(m)
      (u, t1, n, sum, last.getOrElse(-1L), t3)
    }
    def us2(s: String) = t(s).getTime * 1000L
    assert(out.toSeq == Seq((1L, us2("2024-01-01 12:00:00"), 0L, 0.0, -1L,
      us2("2024-01-01 12:10:00"))),
      s"star empty-run final wrong: ${out.mkString("; ")}")
  }

  test("pinned convention: same-(ts,value) duplicate events collapse in the greedy/TTL family only") {
    // r18 advice (medium): two DISTINCT events (different event_id) at
    // the same microsecond with the same qualification and value are ONE
    // run member to every (ts, mask, value)-keyed matcher — an exact
    // duplicate is indistinguishable from an at-least-once redelivery at
    // the state grain, so the family treats both identically. The
    // declarative SKIP TO NEXT ROW form counts every source row. BOTH
    // behaviors are pinned here; neither may drift to match the other.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    def us2(s: String) = t(s).getTime * 1000L
    val w = 3600L * 1000000L
    val horizon = 2L * 3600 * 1000000L
    val batchDf = Seq(
      (1L, "A", 0.0, t("2024-01-01 12:00:00")),
      (1L, "B", 7.0, t("2024-01-01 12:10:00")), // event_id-distinct twins
      (1L, "B", 7.0, t("2024-01-01 12:10:00")), //   at one instant
      (1L, "C", 0.0, t("2024-01-01 12:20:00")))
      .toDF("user_id", "event_type", "value", "ts")
    // declarative: every source row is a run member -> count 2, sum 14
    val decl = PatternCompiler.compile(batchDf, plusStages, w).collect()
    assert(decl.length == 1 &&
      (decl.head.getLong(3), decl.head.getDouble(4)) == (2L, 14.0),
      s"declarative must count both duplicate rows: ${decl.mkString}")
    // pure matcher on the family's (ts, mask, value)-distinct input -> 1
    val evs = IndexedSeq((us2("2024-01-01 12:00:00"), 1, 0.0),
      (us2("2024-01-01 12:10:00"), 2, 7.0),
      (us2("2024-01-01 12:20:00"), 4, 0.0))
    assert(PatternCompiler.genericMatches(evs, plusStages, w)
      .map(m => (m(1).count, m(1).sum)) == List((1L, 7.0)))
    // TTL twin end-to-end: the two events carry DIFFERENT event_ids, so
    // the seen-set keeps both — the collapse happens at the state tuple
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val df = mem.toDF().toDF("user_id", "ts", "event_id", "event_type", "value")
    val q = StreamOps.streamingPatternSpecTtl(df, plusStages, w, horizon)
      .toDF().writeStream.outputMode("update").format("memory")
      .queryName("pat_dup_conv").start()
    try {
      mem.addData((1L, t("2024-01-01 12:00:00"), 1L, "A", 0.0),
        (1L, t("2024-01-01 12:10:00"), 2L, "B", 7.0),
        (1L, t("2024-01-01 12:10:00"), 3L, "B", 7.0),
        (1L, t("2024-01-01 12:20:00"), 4L, "C", 0.0))
      q.processAllAvailable()
      mem.addData((1L, t("2024-01-02 12:00:00"), 5L, "A", 0.0)) // fence
      q.processAllAvailable()
    } finally q.stop()
    val out = finals("pat_dup_conv").map { case (_, m) => (m(1).count, m(1).sum) }
    assert(out.toSeq == Seq((1L, 7.0)),
      s"TTL family must collapse the duplicate: ${out.mkString("; ")}")
  }

  // ------------------------------------------------------ streaming twin
  test("streaming pattern snapshots converge to batch greedy (out-of-order batches)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val w = 48L * 3600 * 1000000L // wider window: sf0.001 is sparse
    // a horizon wider than the corpus's 30-day span: no arrival order
    // makes a row late, so the fence-closed finals are the whole answer
    val horizon = 31L * 24 * 3600 * 1000000L
    val rows = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        col("value"))
      .as[(Long, java.sql.Timestamp, Long, String, Double)].collect()
    // closing fence: a far-future 'view' per user finalizes every real row
    val maxMs = rows.filter(_._2 != null).map(_._2.getTime).max
    val fences = rows.map(_._1).distinct.zipWithIndex.map { case (u, i) =>
      (u, new java.sql.Timestamp(maxMs + (horizon + w) / 1000L + 3600000L),
        -2000L - i, "view", 0.0)
    }
    // out-of-order thirds (shuffled deterministically), plus a replayed
    // batch — at-least-once re-delivery must be a no-op
    val shuffled = new scala.util.Random(20260816L).shuffle(rows.toSeq)
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val df = mem.toDF.toDF("user_id", "ts", "event_id", "event_type", "value")
    val q = StreamOps.streamingPatternSpecTtl(df, regStages, w, horizon)
      .writeStream.outputMode("update").format("memory")
      .queryName("pat_out").start()
    try {
      shuffled.grouped((shuffled.size + 2) / 3).foreach { b =>
        mem.addData(b); q.processAllAvailable()
      }
      mem.addData(shuffled.take(500)); q.processAllAvailable() // replay
      mem.addData(fences.toIndexedSeq: _*); q.processAllAvailable()
    } finally q.stop()
    def canonM(ms: Iterable[Seq[Long]]): Seq[String] =
      ms.map(_.mkString(",")).toSeq.sorted
    def byUser(ms: Seq[(Long, IndexedSeq[GStageRes])]): Map[Long, Seq[String]] =
      ms.groupBy(_._1).view.mapValues(v => canonM(v.map(m => anchors(m._2))))
        .toMap
    val batch = byUser(greedyBatch(Tables.load(spark, dir, "events"),
      regStages, w))
    val streamed = byUser(finals("pat_out"))
    assert(streamed == batch,
      "streaming snapshots must equal the batch greedy matches")
    assert(batch.nonEmpty, "corpus should produce at least one match")
  }
}
