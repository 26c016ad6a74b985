package graft

import graft.operators.{EventPattern, PatternCompiler}
import graft.operators.PatternCompiler.{PStage, QOpt, QPlus, QStar}
import graft.streaming.StreamOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The pattern COMPILER's contract (r18 verdict #1): one stage-sequence
  * AST must derive every hash-pinned registry pattern — the rows their
  * oracle SQL produces — and open composition (`A (B|C)+ D`,
  * `A B+ C? D`). Equality is pinned three ways: registry DataFrames ≡
  * their oracle SQL run on Spark over the gate corpus, genericMatches ≡
  * each hand-written per-shape greedy matcher ([[GreedyReference]], full
  * per-user match lists), and the generic TTL twin's fence-closed
  * finals ≡ the generic matcher run in batch.
  */
class PatternCompilerSpec extends AnyFunSuite {
  implicit lazy val spark: SparkSession = GraftSession.local("4")
  import spark.implicits._

  private val dir = "/root/testdata/sf0.01"
  private val w24 = 24L * 3600 * 1000000L

  private def us(sec: Long): Long = sec * 1000000L
  private def ts(sec: Long): java.sql.Timestamp =
    new java.sql.Timestamp(sec * 1000L)

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

  // ------------------- compiled ≡ oracle SQL (the hash-unchanged warrant)
  test("compiled == oracle SQL on Spark: all six hash-pinned forms (gate corpus)") {
    // the oracle strings are DuckDB SQL; epoch_us is the one function
    // Spark spells differently (unix_micros)
    Tables.load(spark, dir, "events").createOrReplaceTempView("events")
    try EventPattern.all.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val compiled = fn(spark, dir)
      val oracle = spark.sql(
        EventPattern.oracles(name).replace("epoch_us(", "unix_micros("))
      assert(oracle.columns.toSeq == compiled.columns.toSeq,
        s"$name: compiled schema diverged from the oracle")
      val c = canon(compiled)
      assert(canon(oracle) == c, s"$name: compiled rows diverged from the oracle")
      assert(c.nonEmpty, s"$name: gate corpus should produce matches")
    } finally spark.catalog.dropTempView("events")
  }

  // ------------------------------------------ composed-form hand cases
  private def evDf(rows: (Long, String, Double, Long)*): DataFrame =
    rows.map { case (u, t, v, sec) => (u, t, v, ts(sec)) }
      .toDF("user_id", "event_type", "value", "ts")

  private val aP = col("event_type") === "A"
  private val bP = col("event_type") === "B"
  private val cP = col("event_type") === "C"
  private val dP = col("event_type") === "D"

  test("combo A (B|C)+ D: run MEASURES span both branches; via = first run element") {
    // A@0, B@5(v=2), C@8(v=7), B@12(v=3), D@20, W=100s: r1 = B@5 (via
    // first-listed B), run = ALL branch rows in (0, 20) = {5, 8, 12},
    // count 3, sum 12.0, last 12
    val df = evDf((1L, "A", 0.0, 0), (1L, "B", 2.0, 5), (1L, "C", 7.0, 8),
      (1L, "B", 3.0, 12), (1L, "D", 0.0, 20))
    val out = PatternCompiler.compile(df,
      Seq(PStage.one("a", aP), PStage(Seq("b" -> bP, "c" -> cP), QPlus),
        PStage.one("d", dP)), us(100)).collect()
    assert(out.length == 1)
    val r = out.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
      r.getLong(4), r.getDouble(5), r.getLong(6), r.getLong(7)) ==
      (1L, us(0), us(5), "b", 3L, 12.0, us(12), us(20)))
  }

  test("combo: same-instant branch tie resolves to the FIRST-LISTED branch") {
    // B and C both at t=5: via must be the first-listed 'b' even when
    // the C row sorts first by any other column
    val df = evDf((1L, "A", 0.0, 0), (1L, "C", 7.0, 5), (1L, "B", 2.0, 5),
      (1L, "D", 0.0, 9))
    val out = PatternCompiler.compile(df,
      Seq(PStage.one("a", aP), PStage(Seq("b" -> bP, "c" -> cP), QPlus),
        PStage.one("d", dP)), us(100)).collect()
    assert(out.length == 1 && out.head.getString(3) == "b")
    assert(out.head.getLong(4) == 2L, "both same-instant rows are run members")
  }

  test("composed A B+ C? D: a pending run crosses the optional split intact") {
    // with-C: run frame closes at C's anchor (0,20) -> {5,10}; skipping
    // C would close it at D (0,30) — the with arm must win and carry
    // count 2 / sum 5.0 / last 10
    val df = evDf((1L, "A", 0.0, 0), (1L, "B", 2.0, 5), (1L, "B", 3.0, 10),
      (1L, "C", 0.0, 20), (1L, "D", 0.0, 30))
    val stages = Seq(PStage.one("a", aP), PStage(Seq("b" -> bP), QPlus),
      PStage(Seq("c" -> cP), QOpt), PStage.one("d", dP))
    val out = PatternCompiler.compile(df, stages, us(100)).collect()
    assert(out.length == 1)
    val r = out.head
    // canonical: user_id, s1_ts, s2_ts, s2_count, s2_sum, s2_last,
    //            s3_ts, s3_taken, s4_ts
    assert(r.getLong(1) == us(0) && r.getLong(2) == us(5))
    assert((r.getLong(3), r.getDouble(4), r.getLong(5)) == (2L, 5.0, us(10)))
    assert(r.getLong(6) == us(20) && r.getInt(7) == 1 && r.getLong(8) == us(30))

    // no C anywhere: zero arm — run frame widens to D's anchor (0,30)
    val df2 = evDf((1L, "A", 0.0, 0), (1L, "B", 2.0, 5), (1L, "B", 3.0, 25),
      (1L, "D", 0.0, 30))
    val out2 = PatternCompiler.compile(df2, stages, us(100)).collect()
    assert(out2.length == 1)
    val r2 = out2.head
    assert((r2.getLong(3), r2.getDouble(4), r2.getLong(5)) ==
      (2L, 5.0, us(25)))
    assert(r2.isNullAt(6) && r2.getInt(7) == 0 && r2.getLong(8) == us(30))
  }

  test("generic matcher agrees with the composed declarative form (hand cases)") {
    val stages = Seq(PStage.one("a", aP), PStage(Seq("b" -> bP), QPlus),
      PStage(Seq("c" -> cP), QOpt), PStage.one("d", dP))
    // with-C arm taken
    val evs = IndexedSeq((us(0), 1, 0.0), (us(5), 2, 2.0), (us(10), 2, 3.0),
      (us(20), 4, 0.0), (us(30), 8, 0.0))
    val ms = PatternCompiler.genericMatches(evs, stages, us(100))
    assert(ms.length == 1)
    val m = ms.head
    assert(m.map(_.anchor) == IndexedSeq(us(0), us(5), us(20), us(30)))
    assert((m(1).count, m(1).sum, m(1).last) == (2L, 5.0, us(10)))
    // zero-C arm: run frame widens to D
    val evs2 = IndexedSeq((us(0), 1, 0.0), (us(5), 2, 2.0),
      (us(25), 2, 3.0), (us(30), 8, 0.0))
    val ms2 = PatternCompiler.genericMatches(evs2, stages, us(100))
    assert(ms2.length == 1)
    val m2 = ms2.head
    assert(m2(2).anchor == Long.MinValue)
    assert((m2(1).count, m2(1).sum, m2(1).last) == (2L, 5.0, us(25)))
  }

  test("generic matcher skips past the final anchor, not the scan cursor (r18 bug)") {
    // A B? C, W=10s: A@0 has no B inside (0, 10] — the zero-arm
    // completes at C@5, but the take-arm scan ran to the window edge;
    // resuming from the scan cursor would swallow A@8, whose own window
    // (8, 18] holds the full take-arm match (8, 12, 14)
    val stages = Seq(PStage.one("a", aP), PStage(Seq("b" -> bP), QOpt),
      PStage.one("c", cP))
    val evs = IndexedSeq((us(0), 1, 0.0), (us(5), 4, 0.0), (us(8), 1, 0.0),
      (us(12), 2, 0.0), (us(14), 4, 0.0))
    val ms = PatternCompiler.genericMatches(evs, stages, us(10))
    assert(ms.map(m => (m(0).anchor, m(1).anchor, m(2).anchor)) ==
      List((us(0), Long.MinValue, us(5)), (us(8), us(12), us(14))))
  }

  // ------ generic matcher ≡ the five hand-written per-shape matchers
  private def gateRows(stages: Seq[PStage], withValue: Boolean)
      : Map[Long, IndexedSeq[(Long, Int, Double)]] =
    Tables.load(spark, dir, "events").filter(col("ts").isNotNull)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        PatternCompiler.specMask(stages).as("mask"), col("value"))
      .filter(col("mask") =!= 0)
      .as[(Long, Long, Int, Double)].collect().groupBy(_._1)
      .view.mapValues { rs =>
        if (withValue)
          rs.map(r => (r._2, r._3, r._4)).toIndexedSeq.distinct.sorted
        else
          rs.map(r => (r._2, r._3)).toIndexedSeq.distinct.sorted
            .map(e => (e._1, e._2, 0.0))
      }.toMap

  private val viewP = col("event_type") === "view"
  private val click50P = col("event_type") === "click" && col("value") >= 50
  private val purchaseP = col("event_type") === "purchase"
  private val errorP = col("event_type") === "error"

  test("genericMatches == greedyMatches / Plus / Alt / Opt / Star (gate corpus)") {
    // fixed 3-stage
    val fixedS = Seq(PStage.one("view", viewP),
      PStage.one("click50", click50P), PStage.one("purchase", purchaseP))
    val rowsNoV = gateRows(fixedS, withValue = false)
    val rowsV = gateRows(fixedS, withValue = true)
    var nonEmpty = 0
    rowsNoV.foreach { case (u, evs) =>
      val legacy = GreedyReference.greedyMatches(
        evs.map(e => (e._1, e._2)), 3, w24)
      val gen = PatternCompiler.genericMatches(evs, fixedS, w24)
        .map(_.map(_.anchor))
      assert(gen == legacy, s"fixed: user $u diverged")
      if (legacy.nonEmpty) nonEmpty += 1
    }
    assert(nonEmpty > 0)

    // plus (value-carrying)
    val plusS = Seq(PStage.one("view", viewP),
      PStage(Seq("click50" -> click50P), QPlus),
      PStage.one("purchase", purchaseP))
    rowsV.foreach { case (u, evs) =>
      val legacy = GreedyReference.greedyMatchesPlus(evs, w24)
      val gen = PatternCompiler.genericMatches(evs, plusS, w24)
        .map(m => (m(0).anchor, m(1).anchor, m(1).count, m(1).sum,
          m(1).last, m(2).anchor))
      assert(gen == legacy, s"plus: user $u diverged")
    }

    // opt / star share the plus bit layout (A=1, B=2, C=4)
    val optS = Seq(PStage.one("view", viewP),
      PStage(Seq("click50" -> click50P), QOpt),
      PStage.one("purchase", purchaseP))
    val starS = Seq(PStage.one("view", viewP),
      PStage(Seq("click50" -> click50P), QStar),
      PStage.one("purchase", purchaseP))
    rowsV.foreach { case (u, evs) =>
      val legacyO = GreedyReference.greedyMatchesOpt(
        evs.map(e => (e._1, e._2)), w24)
      val genO = PatternCompiler.genericMatches(evs, optS, w24)
        .map(m => (m(0).anchor,
          if (m(1).anchor == Long.MinValue) None else Some(m(1).anchor),
          m(2).anchor))
      assert(genO == legacyO, s"opt: user $u diverged")
      val legacyS = GreedyReference.greedyMatchesStar(evs, w24)
      val genS = PatternCompiler.genericMatches(evs, starS, w24)
        .map(m => (m(0).anchor, m(1).count, m(1).sum,
          if (m(1).last == Long.MinValue) None else Some(m(1).last),
          m(2).anchor))
      assert(genS == legacyS, s"star: user $u diverged")
    }

    // alternation (bits: view=1, click50=2, error=4, purchase=8)
    val altS = Seq(PStage.one("view", viewP),
      PStage(Seq("click50" -> click50P, "error" -> errorP)),
      PStage.one("purchase", purchaseP))
    gateRows(altS, withValue = false).foreach { case (u, evs) =>
      val legacy = GreedyReference.greedyMatchesAlt(
        evs.map(e => (e._1, e._2)), 2, w24)
      val gen = PatternCompiler.genericMatches(evs, altS, w24)
        .map(m => (m(0).anchor, m(1).anchor, m(1).bi, m(2).anchor))
      assert(gen == legacy, s"alt: user $u diverged")
    }
  }

  test("combo: first generic greedy match per user == earliest declarative (gate corpus)") {
    val decl = EventPattern.evtPatternCombo(spark, dir).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3),
        r.getLong(4), r.getDouble(5), r.getLong(6), r.getLong(7))))
      .groupBy(_._1).view.mapValues(_.map(_._2).minBy(_._1)).toMap
    val comboS = Seq(PStage.one("view", viewP),
      PStage(Seq("click50" -> click50P, "error" -> errorP), QPlus),
      PStage.one("purchase", purchaseP))
    val names = IndexedSeq("click50", "error")
    val greedy = gateRows(comboS, withValue = true).flatMap { case (u, evs) =>
      PatternCompiler.genericMatches(evs, comboS, w24).headOption.map(m =>
        u -> (m(0).anchor, m(1).anchor, names(m(1).bi), m(1).count,
          m(1).sum, m(1).last, m(2).anchor))
    }
    assert(greedy.keySet == decl.keySet,
      "the two modes must agree on WHICH users match")
    greedy.foreach { case (u, m) =>
      assert(m == decl(u), s"user $u: greedy first $m != declarative ${decl(u)}")
    }
    assert(greedy.nonEmpty, "gate corpus should produce matches")
  }

  // --------------------------- generic TTL twin (fence-closed equality)
  test("spec TTL: fence-closed finals == batch genericMatches (combo, gate corpus)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val sdir = "/root/testdata/sf0.001"
    val w = 48L * 3600 * 1000000L
    val horizon = 2L * 3600 * 1000000L
    val comboS = Seq(PStage.one("view", viewP),
      PStage(Seq("click50" -> click50P, "error" -> errorP), QPlus),
      PStage.one("purchase", purchaseP))
    val rows = Tables.load(spark, sdir, "events").filter(col("ts").isNotNull)
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
    val q = StreamOps.streamingPatternSpecTtl(df, comboS, w, horizon)
      .toDF().writeStream.outputMode("update").format("memory")
      .queryName("pat_spec_ttl_out").start()
    try {
      rows.grouped((rows.length + 9) / 10).foreach { b =>
        mem.addData(b.toIndexedSeq: _*); q.processAllAvailable()
      }
      mem.addData(fences.toIndexedSeq: _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("pat_spec_ttl_out").collect()
      .map(r => (r.getLong(0), (r.getSeq[Long](1), r.getSeq[Int](2),
        r.getSeq[Long](3), r.getSeq[Double](4), r.getSeq[Long](5))))
      .toSeq
    val batch = Tables.load(spark, sdir, "events").filter(col("ts").isNotNull)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        PatternCompiler.specMask(comboS).as("mask"), col("value"))
      .filter(col("mask") =!= 0)
      .as[(Long, Long, Int, Double)].collect().groupBy(_._1)
      .toSeq.flatMap { case (u, rs) =>
        PatternCompiler.genericMatches(
          rs.map(r => (r._2, r._3, r._4)).toIndexedSeq.distinct.sorted,
          comboS, w)
          .map(m => (u, (m.map(_.anchor), m.map(_.bi), m.map(_.count),
            m.map(_.sum), m.map(_.last))))
      }
    def canonS(xs: Seq[(Long, (Seq[Long], Seq[Int], Seq[Long], Seq[Double],
        Seq[Long]))]) = xs.map { case (u, m) => s"$u:$m" }.sorted
    assert(canonS(streamed) == canonS(batch),
      "fence-closed spec-TTL finals must equal batch genericMatches")
    assert(streamed.nonEmpty, "gate corpus should produce matches")
    assert(canonS(streamed).distinct.size == streamed.size, "emit-once")
  }
}
