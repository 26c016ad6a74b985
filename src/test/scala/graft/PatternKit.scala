package graft

import graft.operators.PatternCompiler
import graft.operators.PatternCompiler.{GStageRes, PStage, QOne, Quant}
import graft.streaming.StreamOps.FinalMatchSpec
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared fixtures for the row-pattern specs: the registry predicates,
  * per-user greedy matching over a collected corpus, and thin
  * projections from the generic match
  * ([[GStageRes]] per stage, or a [[FinalMatchSpec]] emission) onto the
  * tuple each assertion reads. */
object PatternKit {
  val viewP: Column = col("event_type") === "view"
  val click50P: Column = col("event_type") === "click" && col("value") >= 50
  val purchaseP: Column = col("event_type") === "purchase"
  val errorP: Column = col("event_type") === "error"

  /** `a mid c` with the middle stage quantified by `q`. */
  def abc(a: Column, b: Column, c: Column, q: Quant = QOne): Seq[PStage] =
    Seq(PStage.one("a", a), PStage(Seq("b" -> b), q), PStage.one("c", c))

  /** `a (alts…) d` — one alternation stage between two plain ones. */
  def altStages(a: Column, alts: Seq[(String, Column)], d: Column,
      q: Quant = QOne): Seq[PStage] =
    Seq(PStage.one("a", a), PStage(alts, q), PStage.one("d", d))

  /** Per-user (ts_us, mask, value) rows, distinct and sorted — the
    * generic matcher's input, mask from [[PatternCompiler.specMask]]. */
  def maskedRows(events: DataFrame, stages: Seq[PStage])(
      implicit spark: SparkSession): Map[Long, IndexedSeq[(Long, Int, Double)]] = {
    import spark.implicits._
    events.filter(col("ts").isNotNull)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        PatternCompiler.specMask(stages).as("mask"), col("value"))
      .filter(col("mask") =!= 0)
      .as[(Long, Long, Int, Double)].collect().groupBy(_._1)
      .view.mapValues(rs =>
        rs.map(r => (r._2, r._3, r._4)).toIndexedSeq.distinct.sorted).toMap
  }

  /** Batch `AFTER MATCH SKIP PAST LAST ROW`: every user's generic greedy
    * match list over the collected corpus. */
  def greedyBatch(events: DataFrame, stages: Seq[PStage], withinUs: Long)(
      implicit spark: SparkSession): Seq[(Long, IndexedSeq[GStageRes])] =
    maskedRows(events, stages).toSeq.flatMap { case (u, evs) =>
      PatternCompiler.genericMatches(evs, stages, withinUs).map(u -> _)
    }

  /** Every row of a [[FinalMatchSpec]] sink as (user, per-stage results). */
  def specFinals(out: DataFrame)(
      implicit spark: SparkSession): Seq[(Long, IndexedSeq[GStageRes])] = {
    import spark.implicits._
    out.as[FinalMatchSpec].collect().toSeq.map(f => f.user_id ->
      f.stage_ts.indices.map(k => GStageRes(f.stage_ts(k), f.stage_bi(k),
        f.run_count(k), f.run_sum(k), f.run_last(k))))
  }

  private def opt(ts: Long): Option[Long] =
    if (ts == Long.MinValue) None else Some(ts)

  /** Stage anchors (the fixed-stage match). */
  def anchors(m: IndexedSeq[GStageRes]): Seq[Long] = m.map(_.anchor)

  /** `a b+ c`: (t1, b1, b_count, b_sum, b_last, t3). */
  def plusOf(m: IndexedSeq[GStageRes]): (Long, Long, Long, Double, Long, Long) =
    (m(0).anchor, m(1).anchor, m(1).count, m(1).sum, m(1).last, m(2).anchor)

  /** `a (alts) d`: (t1, t2, branch name, t3). */
  def altOf(m: IndexedSeq[GStageRes],
      names: Seq[String]): (Long, Long, String, Long) =
    (m(0).anchor, m(1).anchor, names(m(1).bi), m(2).anchor)

  /** `a b? c`: (t1, b anchor if taken, t3). */
  def optOf(m: IndexedSeq[GStageRes]): (Long, Option[Long], Long) =
    (m(0).anchor, opt(m(1).anchor), m(2).anchor)

  /** `a b* c`: (t1, b_count, b_sum, b_last if the run is non-empty, t3). */
  def starOf(m: IndexedSeq[GStageRes]): (Long, Long, Double, Option[Long], Long) =
    (m(0).anchor, m(1).count, m(1).sum, opt(m(1).last), m(2).anchor)
}
