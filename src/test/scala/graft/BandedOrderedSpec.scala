package graft

import graft.operators.{CurationOps, WindowQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Equality certificates for the time-banded two-phase ordered forms
  * (r16 verdict #1): w_session / evt_cadence / evt_transitions were the
  * last per-user single-reducer sorts in the registry (p100-skew
  * exponents 1.34 / 1.27 / 1.01). The banded forms split the sort into
  * per-(user, time-band) units and stitch at band boundaries; their
  * contract is EXACT equality with the unbanded operators, pinned here
  * twice over:
  *
  *  - on the gate corpus (sf0.01 — every real shape at once), and
  *  - on hand fixtures aimed at the stitch seams: a session crossing a
  *    band boundary, a gap of exactly `gap` at the boundary (no merge,
  *    strict <), a session chaining across MULTIPLE whole bands, an
  *    event at exactly a band-boundary instant, same-instant duplicate
  *    timestamps (the p100-skew hot-user shape), empty bands between a
  *    user's events, and single-event users.
  *
  * The oracle row (CORRECTNESS gate) re-proves the same equality against
  * DuckDB's gaps-and-islands SQL at every round.
  */
class BandedOrderedSpec extends AnyFunSuite with TempDirs {
  implicit lazy val spark: SparkSession = GraftSession.local("8")
  import spark.implicits._

  private val dir = "/root/testdata/sf0.01"

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case null => "∅"
      case d: Double => f"$d%.9f"
      case x => x.toString
    }.mkString("|")).sorted.toIndexedSeq

  test("w_session banded == native session_window on the gate corpus") {
    val banded = WindowQueries.qSession(spark, dir)
    val native = WindowQueries.qSessionNative(spark, dir)
    assert(canon(banded) == canon(native))
    assert(banded.count() > 0)
  }

  test("evt_cadence banded == single-window form on the gate corpus") {
    assert(canon(CurationOps.evtCadence(spark, dir)) ==
      canon(CurationOps.evtCadenceDirect(spark, dir)))
  }

  test("evt_transitions banded == single-window form on the gate corpus") {
    assert(canon(CurationOps.evtTransitions(spark, dir)) ==
      canon(CurationOps.evtTransitionsDirect(spark, dir)))
  }

  // ---------------------------------------------------- seam fixtures
  /** Events engineered around the 6 h band boundaries (21600 s): every
    * stitch seam the banded forms own. Written as parquet so the
    * (s, dir) operator signatures load them exactly like driver data. */
  private lazy val seamDir: String = {
    val base = 1704067200L // 2024-01-01 00:00:00 UTC, a band-aligned epoch
    def t(off: Long) = new java.sql.Timestamp((base + off) * 1000L)
    val h6 = 21600L
    var id = 0L
    def row(u: Long, off: Long, ty: String): (Long, java.sql.Timestamp, Long, String, Double) = {
      id += 1; (u, t(off), id, ty, (id % 7).toDouble)
    }
    val rows = Seq.newBuilder[(Long, java.sql.Timestamp, Long, String, Double)]
    // u1: one session crossing band boundary 1 (merge: 90 s gap over the seam)
    rows += row(1, h6 - 60, "view") += row(1, h6 + 30, "click")
    // u2: gap of EXACTLY 300 s across the boundary — strict <, no merge
    rows += row(2, h6 - 150, "view") += row(2, h6 + 150, "click")
    // u3: a session chaining across two whole bands (events every 240 s
    // from 5 h into band 0 to 1 h into band 2 — every fragment stitches)
    (18000L to (2 * h6 + 3600L) by 240L).foreach(o => rows += row(3, o, "view"))
    // u4: event at exactly the band-boundary instant, predecessor 299 s
    // before it (merge), successor 300 s after it (no merge)
    rows += row(4, 2 * h6 - 299, "view") += row(4, 2 * h6, "click") +=
      row(4, 2 * h6 + 300, "purchase")
    // u5: same-instant duplicates straddling a seam (the p100-skew
    // hot-user shape: clones share ts, event_ids differ)
    rows += row(5, 3 * h6 - 10, "view") += row(5, 3 * h6 - 10, "click") +=
      row(5, 3 * h6 + 10, "view") += row(5, 3 * h6 + 10, "purchase")
    // u6: empty bands between events — gaps far beyond one band width
    rows += row(6, 100, "view") += row(6, 5 * h6 + 100, "click") +=
      row(6, 9 * h6 + 50, "view")
    // u7: single event; u8: two events inside one band (control)
    rows += row(7, 1234, "view")
    rows += row(8, 400, "view") += row(8, 500, "click")
    // u9: first fragment of a band starts within gap of band start but
    // the previous band is EMPTY for this user — stitch candidate that
    // must pass through unmerged
    rows += row(9, 4 * h6 + 120, "view") += row(9, 4 * h6 + 200, "click")
    val out = tempDir("graft_seam").toString
    rows.result().toDF("user_id", "ts", "event_id", "event_type", "value")
      .coalesce(1).write.mode("overwrite").parquet(s"$out/events.parquet")
    out
  }

  test("w_session banded == oracle-semantic direct form on the seam fixtures") {
    // the fixtures contain EXACT 300 s gaps (u2, u4) — the tie where the
    // native session_window diverges from the oracle contract (it merges
    // at the tie; the oracle's `>= 300 → new` does not). The banded form
    // must match the ORACLE everywhere, so the tie-complete twin is the
    // unbanded gaps-and-islands form, not session_window.
    val banded = WindowQueries.qSession(spark, seamDir)
    val direct = WindowQueries.qSessionDirect(spark, seamDir)
    assert(canon(banded) == canon(direct))
    // and the native operator's tie behavior is itself pinned, so a Spark
    // upgrade changing it is caught: u2's exact-300 pair MERGES natively
    val nativeU2 = WindowQueries.qSessionNative(spark, seamDir)
      .filter(col("user_id") === 2L).collect().map(_.getLong(2)).toSeq
    assert(nativeU2 == Seq(2L),
      s"native session_window tie semantics changed: $nativeU2")
    // spot-pin the decisive seams by hand: u1 merges (1 session of 2),
    // u2 does not (2 sessions), u3 chains into ONE session, u4 is
    // (2 events)(1 event), u6 is three singletons
    val byUser = WindowQueries.qSession(spark, seamDir).collect()
      .groupBy(_.getLong(1)).view.mapValues(_.map(_.getLong(2)).sorted.toSeq)
    assert(byUser(1L) == Seq(2L), s"u1: ${byUser(1L)}")
    assert(byUser(2L) == Seq(1L, 1L), s"u2: ${byUser(2L)}")
    assert(byUser(3L) == Seq((2 * 21600L + 3600L - 18000L) / 240L + 1L),
      s"u3 must chain across two band seams into one session: ${byUser(3L)}")
    assert(byUser(4L) == Seq(1L, 2L), s"u4: ${byUser(4L)}")
    assert(byUser(6L) == Seq(1L, 1L, 1L), s"u6: ${byUser(6L)}")
    assert(byUser(9L) == Seq(2L), s"u9: ${byUser(9L)}")
  }

  test("evt_cadence banded == single-window form on the seam fixtures") {
    assert(canon(CurationOps.evtCadence(spark, seamDir)) ==
      canon(CurationOps.evtCadenceDirect(spark, seamDir)))
  }

  test("evt_transitions banded == single-window form on the seam fixtures") {
    assert(canon(CurationOps.evtTransitions(spark, seamDir)) ==
      canon(CurationOps.evtTransitionsDirect(spark, seamDir)))
  }
}
