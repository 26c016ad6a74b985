package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Ordered event-pattern recognition (MATCH_RECOGNIZE-class) — the
  * tier-V envelope row the reference inherits from Flink's full planner
  * (the reference's `flink-runtime/build.gradle:37` pulls
  * flink-table-planner, which ships SQL row-pattern recognition).
  *
  * The six registry rows are stage sequences compiled by
  * [[PatternCompiler.compile]] (`AFTER MATCH SKIP TO NEXT ROW`: one match
  * per qualifying start row, so matches may overlap), each projected from
  * the compiler's canonical `s{k}_*` schema onto the row's pinned column
  * names, next to the DuckDB oracle SQL the row is hash-checked against.
  * Every row matches view → (middle stage) → purchase WITHIN 24 hours of
  * the view; only the middle stage varies (plain, `+`, alternation, `?`,
  * `*`, and the quantified alternation of `evt_pattern_combo`).
  *
  * The pattern semantics, the pure greedy matcher (`AFTER MATCH SKIP PAST
  * LAST ROW`, [[PatternCompiler.genericMatches]]) and its streaming twin
  * ([[graft.streaming.StreamOps.streamingPatternSpecTtl]]) are documented
  * with [[PatternCompiler]].
  */
object EventPattern {
  import PatternCompiler.{PStage, QOpt, QPlus, QStar}

  private val withinUs24h = 24L * 3600 * 1000000L
  private def viewP = col("event_type") === "view"
  private def click50P = col("event_type") === "click" && col("value") >= 50
  private def purchaseP = col("event_type") === "purchase"
  private def errorP = col("event_type") === "error"
  private def clickOrError = Seq("click50" -> click50P, "error" -> errorP)

  /** view → `mid` → purchase WITHIN 24 h, compiled, then projected onto
    * `user_id` plus the row's pinned columns (which must name `t1_us`)
    * and ordered by (user_id, t1_us). */
  private def viewToPurchase(s: SparkSession, dir: String, mid: PStage,
      cols: Column*): DataFrame =
    PatternCompiler.compile(Tables.load(s, dir, "events"),
        Seq(PStage.one("view", viewP), mid, PStage.one("purchase", purchaseP)),
        withinUs24h)
      .select(col("user_id") +: cols: _*)
      .orderBy(col("user_id"), col("t1_us"))

  /** view → click(value ≥ 50) → purchase WITHIN 24 hours of the view — a
    * funnel-shaped pattern whose middle stage carries a non-type
    * predicate (the thing q36 cannot express). */
  def evtPattern(s: SparkSession, dir: String): DataFrame =
    viewToPurchase(s, dir, PStage.one("click50", click50P),
      col("s1_ts").as("t1_us"), col("s2_ts").as("t2_us"),
      col("s3_ts").as("t3_us"))

  val evtPatternSql: String =
    """WITH ev AS (
      |  SELECT user_id, event_type, value, ts FROM events WHERE ts IS NOT NULL
      |), a AS (
      |  SELECT DISTINCT user_id, ts AS t1 FROM ev WHERE event_type = 'view'
      |), ab AS (
      |  SELECT a.user_id, a.t1, MIN(e.ts) AS t2 FROM a
      |  JOIN ev e ON e.user_id = a.user_id
      |  WHERE e.event_type = 'click' AND e.value >= 50
      |    AND e.ts > a.t1 AND e.ts <= a.t1 + INTERVAL 24 HOUR
      |  GROUP BY a.user_id, a.t1
      |), abc AS (
      |  SELECT ab.user_id, ab.t1, ab.t2, MIN(e.ts) AS t3 FROM ab
      |  JOIN ev e ON e.user_id = ab.user_id
      |  WHERE e.event_type = 'purchase'
      |    AND e.ts > ab.t2 AND e.ts <= ab.t1 + INTERVAL 24 HOUR
      |  GROUP BY ab.user_id, ab.t1, ab.t2
      |)
      |SELECT user_id, epoch_us(CAST(t1 AS TIMESTAMP)) AS t1_us,
      |  epoch_us(CAST(t2 AS TIMESTAMP)) AS t2_us,
      |  epoch_us(CAST(t3 AS TIMESTAMP)) AS t3_us
      |FROM abc ORDER BY user_id, t1_us""".stripMargin

  /** view → click(value ≥ 50)+ → purchase WITHIN 24 h, with run MEASURES
    * (b_count / b_sum / b_last_us over every click50 in the open frame
    * (t1, t3)) — the value predicate rides the quantified stage so the
    * pushed-filter plan property covers the run joins too. */
  def evtPatternPlus(s: SparkSession, dir: String): DataFrame =
    viewToPurchase(s, dir, PStage(Seq("click50" -> click50P), QPlus),
      col("s1_ts").as("t1_us"), col("s2_ts").as("b1_us"),
      col("s2_count").as("b_count"), col("s2_sum").as("b_sum"),
      col("s2_last").as("b_last_us"), col("s3_ts").as("t3_us"))

  val evtPatternPlusSql: String =
    """WITH ev AS (
      |  SELECT user_id, event_type, value, ts FROM events WHERE ts IS NOT NULL
      |), a AS (
      |  SELECT DISTINCT user_id, ts AS t1 FROM ev WHERE event_type = 'view'
      |), ab AS (
      |  SELECT a.user_id, a.t1, MIN(e.ts) AS b1 FROM a
      |  JOIN ev e ON e.user_id = a.user_id
      |  WHERE e.event_type = 'click' AND e.value >= 50
      |    AND e.ts > a.t1 AND e.ts <= a.t1 + INTERVAL 24 HOUR
      |  GROUP BY a.user_id, a.t1
      |), abc AS (
      |  SELECT ab.user_id, ab.t1, ab.b1, MIN(e.ts) AS t3 FROM ab
      |  JOIN ev e ON e.user_id = ab.user_id
      |  WHERE e.event_type = 'purchase'
      |    AND e.ts > ab.b1 AND e.ts <= ab.t1 + INTERVAL 24 HOUR
      |  GROUP BY ab.user_id, ab.t1, ab.b1
      |), runm AS (
      |  SELECT abc.user_id, abc.t1, abc.b1, abc.t3,
      |    CAST(COUNT(*) AS BIGINT) AS b_count,
      |    ROUND(CAST(SUM(CAST(e.value AS DECIMAL(30,15))) AS DOUBLE), 6)
      |      + 0.0 AS b_sum,
      |    MAX(e.ts) AS b_last
      |  FROM abc JOIN ev e ON e.user_id = abc.user_id
      |  WHERE e.event_type = 'click' AND e.value >= 50
      |    AND e.ts > abc.t1 AND e.ts < abc.t3
      |  GROUP BY abc.user_id, abc.t1, abc.b1, abc.t3
      |)
      |SELECT user_id, epoch_us(CAST(t1 AS TIMESTAMP)) AS t1_us,
      |  epoch_us(CAST(b1 AS TIMESTAMP)) AS b1_us, b_count, b_sum,
      |  epoch_us(CAST(b_last AS TIMESTAMP)) AS b_last_us,
      |  epoch_us(CAST(t3 AS TIMESTAMP)) AS t3_us
      |FROM runm ORDER BY user_id, t1_us""".stripMargin

  /** view → (click(value ≥ 50) | error) → purchase WITHIN 24 h — the
    * middle alternative carries provenance (`via`), the thing an
    * OR-predicate stage cannot report. */
  def evtPatternAlt(s: SparkSession, dir: String): DataFrame =
    viewToPurchase(s, dir, PStage(clickOrError),
      col("s1_ts").as("t1_us"), col("s2_ts").as("t2_us"),
      col("s2_via").as("via"), col("s3_ts").as("t3_us"))

  val evtPatternAltSql: String =
    """WITH ev AS (
      |  SELECT user_id, event_type, value, ts FROM events WHERE ts IS NOT NULL
      |), a AS (
      |  SELECT DISTINCT user_id, ts AS t1 FROM ev WHERE event_type = 'view'
      |), mids AS (
      |  SELECT user_id, ts,
      |    CASE WHEN event_type = 'click' AND value >= 50 THEN 0
      |         WHEN event_type = 'error' THEN 1 END AS bi
      |  FROM ev
      |  WHERE (event_type = 'click' AND value >= 50) OR event_type = 'error'
      |), ab0 AS (
      |  SELECT a.user_id, a.t1, MIN(m.ts) AS t2 FROM a
      |  JOIN mids m ON m.user_id = a.user_id
      |  WHERE m.ts > a.t1 AND m.ts <= a.t1 + INTERVAL 24 HOUR
      |  GROUP BY a.user_id, a.t1
      |), ab AS (
      |  SELECT ab0.user_id, ab0.t1, ab0.t2, MIN(m.bi) AS bi
      |  FROM ab0 JOIN mids m ON m.user_id = ab0.user_id AND m.ts = ab0.t2
      |  GROUP BY ab0.user_id, ab0.t1, ab0.t2
      |), abd AS (
      |  SELECT ab.user_id, ab.t1, ab.t2, ab.bi, MIN(e.ts) AS t3
      |  FROM ab JOIN ev e ON e.user_id = ab.user_id
      |  WHERE e.event_type = 'purchase'
      |    AND e.ts > ab.t2 AND e.ts <= ab.t1 + INTERVAL 24 HOUR
      |  GROUP BY ab.user_id, ab.t1, ab.t2, ab.bi
      |)
      |SELECT user_id, epoch_us(CAST(t1 AS TIMESTAMP)) AS t1_us,
      |  epoch_us(CAST(t2 AS TIMESTAMP)) AS t2_us,
      |  CASE bi WHEN 0 THEN 'click50' ELSE 'error' END AS via,
      |  epoch_us(CAST(t3 AS TIMESTAMP)) AS t3_us
      |FROM abd ORDER BY user_id, t1_us""".stripMargin

  /** view → click(value ≥ 50)? → purchase WITHIN 24 h (greedy `B?`:
    * took_b = 1 with b_us when the with-click completion exists). */
  def evtPatternOpt(s: SparkSession, dir: String): DataFrame =
    viewToPurchase(s, dir, PStage(Seq("click50" -> click50P), QOpt),
      col("s1_ts").as("t1_us"), col("s2_taken").as("took_b"),
      col("s2_ts").as("b_us"), col("s3_ts").as("t3_us"))

  val evtPatternOptSql: String =
    """WITH ev AS (
      |  SELECT user_id, event_type, value, ts FROM events WHERE ts IS NOT NULL
      |), a AS (
      |  SELECT DISTINCT user_id, ts AS t1 FROM ev WHERE event_type = 'view'
      |), ab AS (
      |  SELECT a.user_id, a.t1, MIN(e.ts) AS b1 FROM a
      |  JOIN ev e ON e.user_id = a.user_id
      |  WHERE e.event_type = 'click' AND e.value >= 50
      |    AND e.ts > a.t1 AND e.ts <= a.t1 + INTERVAL 24 HOUR
      |  GROUP BY a.user_id, a.t1
      |), abc AS (
      |  SELECT ab.user_id, ab.t1, ab.b1, MIN(e.ts) AS t3w FROM ab
      |  JOIN ev e ON e.user_id = ab.user_id
      |  WHERE e.event_type = 'purchase'
      |    AND e.ts > ab.b1 AND e.ts <= ab.t1 + INTERVAL 24 HOUR
      |  GROUP BY ab.user_id, ab.t1, ab.b1
      |), ac AS (
      |  SELECT a.user_id, a.t1, MIN(e.ts) AS t3z FROM a
      |  JOIN ev e ON e.user_id = a.user_id
      |  WHERE e.event_type = 'purchase'
      |    AND e.ts > a.t1 AND e.ts <= a.t1 + INTERVAL 24 HOUR
      |  GROUP BY a.user_id, a.t1
      |)
      |SELECT ac.user_id, epoch_us(CAST(ac.t1 AS TIMESTAMP)) AS t1_us,
      |  CAST(CASE WHEN abc.t3w IS NOT NULL THEN 1 ELSE 0 END AS INT) AS took_b,
      |  epoch_us(CAST(abc.b1 AS TIMESTAMP)) AS b_us,
      |  epoch_us(CAST(COALESCE(abc.t3w, ac.t3z) AS TIMESTAMP)) AS t3_us
      |FROM ac LEFT JOIN abc ON abc.user_id = ac.user_id AND abc.t1 = ac.t1
      |ORDER BY ac.user_id, t1_us""".stripMargin

  /** view → click(value ≥ 50)* → purchase WITHIN 24 h, with run MEASURES
    * (an empty run reads 0 / 0.0 / NULL). */
  def evtPatternStar(s: SparkSession, dir: String): DataFrame =
    viewToPurchase(s, dir, PStage(Seq("click50" -> click50P), QStar),
      col("s1_ts").as("t1_us"), col("s2_count").as("b_count"),
      col("s2_sum").as("b_sum"), col("s2_last").as("b_last_us"),
      col("s3_ts").as("t3_us"))

  val evtPatternStarSql: String =
    """WITH ev AS (
      |  SELECT user_id, event_type, value, ts FROM events WHERE ts IS NOT NULL
      |), a AS (
      |  SELECT DISTINCT user_id, ts AS t1 FROM ev WHERE event_type = 'view'
      |), ab AS (
      |  SELECT a.user_id, a.t1, MIN(e.ts) AS b1 FROM a
      |  JOIN ev e ON e.user_id = a.user_id
      |  WHERE e.event_type = 'click' AND e.value >= 50
      |    AND e.ts > a.t1 AND e.ts <= a.t1 + INTERVAL 24 HOUR
      |  GROUP BY a.user_id, a.t1
      |), abc AS (
      |  SELECT ab.user_id, ab.t1, ab.b1, MIN(e.ts) AS t3 FROM ab
      |  JOIN ev e ON e.user_id = ab.user_id
      |  WHERE e.event_type = 'purchase'
      |    AND e.ts > ab.b1 AND e.ts <= ab.t1 + INTERVAL 24 HOUR
      |  GROUP BY ab.user_id, ab.t1, ab.b1
      |), runm AS (
      |  SELECT abc.user_id, abc.t1, abc.t3,
      |    CAST(COUNT(*) AS BIGINT) AS b_count,
      |    ROUND(CAST(SUM(CAST(e.value AS DECIMAL(30,15))) AS DOUBLE), 6)
      |      + 0.0 AS b_sum,
      |    MAX(e.ts) AS b_last
      |  FROM abc JOIN ev e ON e.user_id = abc.user_id
      |  WHERE e.event_type = 'click' AND e.value >= 50
      |    AND e.ts > abc.t1 AND e.ts < abc.t3
      |  GROUP BY abc.user_id, abc.t1, abc.t3
      |), ac AS (
      |  SELECT a.user_id, a.t1, MIN(e.ts) AS t3z FROM a
      |  JOIN ev e ON e.user_id = a.user_id
      |  WHERE e.event_type = 'purchase'
      |    AND e.ts > a.t1 AND e.ts <= a.t1 + INTERVAL 24 HOUR
      |  GROUP BY a.user_id, a.t1
      |)
      |SELECT ac.user_id, epoch_us(CAST(ac.t1 AS TIMESTAMP)) AS t1_us,
      |  COALESCE(r.b_count, 0) AS b_count,
      |  COALESCE(r.b_sum, 0.0) + 0.0 AS b_sum,
      |  epoch_us(CAST(r.b_last AS TIMESTAMP)) AS b_last_us,
      |  epoch_us(CAST(COALESCE(r.t3, ac.t3z) AS TIMESTAMP)) AS t3_us
      |FROM ac LEFT JOIN runm r ON r.user_id = ac.user_id AND r.t1 = ac.t1
      |ORDER BY ac.user_id, t1_us""".stripMargin

  /** view → (click(value ≥ 50) | error)+ → purchase WITHIN 24 h — a
    * quantified ALTERNATION stage carrying both run MEASURES (m_count /
    * m_sum / m_last_us over every branch row in the open reading frame)
    * and branch PROVENANCE (`via` = the run's first element's branch,
    * first-listed preference at ties). */
  def evtPatternCombo(s: SparkSession, dir: String): DataFrame =
    viewToPurchase(s, dir, PStage(clickOrError, QPlus),
      col("s1_ts").as("t1_us"), col("s2_ts").as("r1_us"),
      col("s2_via").as("via"), col("s2_count").as("m_count"),
      col("s2_sum").as("m_sum"), col("s2_last").as("m_last_us"),
      col("s3_ts").as("t3_us"))

  val evtPatternComboSql: String =
    """WITH ev AS (
      |  SELECT user_id, event_type, value, ts FROM events WHERE ts IS NOT NULL
      |), a AS (
      |  SELECT DISTINCT user_id, ts AS t1 FROM ev WHERE event_type = 'view'
      |), mids AS (
      |  SELECT user_id, ts, value,
      |    CASE WHEN event_type = 'click' AND value >= 50 THEN 0
      |         WHEN event_type = 'error' THEN 1 END AS bi
      |  FROM ev
      |  WHERE (event_type = 'click' AND value >= 50) OR event_type = 'error'
      |), ab0 AS (
      |  SELECT a.user_id, a.t1, MIN(m.ts) AS r1 FROM a
      |  JOIN mids m ON m.user_id = a.user_id
      |  WHERE m.ts > a.t1 AND m.ts <= a.t1 + INTERVAL 24 HOUR
      |  GROUP BY a.user_id, a.t1
      |), ab AS (
      |  SELECT ab0.user_id, ab0.t1, ab0.r1, MIN(m.bi) AS bi
      |  FROM ab0 JOIN mids m ON m.user_id = ab0.user_id AND m.ts = ab0.r1
      |  GROUP BY ab0.user_id, ab0.t1, ab0.r1
      |), abd AS (
      |  SELECT ab.user_id, ab.t1, ab.r1, ab.bi, MIN(e.ts) AS t3
      |  FROM ab JOIN ev e ON e.user_id = ab.user_id
      |  WHERE e.event_type = 'purchase'
      |    AND e.ts > ab.r1 AND e.ts <= ab.t1 + INTERVAL 24 HOUR
      |  GROUP BY ab.user_id, ab.t1, ab.r1, ab.bi
      |), runm AS (
      |  SELECT abd.user_id, abd.t1, abd.r1, abd.bi, abd.t3,
      |    CAST(COUNT(*) AS BIGINT) AS m_count,
      |    ROUND(CAST(SUM(CAST(m.value AS DECIMAL(30,15))) AS DOUBLE), 6)
      |      + 0.0 AS m_sum,
      |    MAX(m.ts) AS m_last
      |  FROM abd JOIN mids m ON m.user_id = abd.user_id
      |  WHERE m.ts > abd.t1 AND m.ts < abd.t3
      |  GROUP BY abd.user_id, abd.t1, abd.r1, abd.bi, abd.t3
      |)
      |SELECT user_id, epoch_us(CAST(t1 AS TIMESTAMP)) AS t1_us,
      |  epoch_us(CAST(r1 AS TIMESTAMP)) AS r1_us,
      |  CASE bi WHEN 0 THEN 'click50' ELSE 'error' END AS via,
      |  m_count, m_sum,
      |  epoch_us(CAST(m_last AS TIMESTAMP)) AS m_last_us,
      |  epoch_us(CAST(t3 AS TIMESTAMP)) AS t3_us
      |FROM runm ORDER BY user_id, t1_us""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "evt_pattern" -> (evtPattern _),
    "evt_pattern_plus" -> (evtPatternPlus _),
    "evt_pattern_alt" -> (evtPatternAlt _),
    "evt_pattern_opt" -> (evtPatternOpt _),
    "evt_pattern_star" -> (evtPatternStar _),
    "evt_pattern_combo" -> (evtPatternCombo _))

  val oracles: Map[String, String] = Map(
    "evt_pattern" -> evtPatternSql,
    "evt_pattern_plus" -> evtPatternPlusSql,
    "evt_pattern_alt" -> evtPatternAltSql,
    "evt_pattern_opt" -> evtPatternOptSql,
    "evt_pattern_star" -> evtPatternStarSql,
    "evt_pattern_combo" -> evtPatternComboSql)
}
