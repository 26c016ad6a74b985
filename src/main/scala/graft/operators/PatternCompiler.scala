package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Row-pattern COMPILER — the engine's one row-pattern path: a
  * stage-sequence AST that generates every execution form of the
  * MATCH_RECOGNIZE envelope (r18 verdict #1):
  *
  *  - [[compile]] — the declarative banded-rounds plan (`AFTER MATCH SKIP
  *    TO NEXT ROW`): N−1 join+min-agg rounds, so Catalyst plans every
  *    pattern as banded equi-key hash joins with stage predicates pushed
  *    to the scan, never a nested loop. Stage-k candidates key on
  *    (user, ⌊ts/within⌋) and each anchor probes the two bands its window
  *    can touch, exact bounds as residual filters — a user holding 30% of
  *    a corpus shuffles into per-(user, band) work units instead of one
  *    quadratic task (the r15 w_interval_join fix);
  *  - [[genericMatches]] — ONE pure greedy matcher (`AFTER MATCH SKIP
  *    PAST LAST ROW`, the Flink CEP default) over a key's sorted (ts,
  *    mask, value) rows, driven by the same AST and shared verbatim by
  *    the streaming TTL twin
  *    ([[graft.streaming.StreamOps.streamingPatternSpecTtl]]), so twin
  *    equality is equality of inputs, not of two implementations.
  *
  * The AST: a pattern is a SEQUENCE of stages; each stage is an
  * ALTERNATION of named predicates (singleton = plain stage) with a
  * QUANTIFIER ∈ { 1, ?, +, * }. Composition is free within two structural
  * constraints (both load-bearing for the semantics, not parser limits):
  * the FIRST stage is unquantified (it anchors the match and its window),
  * and the LAST stage is unquantified (a trailing run would have no
  * next-anchor to bound its reading frame). The reference ships the full
  * regex set through Flink's planner
  * (`/root/reference/flink-runtime/build.gradle:37`); this compiler covers
  * the sequence/alternation/quantifier core of it under the engine's
  * pinned envelope semantics (below), which is what the six
  * `evt_pattern*` oracle rows hash-check ([[EventPattern]]).
  *
  * == Pinned envelope semantics (NOT the SQL-standard row-sequential
  * contiguity) ==
  *
  *  - t1 anchors at a qualifying first-stage row; the whole match lives
  *    in (t1, t1 + within].
  *  - An unquantified stage anchors at the EARLIEST qualifying row
  *    STRICTLY after the previous consumed anchor; for an alternation,
  *    ties resolve to the first-listed branch (one
  *    `min(struct(ts, branch))`), and the winning branch is PROVENANCE.
  *  - A `+` stage anchors at its earliest qualifying row r1 (the run's
  *    first element); the NEXT stage reads strictly after r1; the run =
  *    every qualifying row in the OPEN reading frame (prevAnchor,
  *    nextAnchor). Earliest anchoring is completion-optimal: a later
  *    anchor at any stage only narrows every later stage's window, so if
  *    any completion exists the earliest-anchored one completes — which
  *    is what makes the declarative min-agg rounds EXACT, not heuristic.
  *  - `?` and `*` are GREEDY with whole-completion backtracking: the
  *    taken/non-empty arm is preferred whenever it completes inside the
  *    window; the skip/empty arm is the fallback. A taken completion
  *    implies a skip completion (dropping a consumed anchor only widens
  *    every later reading frame), so the skip arm is the anchor universe
  *    and the taken arm LEFT-joins onto it — the declarative form stays
  *    exact, with 2^(#optional stages) arms, each a shared-prefix plan.
  *    This preference is the engine's, not the standard's: standard
  *    MATCH_RECOGNIZE consumes rows contiguously, so A@0, C@5, B@10, C@15
  *    matches `A B? C` zero-B at C@5, where this engine prefers
  *    (0, 10, 15). The rule is oracle-pinned (evt_pattern_opt) and
  *    recorded as a divergence in SURVEY.md §2's pattern row.
  *  - MEASURES per quantified stage: count / sum(value) / last-ts over
  *    the run, summed through DECIMAL(30,15) (exact, order-free,
  *    oracle-portable), emitted as DOUBLE; an empty `*` run degrades to
  *    0 / 0.0 / NULL.
  *
  * == Canonical output schema ==
  * `user_id`, then per stage k (1-based): `sk_ts` (anchor epoch-µs; NULL
  * for a skipped `?`/`*`), `sk_via` (alternations only), `sk_taken`
  * (`?` only, INT 0/1), `sk_count`/`sk_sum`/`sk_last` (`+`/`*` only).
  * The registry rows' pinned schemas are thin projections of this (see
  * [[EventPattern]]).
  */
object PatternCompiler {

  sealed trait Quant
  /** exactly one row */
  case object QOne extends Quant
  /** zero or one (greedy) */
  case object QOpt extends Quant
  /** one or more, with run MEASURES */
  case object QPlus extends Quant
  /** zero or more (greedy), with run MEASURES */
  case object QStar extends Quant

  /** One stage: named alternatives (singleton = plain predicate stage)
    * and a quantifier. Branch order is preference order. */
  final case class PStage(alts: Seq[(String, Column)], quant: Quant = QOne) {
    require(alts.nonEmpty, "a stage needs at least one alternative")
    def orPred: Column = alts.map(_._2).reduce(_ || _)
  }
  object PStage {
    def one(name: String, pred: Column): PStage = PStage(Seq(name -> pred))
  }

  private val dec = "decimal(30,15)"

  private def validate(stages: Seq[PStage]): Unit = {
    require(stages.size >= 2, "a pattern needs at least two stages")
    require(stages.head.quant == QOne && stages.head.alts.size >= 1,
      "the first stage must be unquantified — it anchors the match window")
    require(stages.last.quant == QOne,
      "the last stage must be unquantified — a trailing run has no " +
        "next-anchor to bound its reading frame")
    require(stages.map(_.alts.size).sum <= 31,
      "at most 31 total (stage, alternative) bits fit the Int mask " +
        s"shared with the generic matcher, got ${stages.map(_.alts.size).sum}")
  }

  /** The serializable SHAPE of a stage sequence — quantifier + number of
    * alternatives per stage. [[genericMatches]] needs only this (the
    * predicates already live in the mask bits), and unlike [[PStage]]
    * (which holds Columns) it ships into executor closures — the TTL
    * twin extracts it once, driver-side. */
  final case class PShape(quant: Quant, nAlts: Int)
  def shapesOf(stages: Seq[PStage]): IndexedSeq[PShape] = {
    validate(stages)
    stages.map(s => PShape(s.quant, s.alts.size)).toIndexedSeq
  }

  /** Per-(stage, alternative) bit offsets for the Int stage mask —
    * stage k's alternatives occupy bits [offsets(k), offsets(k)+nAlts_k),
    * first-listed lowest (so numberOfTrailingZeros = preferred branch). */
  def bitOffsets(stages: Seq[PStage]): IndexedSeq[Int] =
    stages.scanLeft(0)(_ + _.alts.size).init.toIndexedSeq

  /** Bitmask column for the generic matcher / TTL twin: bit
    * offsets(k)+i set ⇔ the row satisfies stage k's alternative i. One
    * codegen'd projection qualifies every row for every (stage, alt). */
  def specMask(stages: Seq[PStage]): Column = {
    validate(stages)
    val offs = bitOffsets(stages)
    stages.zipWithIndex.flatMap { case (st, k) =>
      st.alts.zipWithIndex.map { case ((_, pred), i) =>
        when(pred, lit(1 << (offs(k) + i))).otherwise(lit(0))
      }
    }.reduce(_ bitwiseOR _)
  }

  // ------------------------------------------------ declarative compiler

  /** A `+` run whose MEASURES await the next consumed anchor: stage
    * index (1-based), the run predicate, and the column holding the
    * reading frame's open lower bound. */
  private final case class Pending(k: Int, pred: Column, loCol: String)

  /** Compile the stage sequence to the declarative banded-rounds plan.
    * Output: the canonical schema (object doc), ordered by
    * (user_id, s1_ts). Exact under SKIP TO NEXT ROW: one row per
    * distinct qualifying (user_id, t1). */
  def compile(events: DataFrame, stages: Seq[PStage],
      withinUs: Long): DataFrame = {
    validate(stages)
    val ev = events.filter(col("ts").isNotNull)

    // branch-priority column: first-listed satisfied alternative wins.
    // The row filter is the explicit OR (it pushes to the parquet scan
    // as Or(And(...),...)); bi is then provably non-null — a CASE-based
    // IsNotNull filter would evaluate post-scan and push nothing.
    def biCol(st: PStage): Column =
      st.alts.zipWithIndex.foldRight(lit(null).cast("int")) {
        case (((_, pred), i), rest) => when(pred, lit(i)).otherwise(rest)
      }
    def cand(st: PStage, withBi: Boolean): DataFrame = {
      val base = ev.filter(st.orPred)
      val cols = Seq(col("user_id").as("c_user"),
        unix_micros(col("ts")).as("c_ts"),
        floor(unix_micros(col("ts")) / withinUs).as("c_bkt")) ++
        (if (withBi) Seq(biCol(st).as("c_bi")) else Nil)
      base.select(cols: _*)
    }
    def runCand(pred: Column): DataFrame = ev.filter(pred)
      .select(col("user_id").as("c_user"), unix_micros(col("ts")).as("c_ts"),
        floor(unix_micros(col("ts")) / withinUs).as("c_bkt"),
        col("value").as("c_value"))
    // every anchor lives in (t1, t1+W], so two t1-based bands cover
    // every round's candidate window — candidates key on one
    // (user, ⌊ts/W⌋) band, probes explode exactly two
    def withBands(df: DataFrame): DataFrame = df.withColumn("bkt",
      explode(array(floor(col("s1_ts") / withinUs),
        floor(col("s1_ts") / withinUs) + 1)))

    val lastIdx = stages.size

    /** Resolve stage k's anchor (one banded round), then flush any
      * pending run MEASURES against it (a second banded round). */
    def anchor(cur: DataFrame, acc: List[String], cursor: String,
        pending: Option[Pending], st: PStage,
        k: Int): (DataFrame, List[String]) = {
      val alt = st.alts.size > 1
      val joined = withBands(cur).join(cand(st, alt),
        col("user_id") === col("c_user") && col("bkt") === col("c_bkt") &&
          col("c_ts") > col(cursor) &&
          col("c_ts") <= col("s1_ts") + withinUs)
      val keys = ("user_id" :: acc).map(col)
      val tsC = s"s${k}_ts"
      val anchored =
        if (alt) {
          // earliest instant, then first-listed branch — one struct min
          joined.groupBy(keys: _*)
            .agg(min(struct(col("c_ts"), col("c_bi"))).as("m"))
            .select(keys ++ Seq(col("m.c_ts").as(tsC),
              col("m.c_bi").as(s"s${k}_bi")): _*)
        } else joined.groupBy(keys: _*).agg(min(col("c_ts")).as(tsC))
      val acc1 = acc ::: (tsC :: (if (alt) List(s"s${k}_bi") else Nil))
      pending match {
        case None => (anchored, acc1)
        case Some(p) =>
          // run reading frame: the OPEN interval (prev consumed anchor,
          // this anchor). Non-empty by construction — r1 lies inside —
          // so the inner join loses no match row and count ≥ 1.
          val keys1 = ("user_id" :: acc1).map(col)
          val flushed = withBands(anchored).join(runCand(p.pred),
              col("user_id") === col("c_user") &&
                col("bkt") === col("c_bkt") &&
                col("c_ts") > col(p.loCol) && col("c_ts") < col(tsC))
            .groupBy(keys1: _*)
            .agg(count(lit(1)).as(s"s${p.k}_count"),
              (round(sum(col("c_value").cast(dec)).cast("double"), 6) + 0.0)
                .as(s"s${p.k}_sum"),
              max(col("c_ts")).as(s"s${p.k}_last"))
          (flushed,
            acc1 ::: List(s"s${p.k}_count", s"s${p.k}_sum", s"s${p.k}_last"))
      }
    }

    /** The canonical column list a (sub)sequence of stages contributes. */
    def colsOf(sub: List[(PStage, Int)]): List[String] = sub.flatMap {
      case (st, k) =>
        List(s"s${k}_ts") :::
          (if (st.alts.size > 1) List(s"s${k}_bi") else Nil) :::
          (st.quant match {
            case QOpt => List(s"s${k}_taken")
            case QPlus | QStar =>
              List(s"s${k}_count", s"s${k}_sum", s"s${k}_last")
            case QOne => Nil
          })
    }

    /** Greedy-arm merge for `?`/`*`: the skip arm is the anchor
      * universe; the taken arm left-joins onto it on the shared prefix;
      * per downstream column the TAKEN arm's value wins row-wise when it
      * matched (a plain coalesce would leak a skip-arm value into a
      * taken match through a legitimately-NULL downstream column). */
    def merge(w: DataFrame, z: DataFrame, acc: List[String], st: PStage,
        k: Int, tail: List[(PStage, Int)],
        pending: Option[Pending]): DataFrame = {
      val pre = "user_id" :: acc
      val wR = w.columns.foldLeft(w)((d, c) =>
        if (pre.contains(c)) d else d.withColumnRenamed(c, c + "__w"))
      val j = z.join(wR, pre, "left")
      val matched = col(s"s${lastIdx}_ts__w").isNotNull
      val alt = st.alts.size > 1
      val stageCols: List[Column] =
        (col(s"s${k}_ts__w").as(s"s${k}_ts") ::
          (if (alt) List(col(s"s${k}_bi__w").as(s"s${k}_bi")) else Nil)) :::
          (st.quant match {
            case QOpt =>
              List(when(matched, 1).otherwise(0).cast("int")
                .as(s"s${k}_taken"))
            case QStar =>
              List(coalesce(col(s"s${k}_count__w"), lit(0L))
                .as(s"s${k}_count"),
                (coalesce(col(s"s${k}_sum__w"), lit(0.0)) + 0.0)
                  .as(s"s${k}_sum"),
                col(s"s${k}_last__w").as(s"s${k}_last"))
            case _ => Nil
          })
      // a pending run that crossed into the split flushed INSIDE each
      // arm (at that arm's first anchor) — its columns exist in both and
      // merge row-wise like any downstream column
      val pendCols = pending.toList.flatMap(p =>
        List(s"s${p.k}_count", s"s${p.k}_sum", s"s${p.k}_last"))
      val downCols = (pendCols ::: colsOf(tail)).map(c =>
        when(matched, col(c + "__w")).otherwise(col(c)).as(c))
      j.select(pre.map(col) ::: stageCols ::: downCols: _*)
    }

    def go(cur: DataFrame, acc: List[String], cursor: String,
        pending: Option[Pending],
        rest: List[(PStage, Int)]): DataFrame = rest match {
      case Nil => cur
      case (st, k) :: tail => st.quant match {
        case QOne =>
          val (c1, a1) = anchor(cur, acc, cursor, pending, st, k)
          go(c1, a1, s"s${k}_ts", None, tail)
        case QPlus =>
          val (c1, a1) = anchor(cur, acc, cursor, pending, st, k)
          go(c1, a1, s"s${k}_ts", Some(Pending(k, st.orPred, cursor)), tail)
        case QOpt | QStar =>
          val taken = st.copy(quant = if (st.quant == QOpt) QOne else QPlus)
          val w = go(cur, acc, cursor, pending, (taken, k) :: tail)
          val z = go(cur, acc, cursor, pending, tail)
          merge(w, z, acc, st, k, tail, pending)
      }
    }

    // stage 1: every distinct qualifying (user, ts) anchors a match
    val head = stages.head
    val base0 = ev.filter(head.orPred)
    val a =
      if (head.alts.size > 1)
        base0.select(col("user_id"), unix_micros(col("ts")).as("s1_ts"),
            biCol(head).as("bi"))
          .groupBy(col("user_id"), col("s1_ts"))
          .agg(min(col("bi")).as("s1_bi"))
      else
        base0.select(col("user_id"), unix_micros(col("ts")).as("s1_ts"))
          .distinct()
    val acc0 = "s1_ts" :: (if (head.alts.size > 1) List("s1_bi") else Nil)
    val raw = go(a, acc0, "s1_ts", None,
      stages.zipWithIndex.map { case (s, i) => (s, i + 1) }.toList.drop(1))

    // final projection: bi → via (branch NAME provenance), canonical order
    val outCols: List[Column] = col("user_id") ::
      stages.zipWithIndex.toList.flatMap { case (st, i) =>
        val k = i + 1
        val via = if (st.alts.size > 1) {
          val names = st.alts.map(_._1)
          List(names.zipWithIndex.foldRight(lit(null).cast("string")) {
            case ((nm, bi), rest) =>
              when(col(s"s${k}_bi") === bi, lit(nm)).otherwise(rest)
          }.as(s"s${k}_via"))
        } else Nil
        (col(s"s${k}_ts") :: via) ::: (st.quant match {
          case QOpt => List(col(s"s${k}_taken"))
          case QPlus | QStar => List(col(s"s${k}_count"),
            col(s"s${k}_sum"), col(s"s${k}_last"))
          case QOne => Nil
        })
      }
    raw.select(outCols: _*).orderBy(col("user_id"), col("s1_ts"))
  }

  // --------------------------------------------- generic greedy matcher

  /** Per-stage result inside one greedy match: `anchor`/`last` use
    * Long.MinValue as the absent sentinel (skipped `?`/`*` stage, empty
    * `*` run); `bi` is the branch index (0 for singletons). */
  final case class GStageRes(anchor: Long, bi: Int, count: Long,
      sum: Double, last: Long)

  /** ONE pure greedy matcher (`AFTER MATCH SKIP PAST LAST ROW`) for any
    * compiled stage sequence, over one key's (ts_us, mask, value) rows
    * sorted ascending — mask from [[specMask]]. Equality with the five
    * hand-written per-shape matchers it generalizes is spec-pinned
    * (PatternCompilerSpec): anchors are tried in row order; each stage
    * anchors earliest-after-cursor with first-listed branch preference
    * at the winning instant; `?`/`*` backtrack at whole-completion
    * granularity (taken arm preferred); runs aggregate over the open
    * reading frame with the DECIMAL(30,15) sum discipline; consumption
    * skips past the final anchor at the instant grain, resuming from the
    * anchor's successor (never from the scan cursor — the r18
    * zero-B-fallback lesson). */
  def genericMatches(evs: IndexedSeq[(Long, Int, Double)],
      stages: Seq[PStage], withinUs: Long): List[IndexedSeq[GStageRes]] =
    genericMatchesShape(evs, shapesOf(stages), withinUs)

  /** The shape-driven core of [[genericMatches]] — serializable inputs
    * only, safe to call inside executor closures. */
  def genericMatchesShape(evs: IndexedSeq[(Long, Int, Double)],
      specs: IndexedSeq[PShape],
      withinUs: Long): List[IndexedSeq[GStageRes]] = {
    val n = specs.size
    val offs = specs.scanLeft(0)(_ + _.nAlts).init.toIndexedSeq
    val bits = specs.zipWithIndex.map { case (st, k) =>
      ((1 << st.nAlts) - 1) << offs(k)
    }
    val out = List.newBuilder[IndexedSeq[GStageRes]]
    var from = 0
    while (from < evs.length) {
      var found = false
      var i = from
      while (!found && i < evs.length) {
        if ((evs(i)._2 & bits(0)) != 0) {
          val t1 = evs(i)._1
          val lim = t1 + withinUs
          val anchorTs = Array.fill(n)(Long.MinValue)
          val anchorBi = Array.fill(n)(Int.MaxValue)
          anchorTs(0) = t1
          anchorBi(0) = Integer.numberOfTrailingZeros(
            (evs(i)._2 & bits(0)) >>> offs(0))
          // earliest row with stage-k bits strictly after `cursor`,
          // with the lowest branch among rows at the winning instant
          def earliest(k: Int, cursor: Long): (Long, Int) = {
            var ts = Long.MinValue
            var bi = Int.MaxValue
            var j = i + 1
            while (j < evs.length && evs(j)._1 <= lim &&
                (ts == Long.MinValue || evs(j)._1 <= ts)) {
              val (t, m, _) = evs(j)
              if (t > cursor && (m & bits(k)) != 0) {
                if (ts == Long.MinValue) { ts = t }
                if (t == ts) bi = math.min(bi,
                  Integer.numberOfTrailingZeros((m & bits(k)) >>> offs(k)))
              }
              j += 1
            }
            (ts, bi)
          }
          def tryFrom(k: Int, cursor: Long): Boolean = {
            if (k == n) return true
            specs(k).quant match {
              case QOne | QPlus =>
                val (ts, bi) = earliest(k, cursor)
                if (ts == Long.MinValue) false
                else {
                  anchorTs(k) = ts; anchorBi(k) = bi
                  if (tryFrom(k + 1, ts)) true
                  else { anchorTs(k) = Long.MinValue; false }
                }
              case QOpt | QStar =>
                val (ts, bi) = earliest(k, cursor)
                if (ts != Long.MinValue) {
                  anchorTs(k) = ts; anchorBi(k) = bi
                  if (tryFrom(k + 1, ts)) return true
                  anchorTs(k) = Long.MinValue; anchorBi(k) = Int.MaxValue
                }
                tryFrom(k + 1, cursor)
            }
          }
          if (tryFrom(1, t1)) {
            found = true
            // runs: open reading frame (prev consumed anchor, next
            // consumed anchor); both exist for a taken run stage
            val res = new Array[GStageRes](n)
            var k = 0
            while (k < n) {
              val st = specs(k)
              val isRun = (st.quant == QPlus || st.quant == QStar) &&
                anchorTs(k) != Long.MinValue
              if (isRun) {
                var p = k - 1
                while (anchorTs(p) == Long.MinValue) p -= 1
                var q = k + 1
                while (anchorTs(q) == Long.MinValue) q += 1
                val lo = anchorTs(p)
                val hi = anchorTs(q)
                var cnt = 0L
                var s = BigDecimal(0)
                var last = Long.MinValue
                var r = i + 1
                while (r < evs.length && evs(r)._1 < hi) {
                  val e = evs(r)
                  if (e._1 > lo && (e._2 & bits(k)) != 0) {
                    cnt += 1
                    s += BigDecimal(e._3)
                      .setScale(15, BigDecimal.RoundingMode.HALF_UP)
                    last = e._1
                  }
                  r += 1
                }
                res(k) = GStageRes(anchorTs(k), anchorBi(k), cnt,
                  BigDecimal(s.toDouble)
                    .setScale(6, BigDecimal.RoundingMode.HALF_UP)
                    .toDouble + 0.0, last)
              } else if (st.quant == QStar && anchorTs(k) == Long.MinValue) {
                res(k) = GStageRes(Long.MinValue, Int.MaxValue, 0L, 0.0,
                  Long.MinValue)
              } else {
                res(k) = GStageRes(anchorTs(k), anchorBi(k), 0L, 0.0,
                  Long.MinValue)
              }
              k += 1
            }
            out += res.toIndexedSeq
            // SKIP PAST LAST ROW at the instant grain, from the anchor's
            // successor — the arm search scans past the final anchor, so
            // resuming from its cursor would swallow anchors in
            // (t_last, t1+W] (the r18 skip bug, fixed at the matcher)
            val lastTs = anchorTs(n - 1)
            from = i + 1
            while (from < evs.length && evs(from)._1 <= lastTs) from += 1
          }
        }
        i += 1
      }
      if (!found) from = evs.length
    }
    out.result()
  }
}
