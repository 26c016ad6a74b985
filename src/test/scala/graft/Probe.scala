package graft

import graft.engine.{BatchJob, JobRegistry}
import graft.operators.{DedupOps, SimilarityOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The probe kit, one parameterized entry point for measuring the engine
  * by hand — grown out of the ad-hoc AnnProbe/IvfProbe/IvfProbe2/PqProbe/
  * PqProbe10x one-offs that bisected the r11/r12 scale cliffs (the
  * triple-evaluated IVF cell assignment, the 114 s array-laden ANN verify,
  * the PQ resolution saturation) and the TimeQuery/PlanAudit/ProfileQuery/
  * CcProbe mains. Run against a testdata SF dir or a ScaleSmoke-derived
  * corpus (`/tmp/graft_scale_{x,p}N`). Not part of any gate.
  *
  * Modes (`Test/runMain graft.Probe <mode> [args]`):
  *  - `time <sfDir> <q,…>` — per query: warm once, then the min of 3 runs.
  *  - `plan <sfDir> [q …]` — `explain("formatted")` of the named driver
  *    queries (all of them when none are named).
  *  - `profile <sfDir> <q> [reps]` — after a warm pass, one cold-cache run
  *    per rep and every Spark job it launched, read from a [[JobRegistry]]:
  *    the DRIVER GAP since the previous job ended (planning, collects,
  *    eigensolves, literal construction all hide there), duration, stages,
  *    tasks, input / shuffle bytes and summed executor run time, then the
  *    jobs grouped by description. At bench scale most operators are
  *    overhead-bound; this table says whether a second goes to executors
  *    or to the driver.
  *  - `cc [n] [cap]` — connectedComponents on an n-node shuffled-id chain
  *    (default 20000) with driverEdgeCap `cap` (default 0: every round
  *    distributed): wall, correctness and jobs per contraction round.
  *  - `ann <dir> [budget]` — stage-isolated timing of dd_semdedup_ann:
  *    contraction, candidate generation, distinct, and the verify
  *    strategies, every stage the operator's own `private[graft]` helper
  *    (finiteNormGuard / annBitsFor / annRawCandidates /
  *    verifyCandidates{Join,Blocked}) so the probe cannot drift from the
  *    configuration the operator actually runs. Optional `budget`
  *    overrides the bits rule's candidate budget (operator default 512)
  *    to measure the budget/recall trade without patching the operator.
  *  - `ivf <dir>` — phase-level timing of the IVF recall certification
  *    (derive+persist, cell assignment alone — twice, to expose
  *    re-evaluation — full probe path, and the join+score bisection that
  *    caught the triple-evaluated argmin).
  *  - `pq [dir ...]` — full PQ recall report (floor > 1 disables the
  *    violation filter) on the given dirs, default the three testdata
  *    SFs; the measurement behind sim_pq_recall's design notes and the
  *    r13 auto-overfetch rule.
  *  - `mm <dir> [width] [capForced]` — mm_dedup_groups driver union-find
  *    vs forced-distributed CC on the same corpus (the r14 rung).
  *  - `annop <dir>` — phase-level wall of the FULL dd_semdedup_ann
  *    (contraction / candidates+verify / CC / expansion), plus the
  *    shipped operator end-to-end with a row-count drift assert.
  *  - `trio <dir>` — the banded ordered trio (below).
  *
  * `ann ... both` times the two-join verify even past the crossover —
  * the honest way to measure WHERE the curves cross. */
object Probe {
  def main(args: Array[String]): Unit = args.headOption match {
    case Some("time") => time(args.drop(1))
    case Some("plan") => plan(args.drop(1))
    case Some("profile") => profile(args.drop(1))
    case Some("cc") => cc(args.drop(1))
    case Some("ann") => ann(args.drop(1))
    case Some("ivf") => ivf(args.drop(1))
    case Some("pq")  => pq(args.drop(1))
    case Some("mm")  => mm(args.drop(1))
    case Some("annop") => annop(args.drop(1))
    case Some("trio") => trio(args.drop(1))
    case other => sys.error(
      s"usage: Probe <time|plan|profile|cc|ann|ivf|pq|mm|annop|trio> [args] — got $other")
  }

  // fail fast on a typo'd name BEFORE paying session startup
  private def query(name: String): (SparkSession, String) => DataFrame =
    SparkEntry.queries.getOrElse(name, sys.error(s"unknown query name: $name — valid: " +
      SparkEntry.queries.keys.toSeq.sorted.mkString(", ")))

  private def time(args: Seq[String]): Unit = {
    val (dir, fns) = (args(0), args(1).split(",").toSeq.map(n => n -> query(n)))
    val spark = GraftSession.local()
    fns.foreach { case (name, fn) =>
      spark.catalog.clearCache()
      fn(spark, dir).count() // warm
      val times = (1 to 3).map { _ =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        fn(spark, dir).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[time] $name min=${times.min}%.3f samples=${times.map(t => f"$t%.3f").mkString(",")}")
    }
    spark.stop()
  }

  private def plan(args: Seq[String]): Unit = {
    val dir = args(0)
    val names = if (args.length > 1) args.drop(1) else SparkEntry.queries.keys.toSeq.sorted
    names.foreach(query)
    val spark = GraftSession.local()
    names.foreach { n =>
      spark.catalog.clearCache()
      println(s"\n========== $n ==========")
      query(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }

  private def profile(args: Seq[String]): Unit = {
    val (dir, name, fn) = (args(0), args(1), query(args(1)))
    val reps = args.lift(2).fold(1)(_.toInt)
    val spark = GraftSession.local()
    val registry = new JobRegistry(spark)
    fn(spark, dir).count() // warm: codegen + page cache, the Bench discipline
    for (_ <- 1 to reps) {
      spark.catalog.clearCache()
      val t0 = System.currentTimeMillis()
      fn(spark, dir).count()
      val wall = System.currentTimeMillis() - t0
      val jobs = jobsSince(spark, registry, t0)
      def mb(b: Long): String = f"${b / 1048576.0}%8.2f"
      println(f"\n[profile] $name wall=${wall / 1000.0}%.3f s, jobs: ${jobs.size}")
      println("  job   gap_ms   dur_ms  stg tasks  input_MB shRead_MB shWrite_MB exec_ms  desc")
      var prevEnd = t0
      var (sumGap, sumDur) = (0L, 0L)
      jobs.foreach { j =>
        val gap = j.startMs - prevEnd
        val end = math.max(j.endMs, j.startMs)
        prevEnd = math.max(prevEnd, end)
        sumGap += math.max(0, gap); sumDur += end - j.startMs
        println(f"  ${j.id}%4d $gap%8d ${end - j.startMs}%8d ${j.stages}%4d ${j.tasks}%5d " +
          f"${mb(j.inputBytes)} ${mb(j.shuffleReadBytes)}  ${mb(j.shuffleWriteBytes)} " +
          f"${j.executorRunMs}%7d  ${j.description.take(60)}")
      }
      println(f"[profile] $name wall=${wall}ms driver_gaps=${sumGap}ms job_time=${sumDur}ms")
      byDescription("profile", jobs)
    }
    registry.close()
    spark.stop()
  }

  private def cc(args: Seq[String]): Unit = {
    val n = args.headOption.fold(20000)(_.toInt)
    val cap = args.lift(1).fold(0)(_.toInt)
    val spark = GraftSession.local()
    import spark.implicits._
    // shuffled-id chain: the worst case for min-label propagation (each
    // round merges one basin layer)
    val perm = scala.util.Random.javaRandomToRandom(new java.util.Random(11))
      .shuffle((0L until n.toLong).toVector)
    val pairs = perm.sliding(2).map(p => (p(0), p(1))).toSeq.toDF("a", "b")
    val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
      .union(pairs.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint()
    val registry = new JobRegistry(spark)
    val t0 = System.currentTimeMillis()
    val labels = DedupOps.connectedComponents(edges, maxRounds = 50, driverEdgeCap = cap)
    val correct = labels.filter(col("label") === 0L).count() == n.toLong
    val wall = (System.currentTimeMillis() - t0) / 1e3
    val jobs = jobsSince(spark, registry, t0)
    println(f"[cc] n=$n cap=$cap correct=$correct wall=$wall%.2f s jobs=${jobs.size}")
    byDescription("cc", jobs)
    registry.close()
    spark.stop()
  }

  /** The registry's jobs that started at or after `t0`, once the listener
    * bus has delivered every event posted so far. */
  private def jobsSince(spark: SparkSession, registry: JobRegistry,
      t0: Long): Seq[BatchJob] = {
    org.apache.spark.ListenerBusProbe.drain(spark.sparkContext)
    registry.jobs().filter(_.startMs >= t0).sortBy(_.startMs)
  }

  /** Job count and summed executor time per job description, in order of
    * first appearance. */
  private def byDescription(tag: String, jobs: Seq[BatchJob]): Unit =
    jobs.groupBy(_.description).toSeq.sortBy(_._2.head.startMs).foreach { case (d, js) =>
      println(f"[$tag] ${js.size}%4d jobs ${js.map(_.executorRunMs).sum}%7d exec_ms  $d")
    }

  /** `trio <dir>` — phase-isolated walls for the banded ordered trio
    * (r17): the unbanded single-window forms, the banded forms, and the
    * banded session's event-level fragment subtree alone (to separate
    * the frags cost from the union's double execution). */
  private def trio(args: Seq[String]): Unit = {
    val dirs = if (args.nonEmpty) args else Seq("/tmp/graft_scale_p30s")
    val spark = GraftSession.local()
    import graft.operators.{CurationOps, WindowQueries}
    dirs.foreach { dir =>
      println(s"[trio] corpus $dir events=" +
        Tables.load(spark, dir, "events").count())
      def run(label: String)(f: => org.apache.spark.sql.DataFrame): Unit = {
        spark.catalog.clearCache()
        timed("trio", s"$label @${dir.split('/').last}")(f.count())
      }
      run("session direct (islands)")(WindowQueries.qSessionDirect(spark, dir))
      run("session native")(WindowQueries.qSessionNative(spark, dir))
      run("session banded FULL")(WindowQueries.qSession(spark, dir))
      run("cadence direct")(CurationOps.evtCadenceDirect(spark, dir))
      run("cadence banded")(CurationOps.evtCadence(spark, dir))
      run("transitions direct")(CurationOps.evtTransitionsDirect(spark, dir))
      run("transitions banded")(CurationOps.evtTransitions(spark, dir))
    }
    spark.stop()
  }

  private def timed[T](tag: String, label: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[$tag] $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    r
  }

  private def ann(args: Seq[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_scale_p30")
    val budget = args.drop(1).find(_ != "both").map(_.toDouble)
      .getOrElse(graft.GraftTuning.AnnCandidateBudget)
    val spark = GraftSession.local()
    import graft.functions.{VectorFunctions => VF}

    val emb = Tables.load(spark, dir, "embeddings")
    println(s"[ann] corpus $dir n=${emb.count()}")
    val repOf = emb.filter(DedupOps.finiteNormGuard(col("embedding")))
      .groupBy(col("embedding")).agg(min(col("vec_id")).as("rep"))
    val nDistinct = timed("ann", "contraction count")(repOf.count())
    val bits = DedupOps.annBitsFor(nDistinct, budget)
    val tables = 8
    println(s"[ann] nDistinct=$nDistinct bits=$bits " +
      s"probes=${DedupOps.probeOrbit(bits)} budget=$budget")

    val base = repOf
      .select(col("rep").as("vec_id"), VF.asDouble(col("embedding")).as("ve"))
      .select(col("vec_id"), col("ve"), sqrt(VF.dot(col("ve"), col("ve"))).as("nrm"))
      .localCheckpoint()

    val candsRaw = DedupOps.annRawCandidates(base, bits, tables)
    val nRaw = timed("ann", "candidates (pre-distinct)")(candsRaw.count())
    val cands = candsRaw.distinct().localCheckpoint()
    val nCand = timed("ann", "distinct candidates")(cands.count())
    println(s"[ann] raw=$nRaw distinct=$nCand")

    // mirror the operator's adaptive switch: above the crossover the join
    // verify IS the measured 114 s cliff — time it only where the
    // operator would actually run it
    val nBcast = timed("ann", "exact verify (bcast join)")(
      DedupOps.verifyCandidatesJoin(base, cands, 0.4, hintBroadcast = true)
        .count())
    val nBlocked = timed("ann", "exact verify (blocked)")(
      DedupOps.verifyCandidatesBlocked(base, cands, 0.4).count())
    if (nBcast != nBlocked)
      println(s"[ann] ** STRATEGY DISAGREEMENT ** bcast=$nBcast blocked=$nBlocked")
    // `both` forces the join-form timing even past the crossover — the
    // r14 crossover measurement needs both curves on both sides of 4M
    if (args.contains("both") ||
        nCand <= graft.GraftTuning.VerifyJoinMaxCandidates) {
      val nJoin = timed("ann", "exact verify (two joins)")(
        DedupOps.verifyCandidatesJoin(base, cands, 0.4).count())
      println(s"[ann] verified pairs join=$nJoin blocked=$nBlocked" +
        (if (nJoin != nBlocked) "  ** STRATEGY DISAGREEMENT **" else ""))
    } else println(s"[ann] verified pairs blocked=$nBlocked")
    spark.stop()
  }

  /** Phase-level timing of the FULL dd_semdedup_ann operator (the `ann`
    * mode stops at verified pairs; this mirrors DedupOps.ddSemDedupAnn's
    * body phase for phase — contraction, rep mapping, candidate+verify,
    * edge build, CC, final expansion — to locate wall the stage probe
    * can't see). Mirrors, not reuses, the op body (it has no internal
    * seams); the final count is asserted equal to the shipped operator's
    * row count so the mirror cannot drift silently. */
  private def annop(args: Seq[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_scale_p30")
    val spark = GraftSession.local()
    import graft.functions.{VectorFunctions => VF}
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val emb = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .withColumn("__ok", DedupOps.finiteNormGuard(col("embedding")))
    val repOf = emb.filter(col("__ok"))
      .groupBy(col("embedding")).agg(min(col("vec_id")).as("rep"))
      .persist(lvl)
    val nDistinct = timed("annop", "contraction (groupBy emb)")(repOf.count())
    val vecToRep = timed("annop", "vecToRep (join on emb)")(
      emb.join(repOf, Seq("embedding"), "left")
        .select(col("vec_id"),
          coalesce(when(col("__ok"), col("rep")), col("vec_id")).as("rep"))
        .localCheckpoint())
    val bits = DedupOps.annBitsFor(nDistinct)
    val repBase = timed("annop", "repBase checkpoint")(repOf
      .select(col("rep").as("vec_id"), VF.asDouble(col("embedding")).as("ve"))
      .select(col("vec_id"), col("ve"),
        sqrt(VF.dot(col("ve"), col("ve"))).as("nrm"))
      .localCheckpoint())
    repOf.unpersist()
    val pairs = timed("annop", "candidates+verify")(
      DedupOps.annCandidatePairsFrom(repBase, threshold = 0.4,
          bits = bits, tables = 8)
        .select(col("id_a"), col("id_b")).localCheckpoint())
    println(s"[annop] nDistinct=$nDistinct bits=$bits pairs=${pairs.count()}")
    val edges = timed("annop", "edges checkpoint")(
      pairs.union(pairs.select(col("id_b"), col("id_a")))
        .toDF("src", "dst").localCheckpoint())
    val labels = timed("annop", "connected components")(
      DedupOps.connectedComponents(edges).localCheckpoint())
    val repLabel = repBase.select(col("vec_id").as("rep"))
      .join(labels.select(col("doc_id").as("rep"), col("label")),
        Seq("rep"), "left")
      .select(col("rep"), coalesce(col("label"), col("rep")).as("label"))
    val n = timed("annop", "final expansion join")(
      vecToRep.join(repLabel, Seq("rep"), "left")
        .select(col("vec_id"),
          coalesce(col("label"), col("rep")).as("group_rep"))
        .orderBy(col("vec_id")).localCheckpoint().count())
    val opN = timed("annop", "shipped operator, end-to-end")(
      DedupOps.ddSemDedupAnn(spark, dir).count())
    println(s"[annop] mirror rows=$n op rows=$opN" +
      (if (n != opN) "  ** MIRROR DRIFT **" else ""))
    spark.stop()
  }

  private def ivf(args: Seq[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_scale_x30")
    val spark = GraftSession.local()
    val e = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"),
        graft.functions.VectorFunctions.asDouble(col("embedding")).as("ve"))
      .withColumn("nrm", graft.functions.VectorFunctions.norm(col("ve")))
    val corpus = SimilarityOps.clusteredFrom(e)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    timed("ivf", "derive+persist")(corpus.count())
    // cell assignment alone, twice — a re-evaluation (the r11
    // triple-evaluated argmin) shows as pass 2 not being ~free
    val assigned = timed("ivf", "cell assign count")(
      SimilarityOps.annIvfCellAssign(corpus).count())
    println(s"[ivf] assigned=$assigned")
    timed("ivf", "cell assign again")(
      SimilarityOps.annIvfCellAssign(corpus).count())
    val truth = timed("ivf", "truth brute topk")(
      SimilarityOps.bruteTopKFrom(corpus, 5, 10)
        .select(col("query_id"), col("neighbor_id")).localCheckpoint())
    val approx = timed("ivf", "approx ivf probe")(
      SimilarityOps.annIvfFrom(corpus, 5, 10, cells = 32, nprobe = 8)
        .select(col("query_id"), col("neighbor_id")).localCheckpoint())
    println(s"[ivf] truth=${truth.count()} approx=${approx.count()}")
    // bisection: join+score without the top-k window/sort
    val assignedC = SimilarityOps.annIvfCellAssign(corpus)
    val queries = assignedC.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("ve").as("qv"),
        col("nrm").as("qnrm"), col("cell").as("probe_cell"))
    val scored = timed("ivf", "join+score only")(
      assignedC.join(broadcast(queries),
          col("cell") === col("probe_cell") &&
            col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          (graft.functions.VectorFunctions.dot(col("qv"), col("ve")) /
            (col("qnrm") * col("nrm"))).as("cos_raw"))
        .count())
    println(s"[ivf] scored rows = $scored")
    spark.stop()
  }

  /** mm_dedup_groups CC-strategy timing: the driver union-find vs the
    * forced-distributed pointer-jumping twin on the SAME corpus/width —
    * the one scale-critical code path that had no wall number (VERDICT
    * r13 #4). `mm <dir> [width] [capForced]`: runs the width-`width`
    * phash grouping once with the default driver cap and once with cap
    * `capForced` (default 0 ⇒ every run distributed), printing distinct
    * codes, wall, and output rows for each. */
  private def mm(args: Seq[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_scale_p30")
    val width = args.drop(1).headOption.map(_.toInt).getOrElse(32)
    val capForced = args.drop(2).headOption.map(_.toLong).getOrElse(0L)
    val spark = GraftSession.local()
    import graft.operators.MultimodalOps
    val n = Tables.load(spark, dir, "documents").count()
    println(s"[mm] corpus $dir docs=$n width=$width")
    val auto = timed("mm", s"auto cap=${graft.GraftTuning.MmDriverCodeCap}")(
      MultimodalOps.mmDedupGroupsWidth(spark, dir, width).count())
    val forced = timed("mm", s"forced-distributed cap=$capForced")(
      MultimodalOps.mmDedupGroupsWidth(spark, dir, width,
        driverCodeCap = capForced).count())
    println(s"[mm] rows auto=$auto forced=$forced" +
      (if (auto != forced) "  ** STRATEGY DISAGREEMENT **" else ""))
    spark.stop()
  }

  private def pq(args: Seq[String]): Unit = {
    val dirs = if (args.nonEmpty) args
      else Seq("sf0.001", "sf0.01", "sf0.1").map(sf => s"/root/testdata/$sf")
    val spark = GraftSession.local("8")
    dirs.foreach { dir =>
      val t0 = System.nanoTime()
      val rep = SimilarityOps.pqRecallCheck(spark, dir, floor = 1.01)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[pq] $dir recalls=${rep.toSeq.sortBy(_._1)} ($dt%.1f s)")
    }
    spark.stop()
  }
}
