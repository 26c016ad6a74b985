package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.JsonNode
import graft.GraftSession
import graft.engine.RestGateway
import org.apache.spark.sql.SparkSession

/** One run of one workload. Reads the plan `run.py` generated from the
  * seed, sets up, warms, measures for `--seconds`, and writes every raw
  * metric and check outcome to `<out>/result.json`.
  *
  * Usage: perfbench.Main --workload W --seconds S --trace 0|1 --plan P
  *        --out DIR --cpus N
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val ctx = new Ctx(opts)
    val code = try {
      val r = ctx.workload match {
        case "notebook" => Notebook.run(ctx)
        case "battery" => Battery.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload: $other")
      }
      ctx.writeResult(r)
      0
    } catch {
      case t: Throwable =>
        t.printStackTrace()
        1
    } finally ctx.tearDown()
    System.exit(code)
  }
}

/** What a workload measured: end-to-end metrics, per-layer metrics and
  * anything else worth printing. */
final case class Measured(e2e: Map[String, Double], layers: Map[String, Double],
    info: Map[String, Any])

final case class Window(elapsedS: Double, gcMs: Long, heapPeakMb: Double)

final class Ctx(opts: Map[String, String]) {
  val workload: String = opts("workload")
  val seconds: Double = opts("seconds").toDouble
  val trace: Boolean = opts("trace") == "1"
  val out: String = opts("out")
  val cpus: Int = opts("cpus").toInt
  val plan: JsonNode = Json.mapper.readTree(new File(opts("plan")))
  val pollMs: Long = plan.get("poll_ms").asLong
  val setupReps: Int = plan.get("setup_reps").asInt

  var spark: SparkSession = _
  var gateway: RestGateway = _
  val sparkProbe = new SparkProbe
  val planProbe = new PlanProbe
  val attempted = new AtomicLong(0)
  private val failures = new ConcurrentLinkedQueue[String]()

  /** Counts one checked operation; false and a recorded failure when the
    * condition does not hold. */
  def check(cond: Boolean, what: => String): Boolean = {
    attempted.incrementAndGet()
    if (!cond) failures.add(what)
    cond
  }

  def tearDown(): Unit = {
    if (gateway != null) { gateway.stop(); gateway = null }
    if (spark != null) { spark.stop(); spark = null }
  }

  /** Sets up `setupReps` times, each time from a stopped session: a fresh
    * SparkSession, the REST gateway when the workload uses it, and the
    * `probe` call. Returns each set-up's seconds. */
  def setUp(withGateway: Boolean)(probe: => Unit): Seq[Double] =
    (1 to setupReps).map { _ =>
      tearDown()
      val t0 = System.nanoTime()
      spark = GraftSession.local(cpus.toString)
      if (withGateway) { gateway = new RestGateway(spark); gateway.start() }
      probe
      (System.nanoTime() - t0) / 1e9
    }

  /** Registers the benchmark's own listeners (traced runs only). */
  def attachProbes(): Unit = if (trace) {
    Trace.on = true
    spark.sparkContext.addSparkListener(sparkProbe)
    spark.listenerManager.register(planProbe)
  }

  /** Runs `body(deadlineNs)` as the measured window. */
  def window(body: Long => Unit): Window = {
    sparkProbe.active = trace
    planProbe.active = trace
    Trace.spans.clear() // spans of the set-up and warm pass are not measured
    val gc0 = Jvm.gcMs
    val sampler = new Jvm.PeakSampler
    sampler.start()
    val t0 = System.nanoTime()
    body(t0 + (seconds * 1e9).toLong)
    val elapsed = (System.nanoTime() - t0) / 1e9
    Thread.sleep(300) // let the listener bus deliver the window's last events
    sparkProbe.active = false
    planProbe.active = false
    Window(elapsed, Jvm.gcMs - gc0, sampler.finish())
  }

  def provenance: Map[String, Any] = Map(
    "workload" -> workload,
    "seed" -> plan.get("seed").asLong,
    "nproc" -> Runtime.getRuntime.availableProcessors(),
    "master" -> s"local[$cpus]",
    "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
    "jdk" -> System.getProperty("java.version"),
    "spark" -> org.apache.spark.SPARK_VERSION,
    "scala" -> scala.util.Properties.versionNumberString,
    "poll_ms" -> pollMs,
    "trace" -> trace)

  /** Layer metrics every workload reports, as the plan names them; the
    * workload overrides the ones it exercises and the rest read 0 (the
    * layer did no work). */
  def layerDefaults: Map[String, Double] =
    plan.get("per_layer").elements().asScala.map(_.asText -> 0.0).toMap

  /** Spark scheduler/executor, Catalyst and JVM layer metrics for a window
    * with `stmts` statements whose driver gaps are `gapsMs`. */
  def commonLayers(w: Window, stmts: Int, gapsMs: Seq[Double]): Map[String, Double] = {
    val t = sparkProbe.total
    val n = math.max(stmts, 1).toDouble
    def mb(b: Long) = b / 1048576.0 / n
    val (an, op, pl) = planProbe.means
    Map(
      "spark.jobs" -> t.jobs / n, "spark.tasks" -> t.tasks / n,
      "spark.tasks_failed" -> t.failed.toDouble,
      "spark.driver_gap_ms" -> Stats.mean(gapsMs),
      "spark.exec_run_ms" -> t.runMs / n, "spark.input_mb" -> mb(t.inBytes),
      "spark.shuffle_read_mb" -> mb(t.shReadBytes),
      "spark.shuffle_write_mb" -> mb(t.shWriteBytes), "spark.spill_mb" -> mb(t.spillBytes),
      "plan.analysis_ms" -> an, "plan.optimization_ms" -> op, "plan.planning_ms" -> pl,
      "jvm.gc_ms" -> w.gcMs.toDouble, "jvm.heap_peak_mb" -> w.heapPeakMb)
  }

  def writeResult(m: Measured): Unit = {
    val failList = failures.asScala.toSeq
    val o = Json.obj(
      "attempted" -> attempted.get, "failed" -> failList.size,
      "failures" -> failList.take(20).asJava,
      "e2e" -> m.e2e.asJava, "layers" -> m.layers.asJava,
      "info" -> (m.info ++ provenance).map { case (k, v) => k -> v }.asJava)
    Files.write(Paths.get(out, "result.json"), Json.mapper.writeValueAsBytes(o))
    if (Trace.on) {
      val lines = Trace.spans.asScala.map(s => Json.mapper.writeValueAsString(Json.obj(
        "id" -> s.id, "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "parent" -> s.parent, "stmt" -> s.stmt)))
      Files.write(Paths.get(out, "spans.jsonl"), lines.asJava)
    }
  }
}
