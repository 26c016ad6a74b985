package perfbench

import java.lang.management.ManagementFactory
import java.net.{HttpURLConnection, URI}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

object Json {
  val mapper = new ObjectMapper()
  def obj(kv: (String, Any)*): ObjectNode = {
    val o = mapper.createObjectNode()
    kv.foreach { case (k, v) => o.set[JsonNode](k, mapper.valueToTree[JsonNode](v)) }
    o
  }
}

/** Blocking HTTP/1.1 client with keep-alive: the notebook client's side of
  * the wire. Returns status code, parsed body and body size. */
final class Http(base: String) {
  def call(method: String, path: String, body: JsonNode = null): (Int, JsonNode, Int) = {
    val c = new URI(base + path).toURL.openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod(method)
    c.setConnectTimeout(10000)
    c.setReadTimeout(60000)
    if (body != null) {
      c.setDoOutput(true)
      c.setRequestProperty("Content-Type", "application/json")
      val os = c.getOutputStream
      try os.write(Json.mapper.writeValueAsBytes(body)) finally os.close()
    }
    val code = c.getResponseCode
    val in = if (code >= 400) c.getErrorStream else c.getInputStream
    val bytes = if (in == null) Array.emptyByteArray else try in.readAllBytes() finally in.close()
    val js = if (bytes.isEmpty) Json.mapper.createObjectNode() else Json.mapper.readTree(bytes)
    (code, js, bytes.length)
  }
  def get(path: String): (Int, JsonNode, Int) = call("GET", path)
  def post(path: String, body: JsonNode): (Int, JsonNode, Int) = call("POST", path, body)
  def delete(path: String): (Int, JsonNode, Int) = call("DELETE", path)
}

/** Spans recorded around each call the benchmark makes into a layer. Off
  * unless the run is traced; kept in memory and written out at the end. */
object Trace {
  final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
      parent: Long, stmt: String) {
    def ms: Double = (endNs - startNs) / 1e6
  }
  @volatile var on = false
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()

  def newId(): Long = ids.incrementAndGet()
  def record(id: Long, name: String, startNs: Long, endNs: Long,
      parent: Long = 0, stmt: String = ""): Unit =
    if (on) spans.add(Span(id, name, startNs, endNs, parent, stmt))
  def span[T](name: String, parent: Long = 0, stmt: String = "")(body: => T): T =
    if (!on) body
    else {
      val t0 = System.nanoTime()
      try body finally record(newId(), name, t0, System.nanoTime(), parent, stmt)
    }
  def named(name: String): Seq[Span] = spans.asScala.filter(_.name == name).toSeq
  def meanMs(name: String): Double = Stats.mean(named(name).map(_.ms))
}

object Stats {
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** The tail percentile the sample supports: p99, or the highest
    * percentile with at least ten samples beyond it (never below p50). */
  def tailQ(n: Int): Double = math.max(0.5, math.min(0.99, 1.0 - 10.0 / math.max(n, 1)))
  def tail(xs: Seq[Double]): Double = quantile(xs, tailQ(xs.size))
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)
  /** Length of the union of [s, e) intervals clipped to [lo, hi). */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = lo
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
      .foreach { case (s, e) =>
        if (e > end) { total += e - math.max(s, end); end = e }
      }
    total
  }
}

/** The closed loop of one client: whole passes of its script, starting
  * another only while the previous pass's duration still fits before the
  * deadline (the first pass always runs), so a run holds whole passes and
  * ends close to the deadline. Returns the client's busy seconds. */
object Closed {
  def loop(deadline: Long)(pass: Int => Unit): Double = {
    val t0 = System.nanoTime()
    var p = 0
    var last = 0L
    while (p == 0 || System.nanoTime() + last <= deadline) {
      val s = System.nanoTime()
      pass(p)
      last = System.nanoTime() - s
      p += 1
    }
    (System.nanoTime() - t0) / 1e9
  }
}

/** Heap and GC readings from the JVM's management beans. */
object Jvm {
  private val mem = ManagementFactory.getMemoryMXBean
  def heapUsedMb: Double = mem.getHeapMemoryUsage.getUsed / 1048576.0
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  def heapAfterGcMb: Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    heapUsedMb
  }
  /** Samples used heap every 20 ms until stopped; keeps the highest. */
  final class PeakSampler extends Thread("perfbench-heap") {
    setDaemon(true)
    @volatile private var running = true
    @volatile var peakMb = 0.0
    override def run(): Unit = while (running) {
      peakMb = math.max(peakMb, heapUsedMb); Thread.sleep(20)
    }
    def finish(): Double = { running = false; join(); peakMb }
  }
}

/** The benchmark's own SparkListener: jobs, tasks, executor time, bytes,
  * and each job's interval, attributed to the statement that caused it by
  * job group (the operation id, or a streaming query's run id) or, for the
  * in-process battery, by the row running at the time. Counts only while
  * `active`. */
final class SparkProbe extends SparkListener {
  final class Agg {
    var jobs, tasks, failed, runMs, inBytes, shReadBytes, shWriteBytes, spillBytes = 0L
  }
  @volatile var active = false
  @volatile var currentKey = ""
  val total = new Agg
  private val stageKey = new ConcurrentHashMap[Int, String]()
  private val jobKey = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  val intervals = new ConcurrentHashMap[String, ConcurrentLinkedQueue[(Long, Long)]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = if (active) {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.nonEmpty).getOrElse(currentKey)
    jobKey.put(e.jobId, group)
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(s => stageKey.put(s, group))
    total.synchronized { total.jobs += 1 }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val key = jobKey.remove(e.jobId)
    val start = jobStart.remove(e.jobId)
    if (key != null)
      intervals.computeIfAbsent(key, _ => new ConcurrentLinkedQueue[(Long, Long)]())
        .add((start, e.time))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (stageKey.containsKey(e.stageId)) total.synchronized {
      total.tasks += 1
      if (e.taskInfo != null && e.taskInfo.failed) total.failed += 1
      val m = e.taskMetrics
      if (m != null) {
        total.runMs += m.executorRunTime
        total.inBytes += m.inputMetrics.bytesRead
        total.shReadBytes += m.shuffleReadMetrics.totalBytesRead
        total.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
        total.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  /** Driver gap of one statement: its wall minus the time covered by its
    * own jobs. Times are epoch milliseconds. */
  def gapMs(keys: Seq[String], startMs: Long, endMs: Long): Long = {
    val iv = keys.flatMap(k => Option(intervals.get(k)).map(_.asScala.toSeq).getOrElse(Nil))
    (endMs - startMs) - Stats.covered(iv, startMs, endMs)
  }
}

/** The benchmark's own QueryExecutionListener: Catalyst phase times from
  * each execution's `QueryExecution.tracker`. */
final class PlanProbe extends QueryExecutionListener {
  @volatile var active = false
  private val phases = new ConcurrentLinkedQueue[(Double, Double, Double)]()
  private def note(qe: QueryExecution): Unit = if (active) {
    val p = qe.tracker.phases
    def ms(name: String): Double = p.get(name).map(_.durationMs.toDouble).getOrElse(0.0)
    phases.add((ms("analysis"), ms("optimization"), ms("planning")))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = note(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = note(qe)
  def means: (Double, Double, Double) = {
    val xs = phases.asScala.toSeq
    (Stats.mean(xs.map(_._1)), Stats.mean(xs.map(_._2)), Stats.mean(xs.map(_._3)))
  }
}
