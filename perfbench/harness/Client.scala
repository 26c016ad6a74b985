package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.JsonNode
import graft.engine.{DialectShim, OperationHandle}

/** One statement as the client saw it. Times are System.nanoTime, except
  * the epoch-millisecond pair used to line statements up with Spark jobs. */
final class StmtRun(val kind: String, val sql: String) {
  val id: Long = Trace.newId()
  var opId = ""
  var ok = true
  var error = ""
  var submitNs, startedNs, firstRowNs, endNs = 0L
  var startMs, endMs = 0L
  var requests, polls, notReady, pages = 0
  var bytes = 0L
  var tokensOk = true
  var maxPageRows, rowCount = 0
  /** The rows fetched, until the statement's checks have read them. */
  val rows = ArrayBuffer.empty[JsonNode]
  /** (HTTP page round trip, in-process fetch of the same page), traced runs. */
  val pagePairs = ArrayBuffer.empty[(Double, Double)]
  def ms: Double = (endNs - submitNs) / 1e6
  def firstRowMs: Double = (firstRowNs - submitNs) / 1e6
  def fail(msg: String): Unit = if (ok) { ok = false; error = msg }
  /** Frees the rows once checked, so that a run's heap holds the program's
    * state and not the harness's copies of results. */
  def dropRows(): StmtRun = { rows.clearAndShrink(0); this }
}

/** The reference notebook client's statement state machine over HTTP:
  * POST the statement, poll its status, then follow `nextResultUri` over
  * 100-row pages. Polls and NOT_READY retries wait `pollMs`. */
final class NotebookClient(ctx: Ctx) {
  private val http = new Http(ctx.gateway.gatewayAddress)
  private val monitor = new Http(ctx.gateway.monitorAddress)
  private val timeoutNs = 60L * 1000000000L

  private def timed[T](name: String, run: StmtRun)(body: => T): T =
    Trace.span(name, run.id, run.opId)(body)

  def openSession(mode: String): String = {
    val (code, js, _) = Trace.span("session.open")(http.post("/v1/sessions",
      Json.obj("properties" -> Map("execution.runtime-mode" -> mode).asJava)))
    if (!ctx.check(code == 200, s"open session: HTTP $code"))
      throw new IllegalStateException(s"open session: HTTP $code $js")
    val h = js.get("sessionHandle").asText
    // a new session does not inherit the root's execution listeners
    if (Trace.on) ctx.gateway.sessions.getOrCreate(h).spark.listenerManager.register(ctx.planProbe)
    h
  }

  def closeSession(h: String): Unit = {
    val (code, _, _) = Trace.span("session.close")(http.delete(s"/v1/sessions/$h"))
    ctx.check(code == 200, s"close session: HTTP $code")
  }

  /** POST + status polling until the operation leaves PENDING. */
  def submit(h: String, run: StmtRun): String = {
    if (Trace.on) Trace.span("shim.route", run.id)(scala.util.Try(DialectShim.route(run.sql)))
    run.submitNs = System.nanoTime()
    run.startMs = System.currentTimeMillis()
    val (code, js, _) = timed("rest.submit", run)(
      http.post(s"/v1/sessions/$h/statements", Json.obj("statement" -> run.sql)))
    run.requests += 1
    if (code != 200) { run.fail(s"submit: HTTP $code $js"); return "ERROR" }
    run.opId = js.get("operationHandle").asText
    var status = "PENDING"
    while (status == "PENDING" && System.nanoTime() - run.submitNs < timeoutNs) {
      val (c, s, _) = timed("rest.status", run)(
        http.get(s"/v1/sessions/$h/operations/${run.opId}/status"))
      run.requests += 1; run.polls += 1
      status = if (c == 200) s.get("status").asText else s"HTTP $c"
      if (status == "PENDING") Thread.sleep(ctx.pollMs)
    }
    run.startedNs = System.nanoTime()
    if (status != "RUNNING" && status != "FINISHED") run.fail(s"status $status")
    status
  }

  private def uri(h: String, run: StmtRun, token: Long) =
    s"/v1/sessions/$h/operations/${run.opId}/result/$token"

  /** Fetches result pages from `token` until EOS, until `stop()` holds
    * after a page, or until the timeout. Returns the next token to fetch,
    * or -1 after EOS. */
  def fetch(h: String, run: StmtRun, token0: Long)(stop: () => Boolean): Long = {
    var token = token0
    while (token >= 0 && System.nanoTime() - run.submitNs < timeoutNs) {
      val t0 = System.nanoTime()
      val (code, p, bytes) = http.get(uri(h, run, token))
      val pageMs = (System.nanoTime() - t0) / 1e6
      Trace.record(Trace.newId(), "rest.page", t0, System.nanoTime(), run.id, run.opId)
      run.requests += 1
      if (code != 200) { run.fail(s"page $token: HTTP $code $p"); return -1 }
      p.get("resultType").asText match {
        case "NOT_READY" =>
          run.notReady += 1
          if (stop()) return token
          Thread.sleep(ctx.pollMs)
        case rt =>
          val data = p.path("results").path("data")
          run.bytes += bytes
          if (data.size > 0) {
            run.pages += 1
            run.maxPageRows = math.max(run.maxPageRows, data.size)
            run.rowCount += data.size
            if (run.firstRowNs == 0) run.firstRowNs = System.nanoTime()
            data.elements().asScala.foreach(r => run.rows += r.get("fields"))
          }
          if (Trace.on) inProcessFetch(h, run, token, pageMs)
          if (rt == "EOS") {
            if (p.has("nextResultUri")) run.tokensOk = false
            return -1
          }
          val next = p.path("nextResultUri").asText("")
          if (next != uri(h, run, token + 1)) run.tokensOk = false
          token += 1
          if (stop()) return token
      }
    }
    if (token >= 0 && !stop()) run.fail(s"no EOS within ${timeoutNs / 1000000000L} s")
    token
  }

  /** The same page fetched in-process (`OperationManager.fetch` re-serves
    * an already served token), for the HTTP overhead split. */
  private def inProcessFetch(h: String, run: StmtRun, token: Long, pageMs: Double): Unit = {
    val es = ctx.gateway.sessions.getOrCreate(h)
    val t0 = System.nanoTime()
    es.ops.fetch(OperationHandle(run.opId), token)
    val t1 = System.nanoTime()
    Trace.record(Trace.newId(), "store.fetch", t0, t1, run.id, run.opId)
    run.pagePairs += ((pageMs, (t1 - t0) / 1e6))
  }

  def finish(run: StmtRun): StmtRun = {
    run.endNs = System.nanoTime()
    run.endMs = System.currentTimeMillis()
    Trace.record(run.id, s"client.${run.kind}", run.submitNs, run.endNs, 0, run.opId)
    run
  }

  /** A whole batch statement: submit, poll, drain to EOS. */
  def runToEos(h: String, run: StmtRun): StmtRun = {
    if (submit(h, run) != "ERROR" && run.ok) fetch(h, run, 0)(() => false)
    finish(run)
  }

  def status(h: String, run: StmtRun): String = {
    val (c, s, _) = timed("rest.status", run)(
      http.get(s"/v1/sessions/$h/operations/${run.opId}/status"))
    run.requests += 1
    if (c == 200) s.get("status").asText else s"HTTP $c"
  }

  def cancel(h: String, run: StmtRun): Int = {
    val (c, _, _) = timed("rest.delete", run)(
      http.delete(s"/v1/sessions/$h/operations/${run.opId}"))
    run.requests += 1
    c
  }

  /** One job-monitor refresh: the overview, then details of every running
    * streaming job. Returns (jobs listed, details fetched). */
  def refreshMonitor(): (Int, Int) = {
    val (c, ov, _) = Trace.span("monitor.overview")(monitor.get("/jobs/overview"))
    ctx.check(c == 200, s"monitor overview: HTTP $c")
    val jobs = ov.path("jobs").elements().asScala.toSeq
    val running = jobs.filter(j => j.path("state").asText == "RUNNING" &&
      j.path("jid").asText.toLongOption.isEmpty)
    running.foreach { j =>
      val (dc, _, _) = Trace.span("monitor.details")(monitor.get(s"/jobs/${j.path("jid").asText}"))
      ctx.check(dc == 200, s"monitor details: HTTP $dc")
    }
    (jobs.size, running.size)
  }
}

/** Per-layer metrics of the notebook path, from the statements a window
  * completed and the spans around them. */
object NotebookLayers {
  def apply(runs: Seq[StmtRun]): Map[String, Double] = {
    val n = math.max(runs.size, 1).toDouble
    val pages = runs.map(_.pages).sum
    val fetches = runs.map(r => r.pages + r.notReady).sum
    val pairs = runs.flatMap(_.pagePairs)
    Map(
      "rest.submit_ms" -> Trace.meanMs("rest.submit"),
      "rest.status_ms" -> Trace.meanMs("rest.status"),
      "rest.page_ms" -> Trace.meanMs("rest.page"),
      "rest.requests_per_stmt" -> runs.map(_.requests).sum / n,
      "rest.page_bytes" -> (if (pages == 0) 0.0 else runs.map(_.bytes).sum.toDouble / pages),
      "rest.overhead_ms" -> Stats.mean(pairs.map(p => p._1 - p._2)),
      "session.open_ms" -> Trace.meanMs("session.open"),
      "session.close_ms" -> Trace.meanMs("session.close"),
      "shim.route_us" -> Trace.meanMs("shim.route") * 1000.0,
      "ops.start_ms" -> Stats.mean(runs.map(r => (r.startedNs - r.submitNs) / 1e6)),
      "ops.polls_per_stmt" -> runs.map(_.polls).sum / n,
      "ops.not_ready_frac" -> (if (fetches == 0) 0.0 else runs.map(_.notReady).sum.toDouble / fetches),
      "ops.failed" -> runs.count(!_.ok).toDouble,
      "store.pages_per_stmt" -> pages / n,
      "store.rows_per_page" -> (if (pages == 0) 0.0 else runs.map(_.rowCount).sum.toDouble / pages),
      "store.fetch_ms" -> Trace.meanMs("store.fetch"),
      "monitor.overview_ms" -> Trace.meanMs("monitor.overview"),
      "monitor.details_ms" -> Trace.meanMs("monitor.details"))
  }
}
