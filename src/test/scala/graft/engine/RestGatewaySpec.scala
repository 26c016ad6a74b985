package graft.engine

import java.net.{HttpURLConnection, URI}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Drives the REST facade over real HTTP exactly as the reference clients
  * do (sqlGatewayClient.ts request shapes, flinkJobClient.ts monitor
  * paths), asserting the wire payloads the extension actually consumes.
  */
class RestGatewaySpec extends AnyFunSuite {

  private lazy val spark = graft.GraftSession.local("4")
  private lazy val gw = {
    val g = new RestGateway(spark)
    g.start()
    g
  }
  private val http = HttpClient.newHttpClient()

  private def get(url: String): (Int, Any) = {
    val r = http.send(HttpRequest.newBuilder(URI.create(url)).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), Json.parse(r.body()))
  }

  private def post(url: String, body: String): (Int, Any) = {
    val r = http.send(HttpRequest.newBuilder(URI.create(url))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), Json.parse(r.body()))
  }

  private def patch(url: String): (Int, Any) = {
    val r = http.send(HttpRequest.newBuilder(URI.create(url))
      .method("PATCH", HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), Json.parse(r.body()))
  }

  private def delete(url: String): Int =
    http.send(HttpRequest.newBuilder(URI.create(url)).DELETE().build(),
      HttpResponse.BodyHandlers.ofString()).statusCode()

  /** One GET on a blocking HTTP/1.1 keep-alive connection — the client
    * shape of the notebook and the benchmark. Reads the whole body so the
    * connection goes back to the keep-alive cache. */
  private def blockingGet(url: String): Int = {
    val c = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    val code = c.getResponseCode
    val in = if (code >= 400) c.getErrorStream else c.getInputStream
    try in.readAllBytes() finally in.close()
    code
  }

  private def obj(v: Any): Map[String, Any] = v.asInstanceOf[Map[String, Any]]
  private def arr(v: Any): Seq[Any] = v.asInstanceOf[Seq[Any]]

  private def pollStatus(base: String, h: String, op: String,
      want: Set[String], deadlineMs: Long = 30000): String = {
    val end = System.currentTimeMillis() + deadlineMs
    var st = ""
    while (System.currentTimeMillis() < end && !want.contains(st)) {
      st = obj(get(s"$base/v1/sessions/$h/operations/$op/status")._2)("status").toString
      if (!want.contains(st)) Thread.sleep(100)
    }
    st
  }

  test("gateway wire round-trip: session, statement, paged results, EOS") {
    val base = gw.gatewayAddress
    val (ic, info) = get(s"$base/v1/info")
    assert(ic == 200 && obj(info).contains("productName"))

    val (sc, sess) = post(s"$base/v1/sessions",
      """{"sessionName":"nb1","properties":{"execution.runtime-mode":"batch"}}""")
    assert(sc == 200)
    val h = obj(sess)("sessionHandle").toString

    val (xc, stmt) = post(s"$base/v1/sessions/$h/statements",
      """{"statement":"SELECT 1 AS x, 'a\nb' AS s"}""")
    assert(xc == 200)
    val op = obj(stmt)("operationHandle").toString

    assert(pollStatus(base, h, op, Set("FINISHED", "ERROR")) == "FINISHED")

    // first page: ResultSet shape the controller reads
    // (flinkNotebookController.ts:179-236,348-356)
    val (rc, rs0) = get(s"$base/v1/sessions/$h/operations/$op/result/0")
    assert(rc == 200)
    val m = obj(rs0)
    assert(Set("PAYLOAD", "EOS").contains(m("resultType").toString))
    val results = obj(m("results"))
    val cols = arr(results("columns")).map(c => obj(c)("name").toString)
    assert(cols == Seq("x", "s"))
    // logicalType carries the real Flink root, not UNKNOWN
    val roots = arr(results("columns"))
      .map(c => obj(obj(c)("logicalType"))("type").toString)
    assert(roots == Seq("INTEGER", "VARCHAR"), s"got $roots")
    val rows = arr(results("data")).map(obj)
    assert(rows.size == 1)
    assert(rows.head("kind") == "INSERT")
    assert(arr(rows.head("fields")) == Seq(1.0, "a\nb")) // 1 crosses as JSON number
    // drain to EOS via nextResultUri
    var cur = m
    var guard = 0
    while (cur.contains("nextResultUri") && guard < 10) {
      cur = obj(get(base + cur("nextResultUri").toString)._2)
      guard += 1
    }
    assert(cur("resultType") == "EOS")

    // a parse error surfaces as status=ERROR on the operation, never a 500
    // on submit (sqlGatewayClient.ts:97-112 contract)
    val (bc, bad) = post(s"$base/v1/sessions/$h/statements",
      """{"statement":"SELEKT nope"}""")
    assert(bc == 200)
    val badOp = obj(bad)("operationHandle").toString
    assert(pollStatus(base, h, badOp, Set("FINISHED", "ERROR")) == "ERROR")

    assert(delete(s"$base/v1/sessions/$h") == 200)
    // a poller still in flight after DELETE must get 404 — not a silently
    // recreated engine session under the dead handle
    assert(get(s"$base/v1/sessions/$h/operations/$op/status")._1 == 404)
    assert(get(s"$base/v1/sessions/bogus-handle/operations/x/result/0")._1 == 404)
  }

  test("monitor wire: config, jobs overview, details, metrics, checkpoints") {
    val base = gw.gatewayAddress
    val mon = gw.monitorAddress
    assert(get(s"$mon/config")._1 == 200)

    // run a query so the registry has at least one batch job
    val h = obj(post(s"$base/v1/sessions",
      """{"properties":{"execution.runtime-mode":"batch"}}""")._2)("sessionHandle").toString
    val op = obj(post(s"$base/v1/sessions/$h/statements",
      """{"statement":"SELECT COUNT(*) AS n FROM (VALUES (1),(2)) t(v)"}""")._2)("operationHandle").toString
    assert(pollStatus(base, h, op, Set("FINISHED", "ERROR")) == "FINISHED")

    val jobs = arr(obj(get(s"$mon/jobs/overview")._2)("jobs")).map(obj)
    assert(jobs.nonEmpty, "batch jobs should be tracked in the overview")
    val jid = jobs.head("jid").toString
    assert(jobs.head.contains("state") && jobs.head.contains("tasks"))

    val (dc, det) = get(s"$mon/jobs/$jid")
    assert(dc == 200)
    assert(obj(det)("jid") == jid && obj(det).contains("vertices"))

    val metrics = arr(get(s"$mon/jobs/$jid/metrics?get=numRecordsIn,numRecordsOut")._2)
      .map(obj).map(_("id").toString)
    assert(metrics.toSet == Set("numRecordsIn", "numRecordsOut"))

    val ck = obj(get(s"$mon/jobs/$jid/checkpoints")._2)
    assert(obj(ck("counts")).contains("total")) // batch job: zeroed shape
  }

  test("streaming statement over REST: RUNNING status, rows arrive, cancel") {
    val base = gw.gatewayAddress
    val h = obj(post(s"$base/v1/sessions", "{}")._2)("sessionHandle").toString
    val ddl = obj(post(s"$base/v1/sessions/$h/statements",
      """{"statement":"CREATE TABLE clicks (user_id INT) WITH ('connector'='datagen','rows-per-second'='50','fields.user_id.min'='1','fields.user_id.max'='5')"}""")._2)("operationHandle").toString
    assert(pollStatus(base, h, ddl, Set("FINISHED", "ERROR")) == "FINISHED")
    val op = obj(post(s"$base/v1/sessions/$h/statements",
      """{"statement":"SELECT user_id, COUNT(*) AS n FROM clicks GROUP BY user_id"}""")._2)("operationHandle").toString
    // a streaming statement stays RUNNING while pages fill
    // (flinkNotebookController.ts:256-260 classification)
    assert(pollStatus(base, h, op, Set("RUNNING", "ERROR")) == "RUNNING")
    val end = System.currentTimeMillis() + 30000
    var rows = Seq.empty[Map[String, Any]]
    while (rows.isEmpty && System.currentTimeMillis() < end) {
      val rs = obj(get(s"$base/v1/sessions/$h/operations/$op/result/0")._2)
      rows = arr(obj(rs("results"))("data")).map(obj)
      if (rows.isEmpty) Thread.sleep(300)
    }
    assert(rows.nonEmpty, "streaming rows should arrive within the deadline")
    assert(rows.forall(r => Set("INSERT", "UPDATE_AFTER", "UPDATE_BEFORE", "DELETE")
      .contains(r("kind").toString)))
    // retained checkpoint HISTORY over the wire (flinkJobClient.ts:180-188
    // payload): the running stream's /checkpoints carries Flink-shaped
    // history rows — COMPLETED status, strictly increasing batch ids
    val mon = gw.monitorAddress
    val sJobs = arr(obj(get(s"$mon/jobs/overview")._2)("jobs")).map(obj)
      .filter(_("state").toString == "RUNNING")
    assert(sJobs.nonEmpty, "the streaming job should be RUNNING in overview")
    // one job's history only — ids are per-query, so mixing jobs would
    // break the monotonicity assertion if another stream ever ran
    val hDeadline = System.currentTimeMillis() + 20000
    var hist = Seq.empty[Map[String, Any]]
    while (hist.isEmpty && System.currentTimeMillis() < hDeadline) {
      hist = sJobs.view.map(j =>
        arr(obj(get(s"$mon/jobs/${j("jid")}/checkpoints")._2)("history")).map(obj))
        .find(_.nonEmpty).getOrElse(Seq.empty)
      if (hist.isEmpty) Thread.sleep(300)
    }
    assert(hist.nonEmpty, "committed micro-batches should appear as history rows")
    assert(hist.forall(e => e("status") == "COMPLETED" &&
      e.contains("trigger_timestamp") && e.contains("end_to_end_duration")))
    // Flink wire format: trigger_timestamp is epoch millis, numeric —
    // a client doing arithmetic on it must not meet an ISO string
    hist.foreach { e =>
      val ts = e("trigger_timestamp").toString.toDouble.toLong
      assert(ts > 1500000000000L && ts < 4102444800000L,
        s"trigger_timestamp should be plausible epoch ms, got $ts")
    }
    val ids = hist.map(_("id").toString.toDouble.toLong)
    assert(ids == ids.sorted && ids.distinct.size == ids.size,
      s"history ids must strictly increase, got $ids")
    assert(delete(s"$base/v1/sessions/$h/operations/$op") == 200)
    assert(pollStatus(base, h, op, Set("CANCELED", "FINISHED", "ERROR")) == "CANCELED")
  }

  test("monitor PATCH cancel stops a gateway session's stream through its operation") {
    val base = gw.gatewayAddress
    val mon = gw.monitorAddress
    val h = obj(post(s"$base/v1/sessions", "{}")._2)("sessionHandle").toString
    val ddl = obj(post(s"$base/v1/sessions/$h/statements",
      """{"statement":"CREATE TABLE mc_clicks (user_id INT) WITH ('connector'='datagen','rows-per-second'='50','fields.user_id.min'='1','fields.user_id.max'='5')"}""")._2)("operationHandle").toString
    assert(pollStatus(base, h, ddl, Set("FINISHED", "ERROR")) == "FINISHED")
    val op = obj(post(s"$base/v1/sessions/$h/statements",
      """{"statement":"SELECT user_id, COUNT(*) AS n FROM mc_clicks GROUP BY user_id"}""")._2)("operationHandle").toString
    assert(pollStatus(base, h, op, Set("RUNNING", "ERROR")) == "RUNNING")
    val es = gw.sessions.get(h).get
    val info = es.ops.get(OperationHandle(op)).get
    def jobState(jid: String): Option[String] =
      arr(obj(get(s"$mon/jobs/overview")._2)("jobs")).map(obj)
        .find(_("jid") == jid).map(_("state").toString)
    def await(what: String)(cond: => Boolean): Unit = {
      val end = System.currentTimeMillis() + 30000
      while (!cond && System.currentTimeMillis() < end) Thread.sleep(100)
      assert(cond, what)
    }
    await("the stream should start")(info.streamingQuery.nonEmpty)
    val jid = info.streamingQuery.get.id.toString
    await("the monitor should list the stream RUNNING")(jobState(jid).contains("RUNNING"))
    val (code, body) = patch(s"$mon/jobs/$jid?mode=cancel")
    assert(code == 202, s"PATCH cancel answered $code $body")
    await("the stream should stop")(es.spark.streams.active.isEmpty)
    assert(pollStatus(base, h, op, Set("CANCELED", "FINISHED", "ERROR")) == "CANCELED")
    await(s"the monitor should show the stream CANCELED, got ${jobState(jid)}")(
      jobState(jid).contains("CANCELED"))
    assert(delete(s"$base/v1/sessions/$h") == 200)
  }

  test("a stream canceled by operation DELETE reads CANCELED in the monitor overview") {
    val base = gw.gatewayAddress
    val mon = gw.monitorAddress
    val h = obj(post(s"$base/v1/sessions", "{}")._2)("sessionHandle").toString
    val ddl = obj(post(s"$base/v1/sessions/$h/statements",
      """{"statement":"CREATE TABLE od_clicks (user_id INT) WITH ('connector'='datagen','rows-per-second'='50','fields.user_id.min'='1','fields.user_id.max'='5')"}""")._2)("operationHandle").toString
    assert(pollStatus(base, h, ddl, Set("FINISHED", "ERROR")) == "FINISHED")
    val op = obj(post(s"$base/v1/sessions/$h/statements",
      """{"statement":"SELECT user_id, COUNT(*) AS n FROM od_clicks GROUP BY user_id"}""")._2)("operationHandle").toString
    assert(pollStatus(base, h, op, Set("RUNNING", "ERROR")) == "RUNNING")
    val info = gw.sessions.get(h).get.ops.get(OperationHandle(op)).get
    def jobState(jid: String): Option[String] =
      arr(obj(get(s"$mon/jobs/overview")._2)("jobs")).map(obj)
        .find(_("jid") == jid).map(_("state").toString)
    def await(what: String)(cond: => Boolean): Unit = {
      val end = System.currentTimeMillis() + 30000
      while (!cond && System.currentTimeMillis() < end) Thread.sleep(100)
      assert(cond, what)
    }
    await("the stream should start")(info.streamingQuery.nonEmpty)
    val jid = info.streamingQuery.get.id.toString
    await("the monitor should list the stream RUNNING")(jobState(jid).contains("RUNNING"))
    assert(delete(s"$base/v1/sessions/$h/operations/$op") == 200)
    assert(pollStatus(base, h, op, Set("CANCELED", "FINISHED", "ERROR")) == "CANCELED")
    await(s"the monitor should show the stream CANCELED, got ${jobState(jid)}")(
      jobState(jid).contains("CANCELED"))
    assert(delete(s"$base/v1/sessions/$h") == 200)
  }

  test("batch-only gateway sessions hang no streaming listener bus on the shared Spark bus") {
    val base = gw.gatewayAddress
    val before = org.apache.spark.ListenerBusProbe.streamingQueryBuses(spark.sparkContext)
    (1 to 5).foreach { _ =>
      val h = obj(post(s"$base/v1/sessions",
        """{"properties":{"execution.runtime-mode":"batch"}}""")._2)("sessionHandle").toString
      val op = obj(post(s"$base/v1/sessions/$h/statements",
        """{"statement":"SELECT 1"}""")._2)("operationHandle").toString
      assert(pollStatus(base, h, op, Set("FINISHED", "ERROR")) == "FINISHED")
      assert(delete(s"$base/v1/sessions/$h") == 200)
    }
    val added =
      org.apache.spark.ListenerBusProbe.streamingQueryBuses(spark.sparkContext) - before
    assert(added == 0, s"$added streaming listener buses added by 5 batch-only sessions")
  }

  test("client-input errors surface as 400/404, never 500") {
    val base = gw.gatewayAddress
    val h = obj(post(s"$base/v1/sessions", "{}")._2)("sessionHandle").toString
    // malformed JSON bodies: unterminated string, truncated \u escape —
    // both used to escape the parser as StringIndexOutOfBounds → 500
    assert(post(s"$base/v1/sessions/$h/statements",
      """{"statement":"SELECT 1""")._1 == 400)
    assert(post(s"$base/v1/sessions/$h/statements",
      "{\"statement\":\"x" + "\\" + "u00")._1 == 400)
    // missing required field
    assert(post(s"$base/v1/sessions/$h/statements", "{}")._1 == 400)
    val op = obj(post(s"$base/v1/sessions/$h/statements",
      """{"statement":"SELECT 1 AS x"}""")._2)("operationHandle").toString
    assert(pollStatus(base, h, op, Set("FINISHED", "ERROR")) == "FINISHED")
    // non-numeric result token → 400; unknown operation → 404 (was an
    // endless NOT_READY)
    assert(get(s"$base/v1/sessions/$h/operations/$op/result/abc")._1 == 400)
    assert(get(s"$base/v1/sessions/$h/operations/no-such-op/result/0")._1 == 404)
    assert(delete(s"$base/v1/sessions/$h") == 200)
  }

  test("wire latency: keep-alive round trips on gateway and monitor take milliseconds") {
    // Nagle's algorithm held each reply body back until the client's
    // delayed ACK (40 ms on Linux): every median sat at about 44 ms
    val base = gw.gatewayAddress
    val h = obj(post(s"$base/v1/sessions",
      """{"properties":{"execution.runtime-mode":"batch"}}""")._2)("sessionHandle").toString
    val op = obj(post(s"$base/v1/sessions/$h/statements",
      """{"statement":"SELECT 1"}""")._2)("operationHandle").toString
    assert(pollStatus(base, h, op, Set("FINISHED", "ERROR")) == "FINISHED")
    def medianMs(url: String): Double = {
      assert(blockingGet(url) == 200) // opens the kept-alive connection
      val ms = (1 to 30).map { _ =>
        val t0 = System.nanoTime()
        assert(blockingGet(url) == 200)
        (System.nanoTime() - t0) / 1e6
      }.sorted
      (ms(14) + ms(15)) / 2
    }
    val medians = Seq(
      "GET /v1/info" -> medianMs(s"$base/v1/info"),
      "GET status" -> medianMs(s"$base/v1/sessions/$h/operations/$op/status"),
      "GET /config" -> medianMs(s"${gw.monitorAddress}/config"))
    assert(delete(s"$base/v1/sessions/$h") == 200)
    assert(medians.forall(_._2 < 10.0),
      medians.map { case (what, ms) => f"$what $ms%.1f ms" }
        .mkString("median over 30 round trips: ", ", ", ""))
  }

  test("session DELETE racing status polls and statement POSTs leaves no session open") {
    // own gateway: the other tests leave sessions open on the shared one
    val g = new RestGateway(spark)
    g.start()
    try {
      val base = g.gatewayAddress
      val codes = new ConcurrentLinkedQueue[Int]()
      for (_ <- 1 to 10) {
        val h = obj(post(s"$base/v1/sessions",
          """{"properties":{"execution.runtime-mode":"batch"}}""")._2)("sessionHandle").toString
        val op = obj(post(s"$base/v1/sessions/$h/statements",
          """{"statement":"SELECT 1"}""")._2)("operationHandle").toString
        assert(pollStatus(base, h, op, Set("FINISHED", "ERROR")) == "FINISHED")
        val go = new CountDownLatch(1)
        val deleted = new CountDownLatch(1)
        // each client keeps firing until five of its requests went out
        // after the DELETE returned
        val clients = (0 until 4).map { i =>
          new Thread(() => {
            go.await()
            var after = 0
            while (after < 5) {
              if (deleted.getCount == 0) after += 1
              codes.add(
                if (i % 2 == 0) get(s"$base/v1/sessions/$h/operations/$op/status")._1
                else post(s"$base/v1/sessions/$h/statements", """{"statement":"SELECT 1"}""")._1)
            }
          })
        }
        clients.foreach(_.start())
        go.countDown()
        Thread.sleep(20)
        assert(delete(s"$base/v1/sessions/$h") == 200)
        deleted.countDown()
        clients.foreach(_.join())
      }
      // a request that found the session gone answers 404, never 500
      assert(codes.asScala.toSet.subsetOf(Set(200, 404)), s"codes: ${codes.asScala.toSet}")
      assert(g.sessions.active.isEmpty, s"sessions left open: ${g.sessions.active}")
    } finally g.stop()
  }

  test("servers bind loopback, not the wildcard address") {
    // the facade is an unauthenticated SQL-execution surface for a LOCAL
    // notebook: 0.0.0.0 would expose it to the whole network
    gw.gatewayAddress // force lazy init
    assert(gw.boundAddresses.forall(_.isLoopbackAddress),
      s"bound: ${gw.boundAddresses}")
  }

  test("json codec: escapes round-trip") {
    val v = Map("s" -> "line\n\"quote\"\\tab\t", "n" -> 3.5, "b" -> true,
      "xs" -> Seq(1, 2), "null" -> null)
    assert(Json.parse(Json.write(v)) ==
      Map("s" -> "line\n\"quote\"\\tab\t", "n" -> 3.5, "b" -> true,
        "xs" -> Seq(1.0, 2.0), "null" -> null))
  }
}
