package graft.engine

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.UUID
import java.util.concurrent.RejectedExecutionException
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession

/** Minimal JSON encode/decode for the facade — the environment is
  * zero-dependency by design, and the payloads are small control-plane
  * messages, so a compact hand-rolled codec beats dragging in a library.
  * Encoder accepts Map/Seq/String/Boolean/null and any java.lang.Number;
  * everything else crosses as its toString (data-plane field values are
  * already simple types by the time they sit in a ResultStore).
  */
private[engine] object Json {

  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case n: java.lang.Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${quote(k.toString)}:${write(x)}" }
        .mkString("{", ",", "}")
    case xs: collection.Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  /** Recursive-descent parser for the request bodies the gateway accepts.
    * Returns Map[String,Any] / Seq[Any] / String / Double / Boolean / null. */
  def parse(s: String): Any = {
    val p = new P(s); val v = p.value(); p.ws(); require(p.eof, "trailing JSON"); v
  }

  private final class P(s: String) {
    private var i = 0
    def eof: Boolean = i >= s.length
    def ws(): Unit = while (!eof && s.charAt(i).isWhitespace) i += 1
    /** Every character read funnels through here: truncated input fails as
      * IllegalArgumentException (→ HTTP 400), never
      * StringIndexOutOfBoundsException (→ 500). */
    private def ch: Char = {
      require(!eof, s"unexpected end of JSON at $i"); s.charAt(i)
    }
    private def expect(c: Char): Unit = {
      require(!eof && ch == c, s"expected '$c' at $i"); i += 1
    }
    def value(): Any = {
      ws()
      require(!eof, "unexpected end of JSON")
      ch match {
        case '{' =>
          expect('{'); ws()
          val m = Map.newBuilder[String, Any]
          if (ch == '}') { i += 1 }
          else {
            var done = false
            while (!done) {
              ws(); val k = str(); ws(); expect(':'); m += (k -> value()); ws()
              if (ch == ',') i += 1 else { expect('}'); done = true }
            }
          }
          m.result()
        case '[' =>
          expect('['); ws()
          val b = Seq.newBuilder[Any]
          if (ch == ']') { i += 1 }
          else {
            var done = false
            while (!done) {
              b += value(); ws()
              if (ch == ',') i += 1 else { expect(']'); done = true }
            }
          }
          b.result()
        case '"' => str()
        case 't' => require(s.startsWith("true", i)); i += 4; true
        case 'f' => require(s.startsWith("false", i)); i += 5; false
        case 'n' => require(s.startsWith("null", i)); i += 4; null
        case _ =>
          val start = i
          while (!eof && "+-0123456789.eE".indexOf(ch) >= 0) i += 1
          s.substring(start, i).toDouble
      }
    }
    private def str(): String = {
      expect('"')
      val b = new StringBuilder
      while (ch != '"') {
        if (ch == '\\') {
          i += 1
          ch match {
            case 'n' => b.append('\n'); i += 1
            case 'r' => b.append('\r'); i += 1
            case 't' => b.append('\t'); i += 1
            case 'b' => b.append('\b'); i += 1
            case 'f' => b.append('\f'); i += 1
            case 'u' =>
              require(i + 5 <= s.length, s"truncated \\u escape at $i")
              b.append(Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar)
              i += 5
            case c => b.append(c); i += 1
          }
        } else { b.append(ch); i += 1 }
      }
      i += 1
      b.toString
    }
  }
}

/** Typed HTTP failure a route can throw to pick its own status code. */
private[engine] final case class HttpError(code: Int, msg: String)
  extends RuntimeException(msg)

/** REST facade for the engine — wire parity with the two HTTP APIs the
  * reference extension speaks:
  *
  *  - SQL Gateway surface (`sqlGatewayClient.ts:54-149`):
  *    `/v1/info`, `/v1/sessions` CRUD, `/v1/sessions/:h/statements`,
  *    `/v1/sessions/:h/operations/:op/{status,result/:token}`, DELETE
  *    to cancel. Result pages carry the gateway's ResultSet shape —
  *    `resultType` NOT_READY|PAYLOAD|EOS, `results.columns[].name`,
  *    `results.data[]` rows as `{kind, fields}` (models/types.ts:24-27),
  *    `nextResultUri` for continuation (flinkNotebookController.ts:179-236).
  *  - JobManager monitor surface (`flinkJobClient.ts:103-199`):
  *    `/config`, `/jobs/overview`, `/jobs/:id`, `/jobs/:id/metrics`,
  *    `/jobs/:id/checkpoints`, `PATCH /jobs/:id?mode=cancel`.
  *
  * Deliberately thin: every endpoint delegates to the in-process engine
  * objects (SessionManager / OperationManager / JobRegistry) — no logic
  * lives here, so the method-call API and the wire API can't drift.
  * Built on the JDK's HttpServer (zero added dependencies) with TCP_NODELAY
  * on every accepted connection: the server flushes a reply's headers and
  * writes its body separately, and Nagle's algorithm would hold each body
  * back until the client's delayed ACK, 40 ms on Linux, per request.
  * Simplifications vs the real gateway, documented: `maxRows` is pinned to
  * the store's page size (the reference always sends 100 — its own
  * constant), and column `logicalType`s carry the ROOT name + nullability
  * but not nested container element types (the client renders
  * `columns[].name` only, flinkNotebookController.ts:348-356).
  */
final class RestGateway(root: SparkSession,
    gatewayPort: Int = 0, monitorPort: Int = 0,
    /** Loopback by default: the facade is an UNAUTHENTICATED arbitrary-SQL
      * control plane for a local notebook — exposing it on 0.0.0.0 would
      * hand SQL execution and job-cancel to the whole network. Pass an
      * explicit address to bind externally on purpose. */
    bindAddress: java.net.InetAddress = java.net.InetAddress.getLoopbackAddress) {

  val registry = new JobRegistry(root)
  val sessions = new SessionManager(root)

  // TCP_NODELAY, or every reply stalls 40 ms on the client's delayed ACK
  // (class doc). The JDK reads it once per JVM, at the first HttpServer.
  System.setProperty("sun.net.httpserver.nodelay", "true")
  private val gw = HttpServer.create(new InetSocketAddress(bindAddress, gatewayPort), 0)
  private val mon = HttpServer.create(new InetSocketAddress(bindAddress, monitorPort), 0)
  // daemon threads + explicit shutdown: HttpServer.stop() does NOT stop the
  // executor it was given, and a lingering non-daemon cached pool would hold
  // the JVM open for its 60 s keep-alive after stop()
  private def pool() = java.util.concurrent.Executors.newCachedThreadPool(
    (r: Runnable) => { val t = new Thread(r, "graft-rest"); t.setDaemon(true); t })
  private val gwPool = pool()
  private val monPool = pool()
  gw.setExecutor(gwPool)
  mon.setExecutor(monPool)

  def start(): Unit = { gw.start(); mon.start() }
  def gatewayAddress: String = s"http://localhost:${gw.getAddress.getPort}"
  def monitorAddress: String = s"http://localhost:${mon.getAddress.getPort}"
  private[engine] def boundAddresses: Seq[java.net.InetAddress] =
    Seq(gw.getAddress.getAddress, mon.getAddress.getAddress)
  def stop(): Unit = {
    gw.stop(0); mon.stop(0)
    gwPool.shutdown(); monPool.shutdown()
    sessions.closeAll(); registry.close()
  }

  // ------------------------------------------------------------- plumbing
  private def reply(ex: HttpExchange, code: Int, body: Any): Unit = {
    val bytes = Json.write(body).getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  /** The open session under handle `h`, or 404. Routes never create one:
    * a poller still in flight after DELETE, or a garbage handle, would
    * otherwise allocate a child SparkSession that nothing closes. */
  private def session(h: String): EngineSession =
    sessions.get(h).getOrElse(throw HttpError(404, s"session not found: $h"))

  private def readBody(ex: HttpExchange): Map[String, Any] = {
    val raw = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    if (raw.isBlank) Map.empty
    else Json.parse(raw) match {
      case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
      case _ => Map.empty
    }
  }

  private def handle(server: HttpServer, prefix: String)(
      route: (String, Seq[String], HttpExchange) => Unit): Unit =
    server.createContext(prefix, (ex: HttpExchange) =>
      try {
        val segs = ex.getRequestURI.getPath.split("/").toSeq.filter(_.nonEmpty)
        route(ex.getRequestMethod.toUpperCase, segs, ex)
      } catch {
        case HttpError(code, msg) =>
          reply(ex, code, Map("errors" -> Seq(msg)))
        case e: IllegalArgumentException =>
          // client-input errors (malformed JSON — Json.P throws require/
          // NumberFormatException — missing fields, bad parameters) are
          // 400s, not 500s
          reply(ex, 400, Map("errors" -> Seq(String.valueOf(e.getMessage))))
        case scala.util.control.NonFatal(t) =>
          reply(ex, 500, Map("errors" -> Seq(String.valueOf(t.getMessage))))
      })

  // --------------------------------------------------- gateway (/v1/…) API
  private def opStatusString(s: OpStatus.Value): String = s match {
    case OpStatus.Pending => "PENDING"
    case OpStatus.Running => "RUNNING"
    case OpStatus.Finished => "FINISHED"
    case OpStatus.Canceled => "CANCELED"
    case OpStatus.Error => "ERROR"
  }

  private def kindString(k: RowKind.Value): String = k match {
    case RowKind.Insert => "INSERT"
    case RowKind.UpdateBefore => "UPDATE_BEFORE"
    case RowKind.UpdateAfter => "UPDATE_AFTER"
    case RowKind.Delete => "DELETE"
  }

  /** Field values cross as JSON scalars; anything non-primitive (timestamp,
    * array, struct rendered by Spark) crosses as its string form — same
    * fidelity the reference's JSON rowFormat gives a notebook client.
    * Non-finite doubles (NaN/Infinity) cross as strings: bare NaN tokens
    * are not legal JSON and would break the client's parse of the whole
    * page. */
  private def jsonField(v: Any): Any = v match {
    case null => null
    case x @ (_: String | _: java.lang.Boolean) => x
    case d: java.lang.Double if d.isNaN || d.isInfinite => d.toString
    case f: java.lang.Float if f.isNaN || f.isInfinite => f.toString
    case n: java.lang.Number => n
    case other => other.toString
  }

  handle(gw, "/v1") { (method, segs, ex) =>
    (method, segs) match {
      case ("GET", Seq("v1", "info")) =>
        reply(ex, 200, Map("productName" -> "graft-spark-gateway", "version" -> "0.1.0"))

      case ("POST", Seq("v1", "sessions")) =>
        val body = readBody(ex)
        val props = body.get("properties") match {
          case Some(m: Map[_, _]) =>
            m.asInstanceOf[Map[String, Any]].map { case (k, v) => k -> String.valueOf(v) }
          case _ => Map.empty[String, String]
        }
        val id = UUID.randomUUID().toString
        sessions.getOrCreate(id, props)
        reply(ex, 200, Map("sessionHandle" -> id))

      case ("GET", Seq("v1", "sessions", h)) =>
        session(h)
        reply(ex, 200, Map("sessionHandle" -> h))

      case ("DELETE", Seq("v1", "sessions", h)) =>
        sessions.close(h)
        reply(ex, 200, Map("status" -> "CLOSED"))

      case ("POST", Seq("v1", "sessions", h, "statements")) =>
        val es = session(h)
        val stmt = readBody(ex).get("statement") match {
          case Some(s: String) if s.trim.nonEmpty => s
          case _ => throw new IllegalArgumentException("missing 'statement'")
        }
        // a DELETE that lands after the lookup has shut the session's
        // operation pool: the session is gone, not the server broken
        val handle = try es.execute(stmt) catch {
          case _: RejectedExecutionException => throw HttpError(404, s"session closed: $h")
        }
        reply(ex, 200, Map("operationHandle" -> handle.id))

      case ("GET", Seq("v1", "sessions", h, "operations", op, "status")) =>
        val st = session(h).ops.status(OperationHandle(op))
        reply(ex, 200, Map("status" -> opStatusString(st)))

      case ("GET", Seq("v1", "sessions", h, "operations", op, "result", token)) =>
        val es = session(h)
        val info = es.ops.get(OperationHandle(op))
          .getOrElse(throw HttpError(404, s"operation not found: $op"))
        info.error.foreach(t => throw t)
        val tok = token.toLongOption
          .getOrElse(throw HttpError(400, s"malformed result token: $token"))
        val page = es.ops.fetch(OperationHandle(op), tok)
        // real logical types when the store carries them (Engine populates
        // them from the result schema); UNKNOWN only for store-only callers
        val types = info.store.map(_.columnTypes).getOrElse(Nil)
        val results = Map(
          "columns" -> page.columns.zipWithIndex.map { case (c, i) =>
            val (root, nullable) =
              if (i < types.size) types(i) else ("UNKNOWN", true)
            Map("name" -> c,
              "logicalType" -> Map("type" -> root, "nullable" -> nullable))
          },
          "rowFormat" -> "JSON",
          "data" -> page.rows.map(r =>
            Map("kind" -> kindString(r.kind), "fields" -> r.fields.map(jsonField))))
        val base = Map(
          "resultType" -> page.resultType,
          "isQueryResult" -> true,
          "resultKind" -> "SUCCESS_WITH_CONTENT",
          "results" -> results)
        val payload = page.nextToken match {
          case Some(t) =>
            base + ("nextResultUri" -> s"/v1/sessions/$h/operations/$op/result/$t")
          case None => base
        }
        reply(ex, 200, payload)

      case ("DELETE", Seq("v1", "sessions", h, "operations", op)) =>
        session(h).ops.cancel(OperationHandle(op))
        reply(ex, 200, Map("status" -> "CANCELED"))

      case _ => reply(ex, 404, Map("errors" -> Seq(s"no route: $method /${segs.mkString("/")}")))
    }
  }

  // ----------------------------------------------- job monitor (8081) API
  private def jobSummary(j: JobInfo): Map[String, Any] = Map(
    "jid" -> j.id, "name" -> j.name, "state" -> j.state,
    "start-time" -> 0, "end-time" -> 0, "duration" -> 0,
    "last-modification" -> 0,
    "tasks" -> Map("total" -> 0, "created" -> 0, "scheduled" -> 0,
      "deploying" -> 0, "running" -> 0, "finished" -> 0, "canceling" -> 0,
      "canceled" -> 0, "failed" -> 0))

  handle(mon, "/") { (method, segs, ex) =>
    (method, segs) match {
      case ("GET", Seq("config")) =>
        reply(ex, 200, Map("flink-version" -> "graft-spark", "features" -> Map.empty))

      case ("GET", Seq("jobs", "overview")) =>
        reply(ex, 200,
          Map("jobs" -> registry.overview().values.flatten.map(jobSummary)))

      case ("GET", Seq("jobs", id, "metrics")) =>
        val j = registry.overview().values.flatten.find(_.id == id)
        val all = j.toSeq.flatMap(job => Seq(
          Map("id" -> "numRecordsIn", "value" -> job.numRecordsIn.toString),
          Map("id" -> "numRecordsOut", "value" -> job.numRecordsOut.toString),
          Map("id" -> "numBytesIn", "value" -> job.numBytesIn.toString),
          Map("id" -> "numBytesOut", "value" -> "0")))
        val wanted = Option(ex.getRequestURI.getQuery)
          .flatMap(_.split("&").find(_.startsWith("get=")))
          .map(_.stripPrefix("get=").split(",").toSet)
        reply(ex, 200, wanted match {
          case Some(ids) => all.filter(m => ids.contains(m("id").toString))
          case None => all
        })

      case ("GET", Seq("jobs", id, "checkpoints")) =>
        // Flink REST history-row field names (the reference renders this
        // payload directly): id / status / trigger_timestamp /
        // end_to_end_duration / state_size
        val history = registry.checkpointHistory(id).map(e => Map(
          "id" -> e.id, "status" -> e.status,
          "trigger_timestamp" -> e.triggerTimestamp,
          "end_to_end_duration" -> e.durationMs,
          "state_size" -> e.stateBytes,
          "state_rows" -> e.stateRows))
        registry.details(id).flatMap(_.checkpoints) match {
          case Some(c) => reply(ex, 200, Map(
            "counts" -> Map("total" -> c.total, "completed" -> c.completed,
              "failed" -> c.failed),
            "latest" -> Map("completed" -> c.latestCompleted),
            "lastCommitDurationMs" -> c.lastCommitDurationMs,
            "stateRows" -> c.stateRows, "stateBytes" -> c.stateBytes,
            "history" -> history))
          case None => reply(ex, 200, Map(
            "counts" -> Map("total" -> 0, "completed" -> 0, "failed" -> 0),
            "latest" -> Map("completed" -> false),
            "history" -> history))
        }

      case ("GET", Seq("jobs", id)) =>
        registry.details(id) match {
          case Some(d) => reply(ex, 200, Map(
            "jid" -> d.job.id, "name" -> d.job.name, "isStoppable" -> true,
            "state" -> d.job.state,
            "start-time" -> 0, "end-time" -> 0, "duration" -> 0,
            "now" -> 0, "timestamps" -> Map.empty,
            "vertices" -> d.vertices.zipWithIndex.map { case (v, i) => Map(
              "id" -> s"${d.job.id}-$i", "name" -> v.name,
              "parallelism" -> v.parallelism, "status" -> v.status,
              "start-time" -> 0, "end-time" -> 0, "duration" -> 0,
              "tasks" -> Map.empty,
              "metrics" -> Map("numRowsTotal" -> v.numRowsTotal,
                "numRowsUpdated" -> v.numRowsUpdated)) },
            "status-counts" -> Map(d.job.state -> 1),
            "durations" -> d.durations))
          case None => reply(ex, 404, Map("errors" -> Seq(s"job not found: $id")))
        }

      case ("PATCH", Seq("jobs", id))
          if Option(ex.getRequestURI.getQuery).exists(_.contains("mode=cancel")) =>
        val ok = registry.cancel(id, sessions.cancelStream)
        reply(ex, if (ok) 202 else 404, Map("canceled" -> ok))

      case _ => reply(ex, 404, Map("errors" -> Seq(s"no route: $method /${segs.mkString("/")}")))
    }
  }
}
