package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.JsonNode
import graft.engine.OperationHandle
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** `notebook`: closed-loop notebook clients over HTTP, one process. Each
  * client opens its own session, runs its script through the reference
  * client's state machine and closes the session again. The script is a
  * notebook: control statements, batch queries, then one streaming
  * statement over an unbounded datagen table, for which the client waits
  * for the first row, drains for a fixed time, refreshes the job monitor,
  * cancels with DELETE and drains to EOS.
  */
object Notebook {
  /** A streaming statement; its latency is what the user waits for: the
    * first row, the cancel and the monitor refresh. */
  final class StreamRun(val run: StmtRun) {
    var cancelMs, monitorMs = 0.0
    var jobsListed = 0
    var deleteNs = 0L
    var progress: Seq[StreamingQueryProgress] = Nil
    var queryId = ""
    def waitMs: Double = run.firstRowMs + cancelMs + monitorMs
  }

  final case class Pass(ms: Double, batch: Seq[StmtRun], streams: Seq[StreamRun]) {
    def latencies: Seq[Double] = batch.map(_.ms) ++ streams.map(_.waitMs)
  }

  /** Query id → nanoTime its termination event arrived (traced runs). */
  private val terminated = new ConcurrentHashMap[String, Long]()
  private val stopListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      terminated.put(e.id.toString, System.nanoTime())
  }

  def run(ctx: Ctx): Measured = {
    val cfg = ctx.plan.get("notebook")
    val scripts = cfg.get("scripts").elements().asScala
      .map(_.elements().asScala.toIndexedSeq).toIndexedSeq
    val drainNs = cfg.get("drain_ms").asLong * 1000000L
    val setups = ctx.setUp(withGateway = true)(probe(ctx))
    ctx.attachProbes()
    val clients = scripts.map(_ => new NotebookClient(ctx))

    /** One pass of variant `variant` of client `c`'s script; a warm pass
      * leaves out the paged scan, whose 100 requests add time but no code
      * path of their own. */
    def pass(c: Int, variant: Int, warm: Boolean = false): Pass = {
      val cl = clients(c)
      val stmts = scripts(c)(variant)
      val t0 = System.nanoTime()
      val h = cl.openSession("batch")
      if (ctx.trace) ctx.gateway.sessions.getOrCreate(h).spark.streams.addListener(stopListener)
      val (streams, batch) = stmts.elements().asScala.toSeq
        .filterNot(s => warm && s.get("kind").asText == "scan").partition(_.has("stream"))
      val batchRuns = batch.map { s =>
        val r = cl.runToEos(h, new StmtRun(s.get("kind").asText, s.get("sql").asText))
        verify(ctx, s.get("check"), r)
        r.dropRows()
      }
      val streamRuns = streams.map(s => streaming(ctx, cl, h, s, drainNs))
      cl.closeSession(h)
      Pass((System.nanoTime() - t0) / 1e6, batchRuns, streamRuns)
    }
    def concurrently(body: Int => Unit): Unit = {
      val threads = clients.indices.map(c => new Thread(() => body(c), s"perfbench-client-$c"))
      threads.foreach(_.start()); threads.foreach(_.join())
    }

    // variant 0 warms; the measured passes take the others in turn
    concurrently(c => pass(c, 0, warm = true))
    val passes = new ConcurrentLinkedQueue[Pass]()
    val rates = new ConcurrentLinkedQueue[Double]()
    val w = ctx.window { deadline =>
      concurrently { c =>
        var n = 0
        val busy = Closed.loop(deadline) { i =>
          val p = pass(c, 1 + i % (scripts(c).size - 1)); passes.add(p); n += p.latencies.size
        }
        rates.add(n / busy)
      }
    }

    val ps = passes.asScala.toSeq
    val batch = ps.flatMap(_.batch)
    val srs = ps.flatMap(_.streams)
    val stmts = batch ++ srs.map(_.run)
    val lat = ps.flatMap(_.latencies)
    def medianOf(kind: String) = Stats.median(batch.filter(_.kind == kind).map(_.ms))
    val scans = batch.filter(_.kind == "scan")
    val progress = srs.flatMap(_.progress)
    def dur(key: String) = Stats.mean(progress.map(p =>
      Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)))
    val gaps = batch.map(r => ctx.sparkProbe.gapMs(Seq(r.opId), r.startMs, r.endMs).toDouble) ++
      srs.map { sr =>
        val runId = sr.progress.headOption.map(_.runId.toString)
        ctx.sparkProbe.gapMs(Seq(sr.run.opId) ++ runId, sr.run.startMs, sr.run.endMs).toDouble
      }
    val layers = ctx.layerDefaults ++ NotebookLayers(stmts) ++
      ctx.commonLayers(w, stmts.size, gaps) ++ Map(
      "session.active_end" -> ctx.gateway.sessions.active.size.toDouble,
      "stream.trigger_ms" -> dur("triggerExecution"),
      "stream.add_batch_ms" -> dur("addBatch"),
      "stream.query_planning_ms" -> dur("queryPlanning"),
      "stream.wal_commit_ms" -> dur("walCommit"),
      "stream.batches_to_first_row" -> Stats.mean(srs.filter(_.progress.nonEmpty).map(r =>
        (r.progress.indexWhere(_.numInputRows > 0) + 1).toDouble)),
      "stream.stop_ms" -> Stats.mean(srs.flatMap(sr =>
        Option(terminated.get(sr.queryId)).map(t => (t - sr.deleteNs) / 1e6))),
      "monitor.jobs_listed" -> Stats.mean(srs.map(_.jobsListed.toDouble)),
      "client.first_page_ms" -> Stats.median(batch.filter(_.firstRowNs > 0).map(_.firstRowMs)),
      "client.paged_scan_ms" -> Stats.median(scans.map(_.ms)),
      "client.paged_scan_accounted_frac" -> Stats.mean(scans.map(accounted)),
      "client.insert_ms" -> medianOf("insert"),
      "client.lineitem_agg_ms" -> medianOf("lineitem_agg"),
      "client.stmt_p99_ms" -> Stats.tail(lat),
      "client.stream_first_row_ms" -> Stats.median(srs.map(_.run.firstRowMs)),
      "client.cancel_ms" -> Stats.median(srs.map(_.cancelMs)),
      "client.monitor_refresh_ms" -> Stats.median(srs.map(_.monitorMs)))
    val e2e = Map(
      "setup_s" -> Stats.median(setups),
      "stmt_p50_ms" -> Stats.median(lat),
      "stmt_geomean_ms" -> Stats.geomean(lat),
      "stmts_per_s" -> rates.asScala.sum,
      "script_s" -> Stats.median(ps.map(_.ms / 1000.0)),
      "driver_heap_mb" -> Jvm.heapAfterGcMb)
    Measured(e2e, layers, Map(
      "setup_reps_s" -> setups.asJava, "stmts" -> lat.size, "passes" -> ps.size,
      "tail_q" -> Stats.tailQ(lat.size), "window_s" -> w.elapsedS,
      "stmt_ms_by_kind" -> (batch.map(r => r.kind -> r.ms) ++ srs.map(s => s.run.kind -> s.waitMs))
        .groupBy(_._1).map { case (k, xs) => k -> Stats.median(xs.map(_._2)) }.asJava))
  }

  /** Set-up probe: one session, `SELECT 1` to EOS, close. */
  def probe(ctx: Ctx): Unit = {
    val cl = new NotebookClient(ctx)
    val h = cl.openSession("batch")
    val r = cl.runToEos(h, new StmtRun("probe", "SELECT 1 AS one"))
    ctx.check(r.ok && r.rows.size == 1, s"set-up probe: ${r.error}")
    cl.closeSession(h)
  }

  /** One streaming statement: first row, drain, monitor refresh, DELETE,
    * drain to EOS, then its checks. */
  def streaming(ctx: Ctx, cl: NotebookClient, h: String, s: JsonNode, drainNs: Long): StreamRun = {
    val sr = new StreamRun(new StmtRun(s.get("kind").asText, s.get("sql").asText))
    val r = sr.run
    val what = s"${r.kind} [${r.sql.take(60)}]"
    cl.submit(h, r)
    var tok = if (r.ok) cl.fetch(h, r, 0)(() => r.firstRowNs != 0) else -1L
    if (ctx.check(r.ok && r.firstRowNs != 0, s"$what: no first row: ${r.error}")) {
      val until = System.nanoTime() + drainNs
      tok = cl.fetch(h, r, tok)(() => System.nanoTime() > until)
      val m0 = System.nanoTime()
      sr.jobsListed = cl.refreshMonitor()._1
      sr.monitorMs = (System.nanoTime() - m0) / 1e6
    }
    val query = if (!ctx.trace) None
      else ctx.gateway.sessions.getOrCreate(h).ops.get(OperationHandle(r.opId))
        .flatMap(_.streamingQuery)
    sr.deleteNs = System.nanoTime()
    val code = cl.cancel(h, r)
    if (tok >= 0) cl.fetch(h, r, tok)(() => false)
    sr.cancelMs = (System.nanoTime() - sr.deleteNs) / 1e6
    val st = cl.status(h, r)
    ctx.check(code == 200 && st == "CANCELED" && r.ok,
      s"$what: DELETE → HTTP $code, status $st, ${r.error}")
    if (s.has("max_count")) {
      val i = s.get("count_field").asInt
      val max = s.get("max_count").asLong
      val worst = r.rows.map(_.get(i).asLong).maxOption.getOrElse(0L)
      ctx.check(worst <= max, s"$what: a window counted $worst rows, above $max")
    }
    query.foreach { q => sr.progress = q.recentProgress.toSeq; sr.queryId = q.id.toString }
    cl.finish(r).dropRows()
    sr
  }

  /** Share of a statement's wall covered by the spans of the layer calls
    * made inside it. */
  private def accounted(r: StmtRun): Double = {
    val kids = Trace.spans.asScala.filter(_.parent == r.id).map(s => (s.startNs, s.endNs)).toSeq
    if (r.endNs <= r.submitNs) 0.0
    else Stats.covered(kids, r.submitNs, r.endNs).toDouble / (r.endNs - r.submitNs)
  }

  /** The statement's own check, plus the paging contract every statement
    * must keep: no ERROR, pages of at most 100 rows, consecutive tokens. */
  def verify(ctx: Ctx, check: JsonNode, r: StmtRun): Unit = {
    val what = s"${r.kind} [${r.sql.take(60)}]"
    if (!ctx.check(r.ok, s"$what: ${r.error}")) return
    ctx.check(r.maxPageRows <= 100 && r.tokensOk,
      s"$what: page of ${r.maxPageRows} rows or non-consecutive tokens")
    def num(n: JsonNode) = BigDecimal(n.asText)
    check.get("type").asText match {
      case "ok" => ctx.check(r.rows.nonEmpty, s"$what: no OK row")
      case "one" => ctx.check(r.rows.size == 1 && r.rows.head.get(0).asInt == 1,
        s"$what: expected a single 1")
      case "groups" =>
        val total = r.rows.map(row => row.get(1).asLong).sum
        ctx.check(r.rows.size == check.get("groups").asInt && total == check.get("total").asLong,
          s"$what: ${r.rows.size} groups summing to $total")
      case "scan" =>
        val n = check.get("rows").asInt
        val keys = r.rows.map(_.get(0).asLong).distinct.size
        ctx.check(r.rows.size == n && keys == n, s"$what: ${r.rows.size} rows, $keys distinct keys")
      case "count" =>
        ctx.check(r.rows.size == 1 && r.rows.head.get(0).asLong == check.get("value").asLong,
          s"$what: count ${r.rows.headOption.map(_.get(0)).orNull}")
      case "rows" =>
        def key(row: JsonNode) = row.elements().asScala.map(_.asText).mkString("|")
        val got = r.rows.sortBy(key)
        val want = check.get("rows").elements().asScala.toSeq.sortBy(key)
        val same = got.size == want.size && got.zip(want).forall { case (g, e) =>
          g.size == e.size && (0 until e.size).forall { i =>
            if (e.get(i).isNumber) g.get(i).isNumber && num(g.get(i)) == num(e.get(i))
            else g.get(i).asText == e.get(i).asText
          }
        }
        ctx.check(same, s"$what: result differs from the DuckDB answer")
    }
  }
}
