package graft.engine

import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, Executors}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

/** Statement lifecycle states — union of the gateway operation states the
  * reference polls (flinkNotebookController.ts:145-155) and its job states
  * (flinkJobClient.ts:7-17, collapsed to the ones an operation can take).
  */
object OpStatus extends Enumeration {
  val Pending, Running, Finished, Error, Canceled = Value
}

final case class OperationHandle(id: String)

final class OperationInfo(
    val handle: OperationHandle,
    val statement: String) {
  @volatile var status: OpStatus.Value = OpStatus.Pending
  @volatile var store: Option[ResultStore] = None
  @volatile var error: Option[Throwable] = None
  @volatile var streamingQuery: Option[StreamingQuery] = None
  /** Streaming ⇔ results keep arriving after RUNNING (SURVEY §7.4 #2). */
  @volatile var isStreaming: Boolean = false

  /** Pending→Running, atomic with [[markCanceled]]: a cancel landing
    * between the runnable's Canceled check and its Running write used to
    * be LOST (the op ran to Finished despite the cancel) — the check and
    * the write must be one critical section. Returns false when the op
    * was canceled first, i.e. the body must not run. */
  def tryStart(): Boolean = synchronized {
    if (status == OpStatus.Canceled) false
    else { status = OpStatus.Running; true }
  }

  /** Running→Finished unless a concurrent cancel already moved the status
    * (Canceled must stick — it is what the canceller observed). */
  def finishIfRunning(): Unit = synchronized {
    if (status == OpStatus.Running) status = OpStatus.Finished
  }

  def markCanceled(): Unit = synchronized { status = OpStatus.Canceled }

  /** Running→Error unless a concurrent cancel already moved the status.
    * Returns whether the op actually became Error — the caller must fail
    * the store ONLY then: a canceled op's body dies with the job-group
    * cancellation exception, and recording THAT into the store would make
    * a later fetch rethrow it at the client, violating the cancel
    * contract (Canceled ⇒ EOS reachable, content unspecified — the
    * concurrency soak's victim drain caught the rethrow racily). */
  def errorUnlessCanceled(): Boolean = synchronized {
    if (status != OpStatus.Canceled) { status = OpStatus.Error; true }
    else false
  }
}

/** Async statement execution with handles, status polling, and cancellation.
  *
  * Mirrors the reference's gateway operation model (one job group per
  * operation so batch cancel maps to `cancelJobGroup` and streaming cancel
  * to `StreamingQuery.stop()`, SURVEY.md §7.1 item 1) with one deliberate
  * departure: the pool is CACHED, not the reference's fixed 10 threads
  * (MiniClusterRunner.java:124-132). Streaming operations and statement
  * sets park their thread for the operation's lifetime, so a fixed pool
  * deadlocks once poolSize long-lived statements exist (the 11th
  * statement — even `SELECT 1` — would pend forever, and a nested
  * statement-set await could deadlock outright).
  */
final class OperationManager(spark: SparkSession) {

  private val pool = Executors.newCachedThreadPool(r => {
    val t = new Thread(r, "graft-op")
    t.setDaemon(true)
    t
  })
  private val ops = new ConcurrentHashMap[String, OperationInfo]()

  def submit(statement: String)(body: OperationInfo => Unit): OperationHandle = {
    val info = new OperationInfo(OperationHandle(UUID.randomUUID().toString), statement)
    ops.put(info.handle.id, info)
    pool.submit(new Runnable {
      override def run(): Unit = {
        if (!info.tryStart()) return
        spark.sparkContext.setJobGroup(info.handle.id, statement, interruptOnCancel = true)
        try {
          body(info)
          info.finishIfRunning()
        } catch {
          case NonFatal(t) =>
            info.error = Some(t)
            if (info.errorUnlessCanceled()) info.store.foreach(_.fail(t))
            // canceled: the exception IS the cancellation — terminate the
            // store cleanly so the client's fetch loop reaches EOS instead
            // of rethrowing SPARK_JOB_CANCELLED at it
            else info.store.foreach(_.markEos())
        } finally {
          spark.sparkContext.clearJobGroup()
        }
      }
    })
    info.handle
  }

  def get(handle: OperationHandle): Option[OperationInfo] =
    Option(ops.get(handle.id))

  /** Cancels the operation running the streaming query `queryId`; false
    * when no operation here runs it. */
  def cancelStream(queryId: String): Boolean =
    ops.values.asScala.find(_.streamingQuery.exists(_.id.toString == queryId))
      .map(info => cancel(info.handle)).isDefined

  def status(handle: OperationHandle): OpStatus.Value =
    get(handle).map(_.status).getOrElse(OpStatus.Error)

  def fetch(handle: OperationHandle, token: Long): FetchResult =
    get(handle) match {
      case Some(info) =>
        // status BEFORE store — the ordering is load-bearing (r15 advice):
        // the body assigns store and only THEN finishIfRunning() publishes
        // Finished (both volatile), so a fetch that observes a terminal
        // status is guaranteed to see the store that op created, if any.
        // The prior store-first read raced: observe store=None, get
        // preempted across the body's store-assign + Finished write, then
        // observe Finished and answer EOS — silently dropping results.
        val status = info.status
        info.store match {
          case Some(store) => store.fetch(token)
          // terminal op that never built a store (canceled/errored before
          // the body reached store creation, or a body — DDL, SET — that
          // legitimately finishes storeless): a NOT_READY here would spin
          // a well-behaved fetch loop forever — the r14 concurrency soak
          // caught exactly that race (cancel landing between submit and
          // store init). store is only ever assigned INSIDE the body, so a
          // terminal status observed BEFORE a store=None read is final.
          // Terminal ⇒ EOS, same as a store that closed empty.
          case None if status == OpStatus.Canceled ||
            status == OpStatus.Error ||
            status == OpStatus.Finished => FetchResult("EOS", Nil, Nil, None)
          case None => FetchResult("NOT_READY", Nil, Nil, Some(token))
        }
      case None => FetchResult("NOT_READY", Nil, Nil, Some(token))
    }

  def cancel(handle: OperationHandle): Unit = get(handle).foreach { info =>
    info.markCanceled()
    info.streamingQuery.foreach(q => if (q.isActive) q.stop())
    spark.sparkContext.cancelJobGroup(info.handle.id)
    info.store.foreach(_.markEos())
  }

  /** Cancels every live operation, stopping its stream, then shuts the
    * pool down without interrupting its threads: an interrupt landing in
    * `DataStreamWriter.start()` would abort the start after the query
    * thread is up, before the query is published, leaving it running. */
  def shutdown(): Unit = {
    ops.values.asScala
      .filter(i => i.status == OpStatus.Pending || i.status == OpStatus.Running)
      .foreach(i => cancel(i.handle))
    pool.shutdown()
  }
}
