package graft.engine

import scala.jdk.CollectionConverters._
import scala.util.Try
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Job monitoring parity (SURVEY.md §3.3): overview / per-job metrics /
  * details / cancel, fed by one SparkListener on the shared context,
  * replacing the reference's JobManager REST polling
  * (flinkJobClient.ts:107-146, metrics numRecordsIn/Out ≈ numInputRows).
  * Spark posts every session's streaming-query events to that same bus,
  * so the one listener sees the queries of all sessions.
  */
final case class JobInfo(
    id: String,
    name: String,
    state: String, // RUNNING | FINISHED | FAILED | CANCELED — flinkJobClient.ts:7-17 subset
    numRecordsIn: Long,
    numRecordsOut: Long,
    numBytesIn: Long)

/** One operator node — the reference renders `vertex.name (parallelism)` +
  * status per job expand (flinkJobClient.ts:120-128 → jobMonitorProvider
  * .ts:341-347). Batch vertices come from the executed SparkPlan tree;
  * streaming vertices from `StreamingQueryProgress.stateOperators`. */
final case class VertexInfo(
    name: String,
    parallelism: Int,
    status: String,
    numRowsTotal: Long = 0L,
    numRowsUpdated: Long = 0L)

/** Checkpoint stats the reference surfaces (flinkJobClient.ts:180-188 →
  * jobMonitorProvider.ts:383-391): counts + latest + commit duration. On
  * Spark a "completed checkpoint" is a committed micro-batch. */
final case class CheckpointStats(
    total: Long,
    completed: Long,
    failed: Long,
    latestCompleted: Boolean,
    lastCommitDurationMs: Long,
    stateRows: Long,
    stateBytes: Long)

/** One RETAINED checkpoint-history row — the reference's monitor fetches
  * `/jobs/{jid}/checkpoints` whose payload carries a `history` list
  * (flinkJobClient.ts:180-188); each committed micro-batch is one entry.
  * Field names mirror Flink's REST history rows (id / status /
  * trigger_timestamp / end_to_end_duration / state_size);
  * trigger_timestamp is EPOCH MILLIS, Flink's wire format — a client
  * parsing the field numerically must not break on an ISO string. */
final case class CheckpointEntry(
    id: Long, // batchId
    status: String, // COMPLETED | FAILED
    triggerTimestamp: Long,
    durationMs: Long,
    stateRows: Long,
    stateBytes: Long)

/** One batch job as the listener saw it: the monitor's [[JobInfo]] row
  * plus the job group (what cancel cancels), the SQL execution (whose plan
  * gives the vertices) and the per-job costs a profile prints. Times are
  * epoch ms (`endMs` is -1 while running); `description` is the thread's
  * `spark.job.description` at submit, else Spark's short call site (the
  * result stage's name, as Spark's UI shows it);
  * `stages` counts the stages this job ran, not the ones it skipped. */
final case class BatchJob(
    id: Int,
    group: String,
    executionId: Option[Long],
    description: String,
    state: String,
    startMs: Long,
    endMs: Long = -1L,
    stages: Int = 0,
    tasks: Int = 0,
    recordsIn: Long = 0L,
    recordsOut: Long = 0L,
    inputBytes: Long = 0L,
    shuffleReadBytes: Long = 0L,
    shuffleWriteBytes: Long = 0L,
    executorRunMs: Long = 0L) {
  def info: JobInfo = JobInfo(id.toString, group, state, recordsIn, recordsOut, inputBytes)
}

final case class JobDetails(
    job: JobInfo,
    vertices: Seq[VertexInfo],
    durations: Map[String, Long],
    checkpoints: Option[CheckpointStats])

final class JobRegistry(spark: SparkSession) {
  import JobRegistry._

  /** History caps: a long-lived gateway session executes unbounded numbers
    * of statements, and retaining every SparkPlanInfo tree / job row would
    * grow driver memory monotonically. Each map drops its oldest entries
    * past its cap; details() on an evicted job degrades to overview-only,
    * matching the reference UI (its monitor shows recent jobs). A running
    * stream is never evicted: the stream list holds at most [[MaxStreams]]
    * streams unless more than that many are running. */
  private val MaxHistory = 1000
  private val MaxPlans = 256
  // package-visible so MonitorCatalogSpec tracks the real caps, not copies
  private[graft] val MaxStreams = 256
  // retained checkpoint HISTORY per query (newest last), ring-capped —
  // Flink retains a bounded history list for /jobs/{jid}/checkpoints
  private[graft] val MaxCheckpointHistory = 64

  private val batchJobs = new Bounded[Int, BatchJob](MaxHistory)
  // stage ids and job ids are independent counters — metrics arrive keyed
  // by stage, so record at job start the stages each job lists
  private val stageToJob = new Bounded[Int, Int](4 * MaxHistory)
  // SQL execution → physical plan tree (SQLExecutionStart listener event)
  private val executionPlans = new Bounded[Long, SparkPlanInfo](MaxPlans)
  private val streams = new Bounded[java.util.UUID, StreamRecord](MaxStreams,
    keep = _.job.state == "RUNNING")

  private[graft] val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      // a stage listed by an earlier job is that job's: later jobs skip it
      e.stageIds.foreach(stageToJob.putIfAbsent(_, e.jobId))
      batchJobs.put(e.jobId, BatchJob(e.jobId, prop("spark.jobGroup.id").getOrElse(""),
        prop("spark.sql.execution.id").map(_.toLong),
        prop("spark.job.description").orElse(prop("callSite.short"))
          .getOrElse(e.stageInfos.maxByOption(_.stageId).fold("")(_.name)),
        "RUNNING", e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) stageToJob.get(e.stageId).foreach { jobId =>
        // one task per stage that ran: the first attempt of its first task
        val first = e.stageAttemptId == 0 && e.taskInfo.index == 0 && e.taskInfo.attemptNumber == 0
        batchJobs.update(jobId)(j => j.copy(
          stages = j.stages + (if (first) 1 else 0),
          tasks = j.tasks + 1,
          recordsIn = j.recordsIn + m.inputMetrics.recordsRead,
          recordsOut = j.recordsOut + m.outputMetrics.recordsWritten,
          inputBytes = j.inputBytes + m.inputMetrics.bytesRead,
          shuffleReadBytes = j.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
          shuffleWriteBytes = j.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
          executorRunMs = j.executorRunMs + m.executorRunTime))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      batchJobs.update(e.jobId)(_.copy(endMs = e.time, state =
        if (e.jobResult.toString.contains("Succeeded")) "FINISHED" else "FAILED"))
    override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
      case s: SparkListenerSQLExecutionStart =>
        executionPlans.put(s.executionId, s.sparkPlanInfo)
      case e: QueryStartedEvent =>
        streams.put(e.id, StreamRecord(JobInfo(e.id.toString,
          Option(e.name).getOrElse(""), "RUNNING", 0, 0, 0)))
      case e: QueryProgressEvent => streams.update(e.progress.id)(progressed(_, e.progress))
      case e: QueryTerminatedEvent => streams.update(e.id)(terminated(_, e))
      case _ => ()
    }
  }

  // Commits key off batchId ADVANCING, not event count — Spark re-emits
  // idle progress events for an unchanged batch (noDataProgressEventInterval),
  // which must not inflate the "completed checkpoint = committed
  // micro-batch" contract.
  private def progressed(s: StreamRecord, p: StreamingQueryProgress): StreamRecord = {
    val job = s.job.copy(
      numRecordsIn = s.job.numRecordsIn + p.numInputRows,
      numRecordsOut = s.job.numRecordsOut +
        Option(p.sink).map(_.numOutputRows).filter(_ > 0).getOrElse(0L))
    if (p.batchId <= s.lastBatch) s.copy(job = job, progress = Some(p))
    else s.copy(job = job, progress = Some(p), lastBatch = p.batchId, commits = s.commits + 1,
      history = s.retain(CheckpointEntry(
        id = p.batchId,
        status = "COMPLETED",
        // progress.timestamp is ISO-8601 UTC; the wire field is epoch ms
        triggerTimestamp = java.time.Instant.parse(p.timestamp).toEpochMilli,
        durationMs = p.durationMs.asScala.get("triggerExecution").map(_.longValue()).getOrElse(0L),
        stateRows = p.stateOperators.map(_.numRowsTotal).sum,
        stateBytes = p.stateOperators.map(_.memoryUsedBytes).sum), MaxCheckpointHistory))
  }

  // a graft stream runs on a processing-time trigger and never finishes on
  // its own: a query that ends without an exception was stopped. A failed
  // run is one FAILED history row (Flink records failed checkpoints in the
  // same list); id = the batch that didn't commit.
  private def terminated(s: StreamRecord, e: QueryTerminatedEvent): StreamRecord =
    if (e.exception.isEmpty) s.copy(job = s.job.copy(state = "CANCELED"))
    else s.copy(job = s.job.copy(state = "FAILED"), failures = s.failures + 1,
      history = s.retain(CheckpointEntry(s.lastBatch + 1, "FAILED",
        System.currentTimeMillis(), 0L, 0L, 0L), MaxCheckpointHistory))

  spark.sparkContext.addSparkListener(sparkListener)

  /** Overview grouped by state (jobMonitorProvider.ts:112,146-157). */
  def overview(): Map[String, Seq[JobInfo]] =
    (batchJobs.values.map(_.info) ++ streaming()).groupBy(_.state)

  def streaming(): Seq[JobInfo] = streams.values.map(_.job)

  /** Retained batch jobs, oldest first. */
  def jobs(): Seq[BatchJob] = batchJobs.values

  /** Per-job drill-down: operator vertices + durations + checkpoint stats —
    * the reference fetches `/jobs/:id` vertices and `/jobs/:id/checkpoints`
    * on every monitor expand (flinkJobClient.ts:120-128,180-188).
    *
    * Batch: the executed SparkPlan node tree (pre-order), parallelism =
    * `defaultParallelism`. Streaming: one vertex per stateful operator from
    * the last `StreamingQueryProgress` (parallelism = its shuffle-partition
    * count), `durations` = the progress's phase durations, checkpoints =
    * committed-batch counts + commit duration + state size. */
  def details(id: String): Option[JobDetails] =
    batchJob(id).map { j =>
      val vertices = j.executionId.flatMap(executionPlans.get).toSeq.flatMap(flatten).map(n =>
        VertexInfo(n.nodeName, spark.sparkContext.defaultParallelism, j.state))
      JobDetails(j.info, vertices, Map.empty, None)
    }.orElse(stream(id).map { s =>
      val vertices = s.progress.toSeq.flatMap(_.stateOperators.toSeq).map { so =>
        VertexInfo(so.operatorName, so.numShufflePartitions.toInt, s.job.state,
          so.numRowsTotal, so.numRowsUpdated)
      }
      val durations: Map[String, Long] = s.progress.fold(Map.empty[String, Long])(
        _.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap)
      val ckpt = s.progress.map { p =>
        CheckpointStats(
          total = s.commits + s.failures,
          completed = s.commits,
          failed = s.failures,
          latestCompleted = s.commits > 0,
          lastCommitDurationMs =
            durations.getOrElse("walCommit", 0L) +
              durations.getOrElse("commitOffsets", 0L) +
              durations.getOrElse("commitBatch", 0L),
          stateRows = p.stateOperators.map(_.numRowsTotal).sum,
          stateBytes = p.stateOperators.map(_.memoryUsedBytes).sum)
      }
      JobDetails(s.job, vertices, durations, ckpt)
    })

  /** Retained checkpoint history for a streaming query (oldest→newest,
    * ring-capped at [[MaxCheckpointHistory]]) — the `history` list the
    * reference reads from `/jobs/{jid}/checkpoints`
    * (flinkJobClient.ts:180-188). Batch jobs have no checkpoints: empty. */
  def checkpointHistory(id: String): Seq[CheckpointEntry] =
    stream(id).fold(Seq.empty[CheckpointEntry])(_.history)

  private def flatten(p: SparkPlanInfo): Seq[SparkPlanInfo] =
    p +: p.children.flatMap(flatten)

  // a monitor id is the job's own id text: a batch job id or a stream UUID
  private def batchJob(id: String) = key(id)(_.toInt).flatMap(batchJobs.get)
  private def stream(id: String) = key(id)(java.util.UUID.fromString).flatMap(streams.get)
  private def key[K](id: String)(parse: String => K): Option[K] =
    Try(parse(id)).toOption.filter(_.toString == id)

  /** Cancel by id (flinkJobClient.ts:164-175 analogue): a RUNNING stream
    * stops through `stopStream`, which cancels the operation that owns the
    * query (the gateway passes `SessionManager.cancelStream`); a batch job
    * cancels its job group. */
  def cancel(id: String, stopStream: String => Boolean): Boolean =
    if (stream(id).exists(_.job.state == "RUNNING")) stopStream(id)
    else batchJob(id).map(_.group).filter(_.nonEmpty)
      .exists { g => spark.sparkContext.cancelJobGroup(g); true }

  def close(): Unit = spark.sparkContext.removeSparkListener(sparkListener)
}

private object JobRegistry {

  /** One streaming query: its monitor row, last progress, committed and
    * failed micro-batch counts and retained checkpoint history. */
  final case class StreamRecord(
      job: JobInfo,
      progress: Option[StreamingQueryProgress] = None,
      lastBatch: Long = -1L,
      commits: Long = 0L,
      failures: Long = 0L,
      history: Vector[CheckpointEntry] = Vector.empty) {
    def retain(e: CheckpointEntry, cap: Int): Vector[CheckpointEntry] =
      (history :+ e).takeRight(cap)
  }

  /** An insertion-ordered map that, past `cap` entries, drops its oldest
    * ones that `keep` does not hold on to. One lock: the listener bus
    * writes while monitor requests read. */
  final class Bounded[K, V](cap: Int, keep: V => Boolean = (_: V) => false) {
    private val m = new java.util.LinkedHashMap[K, V]()
    def get(k: K): Option[V] = synchronized(Option(m.get(k)))
    def values: Seq[V] = synchronized(m.values.asScala.toVector)
    def put(k: K, v: V): Unit = synchronized { m.put(k, v); evict() }
    def putIfAbsent(k: K, v: V): Unit = synchronized { if (!m.containsKey(k)) put(k, v) }
    def update(k: K)(f: V => V): Unit = synchronized {
      Option(m.get(k)).foreach { v => m.put(k, f(v)); evict() }
    }
    private def evict(): Unit = {
      var excess = m.size - cap
      val it = m.values.iterator
      while (excess > 0 && it.hasNext)
        if (!keep(it.next())) { it.remove(); excess -= 1 }
    }
  }
}
