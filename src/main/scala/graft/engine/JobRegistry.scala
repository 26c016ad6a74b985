package graft.engine

import scala.collection.concurrent.TrieMap
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

final case class JobDetails(
    job: JobInfo,
    vertices: Seq[VertexInfo],
    durations: Map[String, Long],
    checkpoints: Option[CheckpointStats])

final class JobRegistry(spark: SparkSession) {

  private val batchJobs = TrieMap.empty[Int, JobInfo]
  private val streamJobs = TrieMap.empty[java.util.UUID, JobInfo]
  private val jobGroups = TrieMap.empty[Int, String]
  // stage ids and job ids are independent counters — metrics arrive keyed
  // by stage, so record each job's stages at start
  private val stageToJob = TrieMap.empty[Int, Int]
  // batch job → SQL execution (spark.sql.execution.id property at start);
  // execution → physical plan tree (SQLExecutionStart listener event)
  private val jobToExecution = TrieMap.empty[Int, Long]
  private val executionPlans = TrieMap.empty[Long, SparkPlanInfo]
  // streaming: last progress + committed-batch counter per query. Commits
  // key off batchId ADVANCING, not event count — Spark re-emits idle
  // progress events for an unchanged batch (noDataProgressEventInterval),
  // which must not inflate the "completed checkpoint = committed
  // micro-batch" contract.
  private val streamProgress = TrieMap.empty[java.util.UUID, StreamingQueryProgress]
  private val streamCommits = TrieMap.empty[java.util.UUID, Long]
  private val streamLastBatch = TrieMap.empty[java.util.UUID, Long]
  private val streamFailures = TrieMap.empty[java.util.UUID, Long]
  // retained checkpoint HISTORY per query (newest last), ring-capped —
  // Flink retains a bounded history list for /jobs/{jid}/checkpoints
  // package-visible so MonitorCatalogSpec tracks the real cap, not a copy
  private[graft] val MaxCheckpointHistory = 64
  private val streamHistory = TrieMap.empty[java.util.UUID, Vector[CheckpointEntry]]

  /** History caps: a long-lived gateway session executes unbounded numbers
    * of statements, and retaining every SparkPlanInfo tree / job row would
    * grow driver memory monotonically. Ids are monotonic, so pruning the
    * smallest keys evicts the oldest history; details() on an evicted job
    * degrades to overview-only, matching the reference UI (its monitor
    * shows recent jobs). */
  private val MaxHistory = 1000
  private val MaxPlans = 256
  private def prune[V](m: TrieMap[Int, V], cap: Int): Unit =
    while (m.size > cap) m.keys.minOption.foreach(m.remove)
  private def pruneL[V](m: TrieMap[Long, V], cap: Int): Unit =
    while (m.size > cap) m.keys.minOption.foreach(m.remove)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(eid => jobToExecution.put(e.jobId, eid.toLong))
      jobGroups.put(e.jobId, group)
      e.stageIds.foreach(sid => stageToJob.put(sid, e.jobId))
      batchJobs.put(e.jobId,
        JobInfo(e.jobId.toString, group, "RUNNING", 0, 0, 0))
      prune(batchJobs, MaxHistory); prune(jobGroups, MaxHistory)
      prune(stageToJob, 4 * MaxHistory); prune(jobToExecution, MaxHistory)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) stageToJob.get(e.stageId).foreach { jobId =>
        batchJobs.updateWith(jobId) {
          case Some(j) => Some(j.copy(
            numRecordsIn = j.numRecordsIn + m.inputMetrics.recordsRead,
            numBytesIn = j.numBytesIn + m.inputMetrics.bytesRead,
            numRecordsOut = j.numRecordsOut + m.outputMetrics.recordsWritten))
          case None => None
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      batchJobs.updateWith(e.jobId) {
        case Some(j) => Some(j.copy(state =
          if (e.jobResult.toString.contains("Succeeded")) "FINISHED" else "FAILED"))
        case None => None
      }
    override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
      case s: SparkListenerSQLExecutionStart =>
        executionPlans.put(s.executionId, s.sparkPlanInfo)
        pruneL(executionPlans, MaxPlans)
      case e: QueryStartedEvent =>
        streamJobs.put(e.id, JobInfo(e.id.toString,
          Option(e.name).getOrElse(""), "RUNNING", 0, 0, 0))
      case e: QueryProgressEvent => streamProgressed(e.progress)
      case e: QueryTerminatedEvent => streamTerminated(e)
      case _ => ()
    }
  }

  private def streamProgressed(p: StreamingQueryProgress): Unit = {
    streamProgress.put(p.id, p)
    val isNewBatch = streamLastBatch.put(p.id, p.batchId).forall(_ < p.batchId)
    if (isNewBatch) {
      streamCommits.updateWith(p.id)(c => Some(c.getOrElse(0L) + 1L))
      import scala.jdk.CollectionConverters._
      val dur = p.durationMs.asScala
        .get("triggerExecution").map(_.longValue()).getOrElse(0L)
      val entry = CheckpointEntry(
        id = p.batchId,
        status = "COMPLETED",
        // progress.timestamp is ISO-8601 UTC; the wire field is epoch ms
        triggerTimestamp = java.time.Instant.parse(p.timestamp).toEpochMilli,
        durationMs = dur,
        stateRows = p.stateOperators.map(_.numRowsTotal).sum,
        stateBytes = p.stateOperators.map(_.memoryUsedBytes).sum)
      streamHistory.updateWith(p.id)(h =>
        Some((h.getOrElse(Vector.empty) :+ entry).takeRight(MaxCheckpointHistory)))
    }
    streamJobs.updateWith(p.id) {
      case Some(j) => Some(j.copy(
        numRecordsIn = j.numRecordsIn + p.numInputRows,
        numRecordsOut = j.numRecordsOut +
          Option(p.sink).map(_.numOutputRows).filter(_ > 0).getOrElse(0L)))
      case None => None
    }
  }

  private def streamTerminated(e: QueryTerminatedEvent): Unit = {
    if (e.exception.isDefined) {
      streamFailures.updateWith(e.id)(c => Some(c.getOrElse(0L) + 1L))
      // a failed run is one FAILED history row (Flink records failed
      // checkpoints in the same list); id = the batch that didn't commit
      val failedId = streamLastBatch.get(e.id).map(_ + 1L).getOrElse(0L)
      val entry = CheckpointEntry(failedId, "FAILED",
        System.currentTimeMillis(), 0L, 0L, 0L)
      streamHistory.updateWith(e.id)(h =>
        Some((h.getOrElse(Vector.empty) :+ entry).takeRight(MaxCheckpointHistory)))
    }
    // a graft stream runs on a processing-time trigger and never finishes
    // on its own: a query that ends without an exception was stopped
    streamJobs.updateWith(e.id) {
      case Some(j) => Some(j.copy(state =
        if (e.exception.isDefined) "FAILED" else "CANCELED"))
      case None => None
    }
    // cap terminated-stream history: drop the heavy per-query state (last
    // progress) for the oldest streams this registry no longer sees RUNNING
    if (streamProgress.size > MaxPlans) {
      val running = streamJobs.collect { case (id, j) if j.state == "RUNNING" => id }.toSet
      streamProgress.keys.filterNot(running.contains)
        .take(streamProgress.size - MaxPlans)
        .foreach { id =>
          Seq(streamProgress, streamHistory, streamCommits, streamLastBatch, streamFailures)
            .foreach(_.remove(id))
        }
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)

  /** Overview grouped by state (jobMonitorProvider.ts:112,146-157). */
  def overview(): Map[String, Seq[JobInfo]] =
    (batchJobs.values ++ streamJobs.values).toSeq.groupBy(_.state)

  def streaming(): Seq[JobInfo] = streamJobs.values.toSeq

  /** Per-job drill-down: operator vertices + durations + checkpoint stats —
    * the reference fetches `/jobs/:id` vertices and `/jobs/:id/checkpoints`
    * on every monitor expand (flinkJobClient.ts:120-128,180-188).
    *
    * Batch: the executed SparkPlan node tree (pre-order), parallelism =
    * `defaultParallelism`. Streaming: one vertex per stateful operator from
    * the last `StreamingQueryProgress` (parallelism = its shuffle-partition
    * count), `durations` = the progress's phase durations, checkpoints =
    * committed-batch counts + commit duration + state size. */
  def details(id: String): Option[JobDetails] = {
    val batch = batchJobs.collectFirst { case (jid, j) if jid.toString == id => (jid, j) }
    batch match {
      case Some((jid, j)) =>
        val vertices = jobToExecution.get(jid).flatMap(executionPlans.get) match {
          case Some(plan) => flatten(plan).map(n =>
            VertexInfo(n.nodeName, spark.sparkContext.defaultParallelism, j.state))
          case None => Nil
        }
        Some(JobDetails(j, vertices, Map.empty, None))
      case None =>
        streamJobs.collectFirst { case (uid, j) if uid.toString == id => (uid, j) }
          .map { case (uid, j) =>
            val prog = streamProgress.get(uid)
            val vertices = prog.toSeq.flatMap(_.stateOperators.toSeq).map { so =>
              VertexInfo(so.operatorName, so.numShufflePartitions.toInt, j.state,
                so.numRowsTotal, so.numRowsUpdated)
            }
            val durations: Map[String, Long] = prog match {
              case Some(p) =>
                import scala.jdk.CollectionConverters._
                p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap
              case None => Map.empty
            }
            val ckpt = prog.map { p =>
              val commits = streamCommits.getOrElse(uid, 0L)
              val failed = streamFailures.getOrElse(uid, 0L)
              CheckpointStats(
                total = commits + failed,
                completed = commits,
                failed = failed,
                latestCompleted = commits > 0,
                lastCommitDurationMs =
                  durations.getOrElse("walCommit", 0L) +
                    durations.getOrElse("commitOffsets", 0L) +
                    durations.getOrElse("commitBatch", 0L),
                stateRows = p.stateOperators.map(_.numRowsTotal).sum,
                stateBytes = p.stateOperators.map(_.memoryUsedBytes).sum)
            }
            JobDetails(j, vertices, durations, ckpt)
          }
    }
  }

  /** Retained checkpoint history for a streaming query (oldest→newest,
    * ring-capped at [[MaxCheckpointHistory]]) — the `history` list the
    * reference reads from `/jobs/{jid}/checkpoints`
    * (flinkJobClient.ts:180-188). Batch jobs have no checkpoints: empty. */
  def checkpointHistory(id: String): Seq[CheckpointEntry] =
    streamHistory.collectFirst {
      case (uid, h) if uid.toString == id => h
    }.getOrElse(Vector.empty)

  private def flatten(p: SparkPlanInfo): Seq[SparkPlanInfo] =
    p +: p.children.flatMap(flatten)

  /** Cancel by id (flinkJobClient.ts:164-175 analogue): a RUNNING stream
    * stops through `stopStream`, which cancels the operation that owns the
    * query (the gateway passes `SessionManager.cancelStream`); a batch job
    * cancels its job group. */
  def cancel(id: String, stopStream: String => Boolean): Boolean =
    if (streamJobs.exists { case (uid, j) => uid.toString == id && j.state == "RUNNING" })
      stopStream(id)
    else jobGroups.collectFirst { case (jid, g) if jid.toString == id && g.nonEmpty => g }
      .exists { g => spark.sparkContext.cancelJobGroup(g); true }

  def close(): Unit = spark.sparkContext.removeSparkListener(sparkListener)
}
