package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import graft.engine._
import jdk.jfr.consumer.{RecordedEvent, RecordingStream}
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Checkpoint, state-store and file-sink writes start no processes (the
  * `GraftSession` doc says why that matters). */
class LocalWritesSpec extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = GraftSession.local("4")

  private def awaitTrue(what: String, deadlineMs: Long = 30000)(cond: => Boolean): Unit = {
    val end = System.currentTimeMillis() + deadlineMs
    while (!cond && System.currentTimeMillis() < end) Thread.sleep(50)
    assert(cond, what)
  }

  test("file:// is the fork-free local file system") {
    val fs = FileSystem.get(new java.net.URI("file:///"), spark.sessionState.newHadoopConf())
    assert(fs.getClass == classOf[LocalFiles], s"file:// is ${fs.getClass.getName}")
  }

  test("a TUMBLE stream and an INSERT OVERWRITE start no Hadoop shell process") {
    val es = new EngineSession(spark.newSession())
    val sinkDir = tempDir("graft-fs-nofork")
    // every process start whose stack passes through Hadoop's Shell: the
    // chmod, readlink, ls and stat forks of its local file system
    val shellStarts = new ConcurrentLinkedQueue[String]()
    val flushes = new AtomicInteger()
    val rs = new RecordingStream()
    rs.enable("jdk.ProcessStart").withStackTrace()
    rs.onEvent("jdk.ProcessStart", (e: RecordedEvent) => {
      val frames = Option(e.getStackTrace).map(_.getFrames.asScala).getOrElse(Nil)
      if (frames.exists(_.getMethod.getType.getName.startsWith("org.apache.hadoop.util.Shell")))
        shellStarts.add(e.getString("command"))
    })
    rs.onFlush(() => flushes.incrementAndGet())
    rs.startAsync()
    try {
      es.executeSync("SET 'execution.runtime-mode' = 'streaming'")
      es.executeSync("SET 'execution.checkpointing.interval' = '250ms'")
      es.executeSync(
        """CREATE TABLE nofork_clicks (page_id INT, ts TIMESTAMP(3),
          |  WATERMARK FOR ts AS ts - INTERVAL '1' SECOND) WITH (
          |'connector' = 'datagen', 'rows-per-second' = '50',
          |'fields.page_id.min' = '1', 'fields.page_id.max' = '5')""".stripMargin)
      val h = es.execute(
        """SELECT TUMBLE_START(ts, INTERVAL '2' SECOND) AS w_start, COUNT(*) AS n
          |FROM nofork_clicks GROUP BY TUMBLE(ts, INTERVAL '2' SECOND)""".stripMargin)
      val info = es.ops.get(h).get
      awaitTrue("the TUMBLE stream should commit 3 micro-batches") {
        info.error.foreach(throw _)
        info.streamingQuery.exists(_.recentProgress.count(_.numInputRows > 0) >= 3)
      }
      es.ops.cancel(h)
      es.executeSync("SET 'execution.runtime-mode' = 'batch'")
      es.executeSync(
        s"""CREATE TABLE nofork_sink (page_id INT, n BIGINT) WITH (
           |'connector' = 'filesystem', 'path' = '$sinkDir', 'format' = 'parquet')""".stripMargin)
      es.executeSync("INSERT OVERWRITE nofork_sink " +
        "SELECT id AS page_id, id * 2 AS n FROM VALUES (1), (2), (3) AS t(id)")
      assert(sinkDir.toFile.list().exists(_.endsWith(".parquet")), "the INSERT wrote no file")
      // events reach onEvent at the stream's next flushes
      val seen = flushes.get()
      awaitTrue("the recording should flush", 15000)(flushes.get() >= seen + 2)
    } finally {
      rs.close()
      es.close()
    }
    assert(shellStarts.isEmpty,
      s"${shellStarts.size} Hadoop shell processes: ${shellStarts.asScala.take(5).mkString("; ")}")
  }
}
