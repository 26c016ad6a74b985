package graft

import java.nio.file.{Files, Path}
import scala.collection.concurrent.TrieMap
import graft.engine._
import graft.sources.PacedRate
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** The unbounded datagen source's contract: Spark's `rate` rows, released
  * as soon as their timestamps pass, continued across restarts. */
class PacedRateSpec extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = GraftSession.local("4")

  private def awaitTrue(what: String, deadlineMs: Long = 30000)(cond: => Boolean): Unit = {
    val end = System.currentTimeMillis() + deadlineMs
    while (!cond && System.currentTimeMillis() < end) Thread.sleep(50)
    assert(cond, what)
  }

  /** Runs `source` into a foreachBatch sink on `checkpoint` until `enough`
    * holds of the rows so far; returns (value, timestamp ms) per batch id.
    * A batch replayed after a restart overwrites its earlier delivery. */
  private def collect(source: DataFrame, checkpoint: Path,
      batches: TrieMap[Long, Seq[(Long, Long)]] = TrieMap.empty)(
      enough: Seq[(Long, Long)] => Boolean): TrieMap[Long, Seq[(Long, Long)]] = {
    val q = source.writeStream
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .option("checkpointLocation", checkpoint.toString)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        batches(id) = batch.collect().toSeq.map(r =>
          (r.getLong(1), r.getTimestamp(0).getTime))
      }.start()
    try awaitTrue("the stream should deliver its rows")(enough(batches.values.flatten.toSeq))
    finally q.stop()
    batches
  }

  private def paced(rps: Int): DataFrame =
    spark.readStream.format(classOf[PacedRate].getName).option("rowsPerSecond", rps).load()

  private def startMs(checkpoint: Path): Long =
    Files.readString(checkpoint.resolve("sources/0/0")).trim.toLong

  test("yields the rows of the rate formula, the same as Spark's rate source") {
    for (rps <- Seq(50, 300)) {
      val ck = tempDir("graft-paced")
      val rows = collect(paced(rps), ck)(_.size >= 2 * rps).values.flatten.toSeq
      val start = startMs(ck)
      assert(rows.map(_._1).sorted == (0L until rows.size.toLong), s"$rps rows/s: values")
      rows.foreach { case (v, ts) =>
        assert(ts == start + math.round(v * 1000.0 / rps), s"$rps rows/s: row $v at $ts")
      }
      // Spark's own rate source at the same rate, timed from its row 0
      val rateCk = tempDir("graft-rate")
      val rate = collect(
        spark.readStream.format("rate").option("rowsPerSecond", rps).load(), rateCk)(
        _.size >= rps).values.flatten.toMap
      val t0 = rate(0L)
      val ours = rows.toMap
      val common = rate.keySet.intersect(ours.keySet)
      assert(common.size >= rps, s"$rps rows/s: ${common.size} common values")
      common.foreach(v => assert(rate(v) - t0 == ours(v) - start, s"$rps rows/s: row $v"))
    }
  }

  private def withStreamingSession(body: EngineSession => Unit): Unit = {
    val es = new EngineSession(spark.newSession())
    try {
      es.executeSync("SET 'execution.runtime-mode' = 'streaming'")
      es.executeSync("SET 'execution.checkpointing.interval' = '250ms'")
      es.executeSync(
        """CREATE TABLE paced_clicks (user_id INT, ts TIMESTAMP(3),
          |  WATERMARK FOR ts AS ts - INTERVAL '1' SECOND) WITH (
          |'connector' = 'datagen', 'rows-per-second' = '50',
          |'fields.user_id.min' = '1', 'fields.user_id.max' = '100')""".stripMargin)
      body(es)
    } finally es.close()
  }

  test("a fresh query's first micro-batch already holds rows") {
    withStreamingSession { es =>
      for (round <- 1 to 3) {
        val h = es.execute("SELECT user_id FROM paced_clicks")
        val info = es.ops.get(h).get
        awaitTrue(s"round $round: the query should commit a micro-batch") {
          info.error.foreach(throw _)
          info.streamingQuery.exists(_.lastProgress != null)
        }
        val first = info.streamingQuery.get.recentProgress.head
        es.ops.cancel(h)
        assert(first.batchId == 0L)
        assert(first.numInputRows > 0, s"round $round: the first micro-batch was empty")
      }
    }
  }

  test("a 2 s TUMBLE at 50 rows/s counts at most 100 rows per window") {
    withStreamingSession { es =>
      val h = es.execute(
        """SELECT TUMBLE_START(ts, INTERVAL '2' SECOND) AS w_start, COUNT(*) AS n
          |FROM paced_clicks GROUP BY TUMBLE(ts, INTERVAL '2' SECOND)""".stripMargin)
      val info = es.ops.get(h).get
      def counts = info.store.toSeq.flatMap(_.snapshot()).map(_(1).asInstanceOf[Long])
      awaitTrue("a whole window should count 100 rows") {
        info.error.foreach(throw _)
        counts.contains(100L)
      }
      es.ops.cancel(h)
      assert(counts.max == 100L, s"window counts $counts")
    }
  }

  test("a query restarted on its checkpoint neither repeats nor skips a value") {
    val ck = tempDir("graft-paced-restart")
    val batches = collect(paced(50), ck)(_.size >= 20)
    val firstRun = batches.values.flatten.map(_._1).max
    collect(paced(50), ck, batches)(_.exists(_._1 > firstRun + 20))
    val rows = batches.toSeq.sortBy(_._1).flatMap(_._2.sortBy(_._1))
    val values = rows.map(_._1)
    assert(values == (0L until values.size.toLong), "values in batch order")
    val start = startMs(ck)
    rows.foreach { case (v, ts) => assert(ts == start + v * 20, s"row $v at $ts") }
  }
}
