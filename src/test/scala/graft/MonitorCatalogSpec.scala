package graft

import graft.engine._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class MonitorCatalogSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local("4")

  test("catalog tree walk: SHOW/DESCRIBE parity + temp views visible") {
    val session = new EngineSession(spark)
    session.executeSync(
      """CREATE TABLE cat_probe (id INT, name STRING) WITH (
        |'connector' = 'datagen', 'number-of-rows' = '5')""".stripMargin)
    val cats = CatalogOps.showCatalogs(spark).collect().map(_.getString(0))
    assert(cats.contains("spark_catalog"))
    val tree = CatalogOps.catalogTree(spark)
    assert(tree.exists(_.table == "cat_probe"))
    val desc = CatalogOps.describe(spark, "cat_probe").collect()
    // reference tolerates col_name/data_type spellings (catalogService.ts:203-205)
    val cols = desc.map(r => (r.getString(0), r.getString(1))).toMap
    assert(cols.get("id").contains("int") && cols.get("name").contains("string"))
  }

  test("catalog tree walk: nested namespaces quoted per part, not as one identifier") {
    // a nested namespace comes back from SHOW NAMESPACES as a DOTTED string
    // ('a.b'); quoting it whole would produce `cat`.`a.b` and miss/break
    // the walk
    spark.conf.set("spark.sql.catalog.nested",
      classOf[engine.NestedTestCatalog].getName)
    spark.sql("SHOW TABLES IN nested.a") // force-load so SHOW CATALOGS lists it
    val tree = CatalogOps.catalogTree(spark)
    assert(tree.contains(CatalogOps.TableEntry("nested", "a", "t1")), s"tree: $tree")
    assert(tree.contains(CatalogOps.TableEntry("nested", "a.b", "t2")), s"tree: $tree")
  }

  test("job registry: batch jobs tracked, streaming query lifecycle observed") {
    val reg = new JobRegistry(spark)
    try {
      spark.range(100000).selectExpr("sum(id)").collect()
      // listener delivery is async
      val deadline = System.currentTimeMillis() + 5000
      while (reg.overview().isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(reg.overview().values.flatten.nonEmpty)

      val session = new EngineSession(spark)
      session.executeSync(
        """CREATE TABLE reg_stream (v INT) WITH (
          |'connector' = 'datagen', 'rows-per-second' = '50')""".stripMargin)
      val h = session.execute("SELECT * FROM reg_stream")
      val d2 = System.currentTimeMillis() + 20000
      while (reg.streaming().isEmpty && System.currentTimeMillis() < d2)
        Thread.sleep(200)
      assert(reg.streaming().nonEmpty, "streaming query should register")
      val sq = reg.streaming().head
      assert(sq.state == "RUNNING")
      // cancel through the registry (job-monitor cancel path)
      assert(reg.cancel(sq.id, session.ops.cancelStream))
      val d3 = System.currentTimeMillis() + 10000
      while (reg.streaming().exists(_.state == "RUNNING") &&
        System.currentTimeMillis() < d3) Thread.sleep(200)
      assert(reg.streaming().exists(_.state == "CANCELED"))
    } finally reg.close()
  }

  test("job details: batch plan vertices + streaming stateOperators/checkpoints") {
    val reg = new JobRegistry(spark)
    try {
      // batch: executed-plan node tree becomes the vertex list
      spark.range(50000).selectExpr("sum(id)").collect()
      val deadline = System.currentTimeMillis() + 5000
      def batchDetails: Option[JobDetails] = reg.overview().values.flatten
        .flatMap(j => reg.details(j.id)).find(_.vertices.nonEmpty)
      while (batchDetails.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      val bd = batchDetails.get
      assert(bd.vertices.exists(v => v.name.toLowerCase.contains("aggregate")),
        s"plan vertices should include the aggregate, got ${bd.vertices.map(_.name)}")
      assert(bd.vertices.forall(_.parallelism > 0))

      // streaming agg: stateOperators become vertices; checkpoint stats
      // count committed micro-batches (flinkJobClient.ts:120-128,180-188)
      val session = new EngineSession(spark)
      session.executeSync(
        """CREATE TABLE det_stream (v INT) WITH (
          |'connector' = 'datagen', 'rows-per-second' = '200',
          |'fields.v.min' = '1', 'fields.v.max' = '5')""".stripMargin)
      val h = session.execute("SELECT v, COUNT(*) AS c FROM det_stream GROUP BY v")
      val d2 = System.currentTimeMillis() + 30000
      def streamDetails: Option[JobDetails] = reg.streaming().headOption
        .flatMap(j => reg.details(j.id))
        .filter(d => d.checkpoints.exists(_.completed > 0) &&
          d.vertices.exists(v => v.name == "stateStoreSave" && v.numRowsTotal > 0))
      while (streamDetails.isEmpty && System.currentTimeMillis() < d2)
        Thread.sleep(300)
      assert(streamDetails.nonEmpty,
        "stateStoreSave vertex with keyed state rows should appear")
      val sd = streamDetails.get
      assert(sd.vertices.exists(_.parallelism > 0))
      val ck = sd.checkpoints.get
      assert(ck.completed > 0 && ck.latestCompleted && ck.failed == 0)
      assert(sd.durations.contains("triggerExecution"))
      // retained checkpoint HISTORY (/jobs/:id/checkpoints `history` list):
      // one COMPLETED row per committed micro-batch, ids strictly
      // increasing, and the list length agrees with the completed count
      // (both keyed off batchId advancement)
      val hist = reg.checkpointHistory(sd.job.id)
      assert(hist.nonEmpty, "checkpoint history should retain committed batches")
      assert(hist.forall(_.status == "COMPLETED"))
      assert(hist.map(_.id) == hist.map(_.id).sorted &&
        hist.map(_.id).distinct.size == hist.size,
        s"history ids must strictly increase, got ${hist.map(_.id)}")
      // commits continue between the two reads, and history is ring-capped
      // while the completed counter is unbounded — compare against the
      // capped count and allow a couple of batches of skew
      val completedNow = math.min(
        reg.details(sd.job.id).get.checkpoints.get.completed,
        reg.MaxCheckpointHistory.toLong)
      assert(math.abs(hist.size.toLong - completedNow) <= 3,
        s"history length (${hist.size}) should track the committed-batch " +
          s"count ($completedNow)")
      assert(reg.checkpointHistory("no-such-job").isEmpty)
      session.ops.cancel(h)
    } finally reg.close()
  }

  test("job registry: the stream list keeps every running stream and a bounded tail") {
    import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryStartedEvent, QueryTerminatedEvent}
    val reg = new JobRegistry(spark)
    try {
      def start(id: java.util.UUID): Unit = reg.sparkListener.onOtherEvent(
        new QueryStartedEvent(id, java.util.UUID.randomUUID(), s"q-$id", "2026-01-01T00:00:00.000Z"))
      val running = Seq.fill(3)(java.util.UUID.randomUUID())
      running.take(2).foreach(start)
      val ended = Seq.fill(2000)(java.util.UUID.randomUUID())
      ended.zipWithIndex.foreach { case (id, i) =>
        start(id)
        reg.sparkListener.onOtherEvent(new QueryTerminatedEvent(id, java.util.UUID.randomUUID(),
          if (i % 2 == 0) None else Some("boom")))
        if (i == 1000) start(running(2))
      }
      val listed = reg.streaming()
      assert(listed.size <= reg.MaxStreams + 3, s"${listed.size} streams listed")
      assert(running.forall(id => listed.exists(j => j.id == id.toString && j.state == "RUNNING")))
      val evicted = ended.head.toString
      assert(!listed.exists(_.id == evicted))
      assert(reg.details(evicted).isEmpty)
      assert(reg.checkpointHistory(evicted).isEmpty)
      // the newest terminated streams stay, with their failed checkpoint row
      val last = ended.last.toString
      assert(reg.details(last).exists(_.job.state == "FAILED"))
      assert(reg.checkpointHistory(last).map(_.status) == Seq("FAILED"))
    } finally reg.close()
  }

  test("job registry: batch job records carry tasks, shuffle bytes, times and a description") {
    val reg = new JobRegistry(spark)
    val sc = spark.sparkContext
    try {
      // the group tells this query's jobs from any other job on the shared
      // context; no job description, so the record falls back to the call site
      sc.setJobGroup("batch-record", null)
      spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
      sc.clearJobGroup()
      org.apache.spark.ListenerBusProbe.drain(sc)
      val jobs = reg.jobs().filter(_.group == "batch-record")
      assert(jobs.nonEmpty && jobs.forall(_.state == "FINISHED"), s"$jobs")
      assert(jobs.map(_.tasks).sum > 0 && jobs.map(_.stages).sum > 0, s"$jobs")
      assert(jobs.map(_.shuffleWriteBytes).sum > 0 && jobs.map(_.shuffleReadBytes).sum > 0, s"$jobs")
      assert(jobs.forall(j => j.endMs >= j.startMs && j.description.nonEmpty), s"$jobs")
    } finally reg.close()
  }
}
