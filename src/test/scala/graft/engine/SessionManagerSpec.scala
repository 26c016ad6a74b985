package graft.engine

import java.lang.ref.WeakReference
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Encoders, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** What `SessionManager.close` must release: a notebook session's child
  * SparkSession must become unreachable once closed, while a job registry
  * observes its queries — a long-lived gateway opens and closes sessions
  * without end. And what sessions must share: the tasks of every session run
  * under one class loader, so code generated for one session is compiled
  * once for all of them. */
class SessionManagerSpec extends AnyFunSuite {

  private lazy val spark = graft.GraftSession.local("4")

  private def await(es: EngineSession, h: OperationHandle): OpStatus.Value = {
    val end = System.currentTimeMillis() + 30000
    while (Set(OpStatus.Pending, OpStatus.Running).contains(es.ops.status(h)) &&
      System.currentTimeMillis() < end) Thread.sleep(20)
    es.ops.status(h)
  }

  /** Opens `id`, runs one batch and one streaming statement, closes it.
    * Only a weak reference to the child leaves this frame. */
  private def runAndClose(sm: SessionManager, id: String): WeakReference[AnyRef] = {
    val es = sm.getOrCreate(id, Map("execution.runtime-mode" -> "batch"))
    val child = new WeakReference[AnyRef](es.spark)
    assert(await(es, es.execute("SELECT 1 AS x")) == OpStatus.Finished)
    es.executeSync("SET 'execution.runtime-mode' = 'streaming'")
    es.executeSync("CREATE TABLE clicks (user_id INT) WITH ('connector'='datagen'," +
      "'rows-per-second'='50','fields.user_id.min'='1','fields.user_id.max'='5')")
    val stream = es.execute("SELECT user_id, COUNT(*) AS n FROM clicks GROUP BY user_id")
    val end = System.currentTimeMillis() + 30000
    while (es.ops.fetch(stream, 0).rows.isEmpty && System.currentTimeMillis() < end)
      Thread.sleep(100)
    assert(es.ops.status(stream) == OpStatus.Running, "the stream should be running")
    sm.close(id)
    child
  }

  test("a closed session's child SparkSession becomes unreachable") {
    val registry = new JobRegistry(spark)
    try {
      val sm = new SessionManager(spark)
      val child = runAndClose(sm, "nb")
      assert(sm.get("nb").isEmpty && sm.active.isEmpty)
      var gcs = 0
      while (child.get != null && gcs < 50) { System.gc(); Thread.sleep(50); gcs += 1 }
      assert(child.get == null, s"child SparkSession still reachable after $gcs full GCs")
    } finally registry.close()
  }

  test("sessions share one task class loader, so generated code compiles once") {
    val sm = new SessionManager(spark)
    try {
      val a = sm.getOrCreate("nb-a")
      val b = sm.getOrCreate("nb-b")
      val (loadersA, loadersB) = (SessionManagerSpec.taskLoaders(a.spark),
        SessionManagerSpec.taskLoaders(b.spark))
      assert(loadersA.size == 1 && loadersA == loadersB,
        s"task class loaders: A $loadersA, B $loadersB")
      val agg = "SELECT product_id, COUNT(*) AS n, SUM(quantity) AS qty FROM orders_gen " +
        "GROUP BY product_id"
      Seq(a, b).foreach(_.executeSync(
        "CREATE TABLE orders_gen (order_id INT, product_id INT, quantity INT) WITH (" +
          "'connector' = 'datagen', 'number-of-rows' = '10000', " +
          "'fields.order_id.kind' = 'sequence', 'fields.order_id.start' = '1', " +
          "'fields.order_id.end' = '10000', 'fields.product_id.min' = '1', " +
          "'fields.product_id.max' = '20', 'fields.quantity.min' = '1', " +
          "'fields.quantity.max' = '10')"))
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
      val inA = a.executeSync(agg).handle
      assert(a.ops.fetch(inA, 0).rows.size == 20)
      val before = compiles.getCount
      val inB = b.executeSync(agg).handle
      assert(b.ops.fetch(inB, 0).rows.size == 20)
      val recompiled = compiles.getCount - before
      assert(recompiled == 0, s"B compiled $recompiled classes that A had already compiled")
    } finally sm.closeAll()
  }
}

object SessionManagerSpec {
  /** Identities of the context class loaders that a job's tasks run under. */
  def taskLoaders(s: SparkSession): Set[Int] =
    s.range(0, 8, 1, 4)
      .mapPartitions(_ => Iterator(System.identityHashCode(Thread.currentThread.getContextClassLoader)))(
        Encoders.scalaInt)
      .collect().toSet
}
