package graft.engine

import java.lang.ref.WeakReference
import org.scalatest.funsuite.AnyFunSuite

/** What `SessionManager.close` must release: a notebook session's child
  * SparkSession must become unreachable once closed, while a job registry
  * observes its queries — a long-lived gateway opens and closes sessions
  * without end. */
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
}
