package graft.engine

import scala.collection.concurrent.TrieMap
import org.apache.spark.sql.SparkSession

/** One EngineSession per notebook, isolated via `SparkSession.newSession()`
  * — separate SQLConf, temp views, and current database over a shared
  * SparkContext, task class loader and generated-code cache (see
  * [[graft.GraftSession]]). Mirrors the reference's per-notebook gateway
  * session (flinkNotebookController.ts:932-977, SURVEY §1.1 sessions row).
  */
final class SessionManager(root: SparkSession) {
  private val sessions = TrieMap.empty[String, EngineSession]

  def getOrCreate(notebookId: String,
      properties: Map[String, String] = Map.empty): EngineSession =
    sessions.getOrElseUpdate(notebookId, {
      val child = root.newSession()
      val (engineProps, sparkProps) =
        properties.partition(_._1.startsWith("execution."))
      sparkProps.foreach { case (k, v) => child.conf.set(k, v) }
      val es = new EngineSession(child)
      // engine-routed keys (runtime-mode, checkpointing.*) go through SET
      // so they get the same handling as in-session statements
      engineProps.foreach { case (k, v) =>
        es.executeSync(s"SET '$k' = '$v'")
      }
      es
    })

  /** Cancels the operation running stream `queryId`, as an operation DELETE does. */
  def cancelStream(queryId: String): Boolean = sessions.values.exists(_.ops.cancelStream(queryId))

  /** The open session, if any — never creates one. */
  def get(notebookId: String): Option[EngineSession] = sessions.get(notebookId)

  def close(notebookId: String): Unit =
    sessions.remove(notebookId).foreach(_.close())

  def closeAll(): Unit = { sessions.keys.foreach(close); }
  def active: Seq[String] = sessions.keys.toSeq
}
