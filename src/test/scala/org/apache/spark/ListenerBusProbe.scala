package org.apache.spark

import scala.jdk.CollectionConverters._

/** Reaches into a SparkContext's shared listener bus, which Spark keeps
  * package-private. */
object ListenerBusProbe {

  /** Streaming-query listener buses on the shared bus: Spark registers one
    * for every session whose `streams` manager gets created, and never
    * removes it. */
  def streamingQueryBuses(sc: SparkContext): Int =
    sc.listenerBus.listeners.asScala
      .count(_.getClass.getSimpleName == "StreamingQueryListenerBus")

  /** Blocks until every event posted to the shared bus so far has been
    * delivered to every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
