package org.apache.spark

import scala.jdk.CollectionConverters._

/** Reads the listeners on a SparkContext's shared bus, which Spark keeps
  * package-private. */
object ListenerBusProbe {

  /** Streaming-query listener buses on the shared bus: Spark registers one
    * for every session whose `streams` manager gets created, and never
    * removes it. */
  def streamingQueryBuses(sc: SparkContext): Int =
    sc.listenerBus.listeners.asScala
      .count(_.getClass.getSimpleName == "StreamingQueryListenerBus")
}
