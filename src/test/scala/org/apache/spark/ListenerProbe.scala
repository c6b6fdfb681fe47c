package org.apache.spark

import scala.jdk.CollectionConverters._

/** Test-side view of the listeners registered on a context (the
  * listener bus is private[spark]).
  */
object ListenerProbe {
  def listeners(sc: SparkContext): Seq[scheduler.SparkListenerInterface] =
    sc.listenerBus.listeners.asScala.toSeq
}
