package org.apache.spark

/** The listener bus drain, which Spark keeps package-private: a spec that
  * counts jobs waits for every queued event before it reads the count.
  */
object SpecListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
