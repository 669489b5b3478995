package org.apache.spark

/** The listener bus drain, which Spark keeps package-private: code that
  * counts jobs through a listener waits for every queued event before it
  * reads the count.
  */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
