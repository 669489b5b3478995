package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * traced runs wait for every queued event before they attribute them.
  */
object LoadbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
