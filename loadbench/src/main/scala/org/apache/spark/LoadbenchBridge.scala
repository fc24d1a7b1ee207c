package org.apache.spark

/** Access to the SparkContext's listener bus, which is package-private:
  * the traced run waits for every queued event before it attributes
  * Spark work to requests. */
object LoadbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
