package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * per-batch listener counts are read only after every event of the batch
  * has been delivered.
  */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
