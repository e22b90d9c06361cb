package org.apache.spark

/** Access to the listener bus's flush, which Spark keeps package-private:
  * the benchmark reads listener counters only after every event of the
  * measured work has been delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
