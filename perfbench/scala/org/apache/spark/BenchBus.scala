package org.apache.spark

/** The listener bus drain is package-private to Spark; the benchmark needs
  * it so that every listener event of a pass has been delivered before the
  * pass's record is read. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
