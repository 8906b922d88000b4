package org.apache.spark

/** The listener bus's drain is package-private to Spark; the benchmark
  * needs it so a traced span's jobs are all counted before they are
  * read. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
