package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every listener event posted so far has been delivered,
  * so the benchmark's listeners hold the complete record of an op
  * before its numbers are read. The bus is package-private to Spark,
  * hence this accessor's package.
  */
object Drain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
