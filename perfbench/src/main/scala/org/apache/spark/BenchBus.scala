package org.apache.spark

/** Lets the traced run wait until every listener event posted so far has
  * been delivered, so no event of a traced round is lost when its
  * listeners are removed. The bus is package-private to Spark.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
