package org.apache.spark

/** Lets a spec wait until every listener event posted so far has been
  * delivered, so the status tracker reflects every job that has ended.
  * The bus is package-private to Spark.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
