package org.apache.spark

/** The one Spark-internal call the traced run needs: wait until every
  * posted listener event has been delivered, so counters read at an
  * operation boundary belong to that operation. */
object ListenerAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
