package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus drain is private to Spark; a traced run needs it so
  * every event of a finished call is counted before its span closes. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
