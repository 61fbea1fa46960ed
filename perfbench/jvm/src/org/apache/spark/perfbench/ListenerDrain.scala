package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers task and job events asynchronously; a meter
  * read straight after an action can miss the action's last tasks. The
  * bus's drain call is package-private to Spark, hence this bridge. */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
