package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus's drain (`private[spark]`), so a traced run
  * can attribute every event of one operation before starting the next.
  * Lives under `org.apache.spark` only for access; contains no logic. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
