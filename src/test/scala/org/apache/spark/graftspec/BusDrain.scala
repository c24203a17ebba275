package org.apache.spark.graftspec

import org.apache.spark.SparkContext

/** Access to the listener bus's drain (`private[spark]`), so a spec can
  * count the events of one call before asserting on them. Lives under
  * `org.apache.spark` only for access; contains no logic. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
