package org.apache.spark

/** Bridge into `private[spark]` surface: drains the listener bus, so a
  * counter a listener keeps is complete for every job that already ran
  * (job and task events are posted asynchronously). The side harness reads
  * its listener only after this, and specs use it for exact job counts.
  */
object GraftBridge {
  def waitUntilListenerBusEmpty(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
