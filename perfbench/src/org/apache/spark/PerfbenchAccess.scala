package org.apache.spark

/** The one engine-internal hook the harness needs: drain the listener bus
  * so every job, task and block event of a finished operation has reached
  * the ledger before it is read. */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
