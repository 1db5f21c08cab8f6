package org.apache.spark

/** The one Spark internal the job counters (`graft.Tool jobs`, the
  * job-budget specs) need.
  */
object ListenerBusAccess {
  /** The listener bus delivers events asynchronously; a job count is read
    * only after every event posted so far has been handled.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
