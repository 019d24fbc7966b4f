package org.apache.spark

/** Lives in the `org.apache.spark` package only to reach the
  * `private[spark]` listener bus: the traced run must read its
  * listener-derived spans after every queued event has been delivered.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
