package org.apache.spark

/** Lives in the `org.apache.spark` package only to reach the
  * `private[spark]` listener bus: a spec that counts jobs with a
  * listener reads the count after every queued event is delivered.
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
