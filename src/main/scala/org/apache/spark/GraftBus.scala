package org.apache.spark

/** Lives in the `org.apache.spark` package only to reach the
  * `private[spark]` listener bus: code that counts jobs or bytes with
  * a listener (`graft.Dev profile`, the job-count specs) reads its
  * counts after every queued event is delivered.
  */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
