package org.apache.spark

/** The listener bus is `private[spark]`; a spec that counts jobs with a
  * listener drains it before reading the count, so no event is missed.
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
