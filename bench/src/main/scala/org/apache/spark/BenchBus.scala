package org.apache.spark

/** The listener bus is `private[spark]`; the traced run must see every
  * event of an operation before it attributes them, so it drains the bus
  * after each operation (outside the operation's timed region).
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
