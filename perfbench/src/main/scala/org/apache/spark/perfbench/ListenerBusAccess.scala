package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; a span's records are
  * complete only once the bus has drained. `waitUntilEmpty` is
  * `private[spark]`, hence this accessor inside the `org.apache.spark`
  * package. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
