package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously and its drain call is
  * `private[spark]`; this one-line bridge lets the benchmark read its
  * listeners only after every event of the timed loop has arrived.
  */
object BusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
