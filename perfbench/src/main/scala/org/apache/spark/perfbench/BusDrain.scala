package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every listener-bus event posted so far has been
  * delivered. Spark keeps the bus `private[spark]`; the tracer needs
  * the drain so that detaching its listener after a traced operation
  * loses none of that operation's task events.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
