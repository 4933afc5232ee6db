package org.apache.spark.graftspec

import org.apache.spark.SparkContext

/** Blocks until every listener-bus event posted so far has been
  * delivered — Spark keeps the bus `private[spark]`, and a job-counting
  * spec must not read its counter before the events arrive.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
