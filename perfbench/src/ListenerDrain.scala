package org.apache.spark

/** Blocks until every event posted so far has reached every listener.
  * The traced run calls it at query and step boundaries so listener
  * counts land on the query that caused them; the bus is private to
  * Spark, hence this one-line bridge in Spark's package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
