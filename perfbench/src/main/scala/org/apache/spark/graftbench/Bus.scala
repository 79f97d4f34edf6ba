package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Lets the harness wait until every listener has seen every event posted
  * so far (the listener bus is asynchronous, and its drain call is
  * package-private to Spark).
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
