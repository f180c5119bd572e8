package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; this package can reach it. */
object BusDrain {
  def drain(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty(60000L)
    catch { case _: java.util.concurrent.TimeoutException => () }
}
