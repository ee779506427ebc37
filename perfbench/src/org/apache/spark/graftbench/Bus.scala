package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private. */
object Bus {
  /** Blocks until every event posted so far has reached the listeners.
    * An action posts its job's task-end and job-end events before it
    * returns, so after this a listener has seen all of that job. */
  def waitUntilEmpty(sc: SparkContext, timeoutMs: Long = 10000): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
