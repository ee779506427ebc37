package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Listener-bus drain for listeners read right after an action (the
  * job-count and stage-I/O checks in KMeansSpec and IoListenerSpec).
  * Spark posts job and stage events ASYNCHRONOUSLY, so a listener read
  * immediately after an action can miss the action's own final stages;
  * the only sound read-after-run protocol is to flush the bus first.
  * `listenerBus` is `private[spark]`, hence this one-file excursion into
  * the `org.apache.spark` namespace (the same trick Spark's own external
  * test harnesses use). */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
