package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The one non-public Spark call the benchmark makes: draining the live
  * listener bus after each traced query, so every job, stage, task,
  * plan and micro-batch event of that query has been delivered before
  * the next query starts and the events can be attributed to it.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
