package org.apache.spark.graftspec

import org.apache.spark.SparkContext

/** Test-side access to the live listener bus (`private[spark]`): specs
  * that count Spark jobs drain it before reading their listener's tally,
  * so every event of the code under test has been delivered.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
