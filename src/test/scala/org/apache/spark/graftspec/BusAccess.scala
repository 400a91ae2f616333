package org.apache.spark.graftspec

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; a spec that counts jobs with a
  * listener waits on it so that every job event has been delivered before
  * it reads the counts.
  */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
