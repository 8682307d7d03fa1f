package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every posted listener event has been delivered, so counts
  * read after a request include the jobs and tasks that request ran.
  * Lives under `org.apache.spark` because the listener bus is private to it.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
