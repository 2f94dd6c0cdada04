package org.apache.spark

/** Lets graft.PlanCapture wait until every listener event queued so far
  * has been delivered (`listenerBus` is private to this package). */
object PlanCaptureBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
