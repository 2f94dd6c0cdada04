package org.apache.spark

/** Lets the traced run wait until every listener event queued so far has
  * been delivered, so per-key attribution never leaks into the next key. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
