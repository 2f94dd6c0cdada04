package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.jdk.CollectionConverters._

/** The plans a key's build really runs. Building a frame can run query
  * actions of its own (persistEager's count, a checkpoint's
  * localCheckpoint, a driver-side collect), so the returned frame's plan
  * alone is not the program a session executes. `apply` listens while
  * `build` runs and returns, in order, `(funcName, QueryExecution)` for
  * every action the build ran, then `("result", qe)` for the returned
  * frame. `command` actions are left out: they are store writes and
  * temp-view DDL, which a cold store runs only on its first build and
  * which are not data plans. Used by DumpPlanFiles and the plan specs. */
object PlanCapture {
  def apply(spark: SparkSession)(build: => DataFrame)
      : Seq[(String, QueryExecution)] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        if (funcName != "command") seen.add(funcName -> qe)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    def drain(): Unit =
      org.apache.spark.PlanCaptureBus.drain(spark.sparkContext)
    // drain first too, so an earlier action's event cannot land here
    drain()
    spark.listenerManager.register(listener)
    val df = try build finally {
      drain()
      spark.listenerManager.unregister(listener)
    }
    seen.asScala.toSeq :+ ("result" -> df.queryExecution)
  }
}
