package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: write `.explain("formatted")` output for the named queries
  * to individual files — the per-round plan evidence
  * (plans/r{N}/<query>_{before,after}.txt).
  *
  * Usage: runMain graft.DumpPlanFiles <outDir> <suffix> <k1,k2,...> [sfDir]
  *
  * Same session shape as the test session (TestSpark) plus eager
  * materialization disabled, so a dump never executes sketch jobs and
  * the dumped plan is the real pipeline rather than a post-checkpoint
  * LogicalRDD scan. Iterative fixpoint operators (pagerank / CC
  * consumers) therefore dump their lazy per-round chain — shape is still
  * readable, rounds are unrolled.
  */
object DumpPlanFiles {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: DumpPlanFiles <outDir> <suffix> <k1,k2,...> [sfDir]")
    val outDir = java.nio.file.Paths.get(args(0))
    val suffix = args(1)
    val keys = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.001"
    keys.foreach(k => require(SparkEntry.queries.contains(k),
      s"unknown query '$k'"))
    java.nio.file.Files.createDirectories(outDir)
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.graft.allowQuadratic", "true")
      .config("spark.graft.skipEagerMaterialize", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    keys.foreach { k =>
      val plan = SparkEntry.queries(k)(spark, sfDir)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(outDir.resolve(s"${k}_$suffix.txt"),
        plan.getBytes("UTF-8"))
      println(s"[dumpplanfiles] wrote ${k}_$suffix.txt")
    }
    spark.stop()
  }
}
