package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: write `.explain("formatted")` output for the named queries
  * to individual files — the per-round plan evidence
  * (plans/r{N}/<query>_{before,after}.txt).
  *
  * Usage: runMain graft.DumpPlanFiles <outDir> <suffix> <k1,k2,...> [sfDir]
  *
  * Same session shape as the test session (TestSpark). Each file holds
  * the plans the key's build runs (PlanCapture): every build-time
  * action's plan under an `== <action> ==` header, then the returned
  * frame's plan under `== result ==`. A sketch query's result is
  * usually a checkpointed `Scan ExistingRDD`; its pipeline is the
  * `localCheckpoint` plan above it.
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
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    keys.foreach { k =>
      val plans = PlanCapture(spark)(SparkEntry.queries(k)(spark, sfDir))
        .map { case (action, qe) =>
          s"== $action ==\n" + qe.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        }
      java.nio.file.Files.write(outDir.resolve(s"${k}_$suffix.txt"),
        plans.mkString("\n").getBytes("UTF-8"))
      println(s"[dumpplanfiles] wrote ${k}_$suffix.txt")
    }
    spark.stop()
  }
}
