package graft

/** Dev tool: write `.explain("formatted")` output for the named queries
  * to individual files — the per-round plan evidence
  * (plans/r{N}/<query>_{before,after}.txt).
  *
  * Usage: runMain graft.DumpPlanFiles <outDir> <suffix> <k1,k2,...> [sfDir]
  *
  * Same session as the test suites (FixtureSession at 4 cores). Each
  * file holds the plans the key's build runs (PlanCapture): every
  * build-time action's plan under an `== <action> ==` header, then the
  * returned frame's plan under `== result ==`. Like every caller of
  * SparkEntry.queries, it clears the cache after each key.
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
    val spark = FixtureSession(4)
    spark.sparkContext.setLogLevel("ERROR")
    keys.foreach { k =>
      val plans =
        try PlanCapture(spark)(SparkEntry.queries(k)(spark, sfDir))
          .map { case (action, qe) =>
            s"== $action ==\n" + qe.explainString(
              org.apache.spark.sql.execution.FormattedMode)
          }
        finally spark.catalog.clearCache()
      java.nio.file.Files.write(outDir.resolve(s"${k}_$suffix.txt"),
        plans.mkString("\n").getBytes("UTF-8"))
      println(s"[dumpplanfiles] wrote ${k}_$suffix.txt")
    }
    spark.stop()
  }
}
