package graft

import org.apache.spark.sql.SparkSession

/** The local session every fixture harness runs on (Bench, Verify,
  * DumpPlanFiles and the test suites): `local[cores]` with as many
  * shuffle partitions, UTC, no UI, the native functions injected, and
  * the O(n^2) exact ground-truth twin (q_dedup_embedding) allowed —
  * production sessions must not allow it. */
object FixtureSession {
  def apply(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.graft.allowQuadratic", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
