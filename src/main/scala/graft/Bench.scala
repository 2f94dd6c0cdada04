package graft

/** Per-key timer: every declared query against SPARK_GRAFT_SF_DIR, one
  * durable JSON record file plus two JSON lines on stdout.
  *
  * Measurement notes:
  *  - each query is materialized with a noop-format write, not `.count()`
  *    — a bare count lets Catalyst eliminate the final global sort and
  *    prune projections, under-measuring the dominant operator;
  *  - one warmup pass (q_agg_group) amortizes JIT/codegen startup so
  *    single-iteration timings aren't dominated by first-class-load cost;
  *  - the cache is cleared after every query, so each pass starts cold;
  *  - a query that throws is reported as "failed", never as a timing;
  *  - each query runs SPARK_GRAFT_BENCH_ITERS (default 2) passes and
  *    reports the MIN for < 3 passes and the MEDIAN for 3+: a transient
  *    host-load event smears one pass, rarely both.
  *
  * Paired, bounded measurement of the bridge and a fixed analytics set
  * lives in `perfbench/`; this main is the whole-suite (or targeted,
  * via SPARK_GRAFT_BENCH_ONLY) timing record.
  */
object Bench {
  /** The full record (the stdout contract line and the durable file)
    * and the compact last stdout line. The compact line carries every
    * scalar plus a pointer to the durable file and stays short enough
    * to survive a bounded stdout tail; `"compact":true` tells a
    * last-line reader it has no `queries` map. Both keep
    * `"metric":"total"`. A smear report (see BenchBaseline) names its
    * gate row on both lines, lists the keys on the full line and counts
    * them on the compact one. */
  private[graft] def recordLines(results: Seq[(String, Double)],
      failed: Seq[String], only: Set[String], skip: Set[String],
      iters: Int, cpus: String, sfDir: String, outPath: String,
      smear: Option[(String, Seq[String])]): (String, String) = {
    // 4-decimal (0.1 ms) precision: sub-0.1ms digits are pure noise
    def fmt(v: Double): String = BigDecimal(v)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
    def strs(xs: Iterable[String]): String =
      xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // a partial run says so, so it can never read as a full-suite record
    val subset =
      (if (only.isEmpty) "" else s""","only":${strs(only.toSeq.sorted)}""") +
      (if (skip.isEmpty) "" else s""","skipped":${strs(skip.toSeq.sorted)}""")
    // min-of-2 and median-of-n are different statistics: say which
    val stat = if (iters < 3) "min" else "median"
    val (smearFull, smearCompact) = smear.fold(("", "")) { case (p, ks) =>
      val at = s""","smear_baseline":"$p""""
      (s"""$at,"smeared":${strs(ks)}""", s"""$at,"n_smeared":${ks.size}""")
    }
    val head = s""""metric":"total","value":${fmt(results.map(_._2).sum)},"unit":"sec""""
    val tail = s""""failed":${strs(failed)}$subset,"iters":$iters,"stat":"$stat","cpus":$cpus,"sf":"$sfDir""""
    (s"""{$head,"queries":$qs$smearFull,$tail}""",
      s"""{$head,"compact":true,"n_queries":${results.size},"queries_file":"$outPath"$smearCompact,$tail}""")
  }

  private def keyList(env: String): Set[String] = {
    val names = sys.env.getOrElse(env, "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    // a silent skip would record an empty run as a passing one
    names.foreach(n => require(SparkEntry.queries.contains(n),
      s"$env names unknown query '$n'"))
    names
  }

  def main(args: Array[String]): Unit = {
    // cpus must be known BEFORE the session exists (master URL), so it
    // stays env-only; everything post-session reads GraftConfig.
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val iters = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "2").toInt)
    // SPARK_GRAFT_BENCH_ONLY=q_a,q_b times just those keys (the
    // single-operator loop and the scale probes); SPARK_GRAFT_BENCH_SKIP
    // is its exclusion twin (the sf1 leg drops the O(n^2) ground-truth
    // twin q_dedup_embedding).
    val only = keyList("SPARK_GRAFT_BENCH_ONLY")
    val skip = keyList("SPARK_GRAFT_BENCH_SKIP")
    // A subset run defaults to its own file and may never overwrite
    // BENCH_LOCAL.json, the full-suite record. The full-suite default is
    // cpus-suffixed so a scaling leg at another core count cannot
    // clobber the main record; SPARK_GRAFT_BENCH_OUT still wins.
    val partial = only.nonEmpty || skip.nonEmpty
    val defaultOut =
      if (!partial) s"BENCH_LOCAL_c$cpus.json" else "BENCH_ONLY_LOCAL.json"
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", defaultOut)
    require(!partial ||
        java.nio.file.Paths.get(outPath).getFileName.toString
          != "BENCH_LOCAL.json",
      "SPARK_GRAFT_BENCH_ONLY/SKIP is set: refusing to write a partial " +
        "run to BENCH_LOCAL.json (the full-suite record); pick another " +
        "SPARK_GRAFT_BENCH_OUT")

    val spark = FixtureSession(cpus.toInt)
    val sfDir = GraftConfig.from(spark).sfDir

    // The caller frees what a key's build cached (the materialization
    // contract, queries/package.scala): clearing AFTER each query also
    // keeps every timing measured against a cold cache and no GC
    // pressure from earlier keys.
    def run(name: String): Unit =
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      finally spark.catalog.clearCache()

    // Warmup: JIT + codegen + parquet footer caches.
    try run("q_agg_group") catch { case _: Throwable => () }

    val failed = scala.collection.mutable.ArrayBuffer[String]()
    val results = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => (only.isEmpty || only(n)) && !skip(n))
      .flatMap { name =>
        try {
          val times = (1 to iters).map { _ =>
            val t0 = System.nanoTime()
            run(name)
            (System.nanoTime() - t0) / 1e9
          }.sorted
          // min for 1-2 passes (a median of 2 would report the WORSE
          // one), median for 3+
          Some(name ->
            (if (times.length < 3) times.head else times(times.length / 2)))
        } catch { case e: Throwable =>
          failed += name
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          None
        }
      }

    // A full-suite run reports the keys smeared against the latest
    // committed gate row of the same fixture.
    val smear = if (partial) None
      else BenchBaseline.report(java.nio.file.Paths.get("."), sfDir, results)
    val (json, compact) = recordLines(results, failed.toSeq, only, skip,
      iters, cpus, sfDir, outPath, smear)
    // The file is the record; a bounded stdout tail can arrive
    // front-truncated.
    java.nio.file.Files.write(
      java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes("UTF-8"))
    spark.stop()
    // The full contract line first, the compact line LAST so a bounded
    // tail always holds it whole.
    println(json)
    println(compact)
  }
}
