package graftbench

import graft.streaming.NetTransport
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Tests of the benchmark's own parts. Run with
  * `python3 perfbench/run.py --selftest`; prints one line per check and
  * exits non-zero when any fails. */
object SelfTest {
  private var failures = 0

  def check(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch { case e: Throwable =>
      failures += 1
      println(s"FAIL $name: $e")
    }

  def expect(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new AssertionError(msg)

  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0)).toAbsolutePath
    Files.createDirectories(work)

    check("percentile rule: ten samples beyond") {
      expect(Stats.samplesNeeded(50) == 20, "p50 needs 20")
      expect(Stats.samplesNeeded(90) == 100, "p90 needs 100")
      expect(Stats.samplesNeeded(99) == 1000, "p99 needs 1000")
      val xs = (1 to 99).map(_.toDouble)
      expect(Stats.percentile(xs, 90).isEmpty, "p90 of 99 samples is refused")
      expect(Stats.percentile(xs :+ 100.0, 90).contains(90.0), "p90 of 1..100 is 90")
      expect(Stats.percentile(xs.take(19), 50).isEmpty, "p50 of 19 samples is refused")
      expect(Stats.percentile(xs.take(20), 50).contains(10.0), "p50 of 1..20 is 10")
    }

    check("geometric mean: a group's factor shows whatever its size") {
      val keys = Seq(100.0, 200.0, 400.0, 5000.0, 6000.0, 7000.0)
      val slowSmall = keys.take(3).map(_ * 2) ++ keys.drop(3)
      expect(math.abs(Stats.geomean(slowSmall) / Stats.geomean(keys) - math.sqrt(2)) < 1e-9,
        "doubling half of the values, the smallest, moves it by sqrt(2)")
    }

    check("stage attribution by call site") {
      expect(CallSite.site("foreachPartition at Streams.scala:229") ==
        "foreachPartition at Streams.scala", "line number dropped")
      expect(CallSite.epochLayers(Seq(7, 5, 6)) ==
        Map(5 -> "route", 6 -> "route", 7 -> "publish"), "an epoch's last job publishes")
      expect(CallSite.isMaterialization("count at package.scala"), "persistEager")
      expect(CallSite.isMaterialization("localCheckpoint at CurationOps.scala"), "raw checkpoint")
      expect(!CallSite.isMaterialization("runJob at Digest.scala"), "final digest job")
      expect(CallSite.looksLikeSite("count at package.scala:47"), "an action's call site")
      expect(!CallSite.looksLikeSite("id = 1\nrunId = 2\nbatch = 0"), "a micro-batch description")
    }

    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      check("digest ignores row order but catches one changed cell") {
        val df = spark.range(0, 500).select(col("id"), (col("id") * 1.5).as("x"),
          concat(lit("r"), col("id").cast("string")).as("s"),
          array(col("id"), col("id") + 1).as("a"))
        val base = Digest.ofFrame(df)
        val shuffled = Digest.ofFrame(df.repartition(7).orderBy(col("id").desc))
        expect(base == shuffled, s"$base vs $shuffled after reordering")
        expect(base.rows == 500, s"${base.rows} rows")
        val changed = Digest.ofFrame(df.withColumn("s",
          when(col("id") === 321, lit("changed")).otherwise(col("s"))))
        expect(changed.rows == 500 && changed.sum != base.sum, "one changed cell is caught")
        val dupped = Digest.ofFrame(df.union(df.limit(1)))
        expect(dupped != base, "an extra duplicate row is caught")
      }

      check("stamping endpoint against NetTransport.publishPartition") {
        val ep = new StampingEndpoint
        try {
          val t = NetTransport(ep.addr)
          t.ensureTopic("t1")
          val rows = Seq("a", "b", "c", "b").map(d => ("t1", d, Map("path" -> "/p", "table" -> "x")))
          val before = System.nanoTime()
          t.publishPartition(rows.iterator)
          val r = ep.records("/p")
          expect(r.hashes.size == 3 && r.frames == 4 && r.dups == 1, s"${r.hashes.size} distinct, ${r.frames} frames")
          expect(r.hashSum == Seq("a", "b", "c").map(Digest.hash64).sum, "payload hashes")
          expect(r.topics.asScala == Set("t1"), s"topics ${r.topics}")
          expect(r.attrSets.asScala == Set(Map("path" -> "/p", "table" -> "x")), "attributes")
          expect(r.lastNewNs >= before && r.lastNewNs <= System.nanoTime(), "arrival stamp")
          expect(ep.creates.get == 1 && ep.dupFrames.get == 1, "create and dup counters")
          val nak = scala.util.Try(NetTransport(ep.addr).publishPartition(
            Iterator(("never-created", "x", Map("path" -> "/q")))))
          expect(nak.isFailure, "a PUBLISH to a topic never created is NAKed")
        } finally ep.close()
      }

      check("tracer names jobs by call site") {
        val tr = new Tracer(spark, "selftest")
        tr.install()
        tr.bucket = "olap"
        spark.range(0, 1000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
        tr.remove()
        val jobs = tr.spans.asScala.filter(_.kind == "job").map(_.name).toSet
        expect(jobs.contains("collect at SelfTest.scala"), s"job names $jobs")
        expect(tr.acc("olap").jobs >= 1 && tr.acc("olap").stages >= 1, "bucket totals")
      }
    } finally spark.stop()
    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
