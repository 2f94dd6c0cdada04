package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The fixture boundary must be schema-drift-proof: the round-9 event
  * (events.ts silently re-encoded TIMESTAMP(NANOS) → timestamp[us] and 13
  * operators died at analysis) must be impossible to repeat silently.
  * These cases feed physically-variant parquet encodings of the same
  * logical rows through [[Tables.reconcile]] and require identical query
  * output — or a loud, named error when no exact reconciliation exists.
  */
class TablesSpec extends AnyFunSuite {
  import TestSpark._

  private def tmpDir(): String = {
    val d = Files.createTempDirectory("graft-tables-variant").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    val cols = df.columns.sorted.toSeq
    df.select(cols.map(col): _*).collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted
  }

  test("events: epoch-nanos int64 ts variant reconciles to identical rows") {
    // the pre-regeneration physical encoding, as nanosAsLong surfaces it
    val dir = tmpDir()
    Tables(spark, sf, "events")
      .withColumn("ts",
        (unix_micros(col("ts")) * lit(1000L) + lit(999L)).as("ts"))
      .write.parquet(s"$dir/events.parquet")
    val variant = Tables(spark, dir, "events")
    assert(variant.schema("ts").dataType == TimestampType)
    // +999ns is sub-microsecond noise: integer `div 1000` must drop it
    assert(canon(variant) == canon(Tables(spark, sf, "events")))
  }

  test("events: instant (UTC-adjusted) ts variant reconciles identically") {
    val dir = tmpDir()
    // cast to TimestampType => parquet isAdjustedToUTC=true => reads back
    // as TimestampType => pass-through branch
    Tables(spark, sf, "events")
      .withColumn("ts", col("ts").cast(TimestampType))
      .write.parquet(s"$dir/events.parquet")
    val variant = Tables(spark, dir, "events")
    assert(variant.schema("ts").dataType == TimestampType)
    assert(canon(variant) == canon(Tables(spark, sf, "events")))
  }

  test("orders: int32 key / date orderdate variant reconciles identically") {
    val dir = tmpDir()
    Tables(spark, sf, "orders")
      .withColumn("o_orderkey", col("o_orderkey").cast(IntegerType))
      .withColumn("o_custkey", col("o_custkey").cast(IntegerType))
      .write.parquet(s"$dir/orders.parquet")
    val variant = Tables(spark, dir, "orders")
    assert(variant.schema("o_orderkey").dataType == LongType)
    assert(variant.schema("o_custkey").dataType == LongType)
    assert(canon(variant) == canon(Tables(spark, sf, "orders")))
  }

  test("a query over a variant fixture returns byte-identical results") {
    // end-to-end: the same contract query, real fixture vs re-encoded one
    val dir = tmpDir()
    Tables(spark, sf, "events")
      .withColumn("ts", (unix_micros(col("ts")) * lit(1000L)).as("ts"))
      .write.parquet(s"$dir/events.parquet")
    val a = canon(SparkEntry.queries("q_sessionize")(spark, sf))
    val b = canon(SparkEntry.queries("q_sessionize")(spark, dir))
    assert(a == b)
  }

  test("unreconcilable encoding fails loudly, naming table+column+types") {
    val dir = tmpDir()
    Tables(spark, sf, "events")
      .withColumn("ts", date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"))
      .write.parquet(s"$dir/events.parquet")
    val e = intercept[IllegalArgumentException] {
      Tables(spark, dir, "events")
    }
    assert(e.getMessage.contains("events"))
    assert(e.getMessage.contains("'ts'"))
    assert(e.getMessage.contains("StringType"))
    assert(e.getMessage.contains("TimestampType"))
  }

  test("missing contracted column fails loudly") {
    val dir = tmpDir()
    Tables(spark, sf, "events").drop("props")
      .write.parquet(s"$dir/events.parquet")
    val e = intercept[IllegalArgumentException] {
      Tables(spark, dir, "events")
    }
    assert(e.getMessage.contains("'props'"))
  }

  test("reconciliation is a no-op projection for already-conformant scans") {
    // plans for conformant fixtures must stay bit-identical to a plain
    // scan — this is what keeps PLAN_DIGESTS.tsv stable for 9 of 10 tables
    val plain = spark.read.parquet(s"$sf/orders.parquet")
    val loaded = Tables(spark, sf, "orders")
    assert(loaded.queryExecution.analyzed.canonicalized ==
      plain.queryExecution.analyzed.canonicalized)
  }

  test("events.props still carries the contracted JSON shape") {
    // the one fixture surface the oracle gate CANNOT protect: if the
    // props key drifts, Spark and DuckDB both degrade to nulls in
    // lockstep and every hash still matches — so pin the shape here.
    val df = Tables(spark, sf, "events")
    val n = df.count()
    val parsed = df.filter(
      get_json_object(col("props"), "$.k").isNotNull).count()
    assert(parsed == n,
      s"events.props '$$.k' parse rate $parsed/$n — fixture JSON shape " +
        "drifted; update the props-consuming queries (q_json_funcs, " +
        "q_map_funcs) together with this pin")
  }

  test("every fixture table loads under the contract at sf0.001") {
    Tables.names.foreach { t =>
      val df = Tables(spark, sf, t)
      Tables.expected(t).foreach { case (c, want) =>
        assert(df.schema(c).dataType == want,
          s"$t.$c: ${df.schema(c).dataType} != $want")
      }
      assert(df.limit(1).count() == 1, s"$t is empty")
    }
  }

  test("spread: the plain test session spreads the fixture over every core") {
    // no session option gates the spread, so the suite runs the plan the
    // oracle checks and the bench times
    val df = Tables.spread(spark, sf, "documents")
    val n = spark.sparkContext.defaultParallelism
    assert(df.rdd.getNumPartitions == n)
    val rows = df.rdd.mapPartitions(it => Iterator(it.size)).collect()
    assert(rows.count(_ > 0) > 1,
      s"spread left every row in one partition: ${rows.mkString(",")}")
  }

  test("spread: q_cdc_route runs the spread plan in the test session") {
    val plan = SparkEntry.queries("q_cdc_route")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("RoundRobinPartitioning"),
      s"no spread exchange above the orders scan:\n$plan")
  }
}
