package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types._

/** Fixture-table loader (see TESTDATA.md / FIXTURES.md).
  *
  * At 100 TB these would be partitioned/bucketed catalog tables; here they
  * are single parquet files per scale factor. Everything downstream reads
  * through this one chokepoint so a real deployment only swaps this object.
  *
  * Two reads: [[apply]] is the plain scan; [[spread]] is the scan followed
  * by a round-robin repartition to `defaultParallelism`. Every fixture file
  * holds ONE row group per table (FIXTURES.md), so Spark cannot split the
  * plain scan and a narrow pipeline over it runs on one core until its
  * first shuffle. Queries whose per-row work dominates the scan (shingle
  * hashing, regex routing, json parsing, payload synthesis) read through
  * [[spread]] to put that work on every core. The spread is part of the
  * fixture contract, not a session option: tests, Verify, Bench and the
  * plan dumps all build the same plan. A replacing loader whose tables
  * already scan in parallel (many files / row groups) implements
  * `spread` as its plain read, because there the extra exchange is a full
  * shuffle that buys nothing.
  *
  * The physical parquet encoding of the fixtures has drifted across
  * generations (events.ts was TIMESTAMP(NANOS), then timestamp[us]; key
  * columns could plausibly move between int32/int64). The engine therefore
  * binds to the LOGICAL schema in [[expected]] and reconciles whatever
  * arrives on disk to it: identical types pass through, compatible
  * encodings are cast, and anything unreconcilable fails loudly naming the
  * table, column, and both types — never a silent analysis error downstream.
  * This is the batch twin of the CDC schema-evolution handling in
  * queries/Cdc.scala (the reference captures a schema_id it cannot act on,
  * cdc-pubsub publisher.go:158-159; here the loader acts on it).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Logical column types the engine depends on, per table. A fixture may
    * physically encode these differently; [[reconcile]] maps them back.
    * `o_orderdate`/`l_shipdate` are TIMESTAMP_NTZ (what the current
    * fixtures yield and what every oracle hash was validated against);
    * `events.ts` is TIMESTAMP (UTC session) because the event-time
    * operators (sessionize, funnel, as-of join, watermarking) were built
    * on instant semantics.
    */
  val expected: Map[String, Seq[(String, DataType)]] = Map(
    "region" -> Seq(
      "r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> Seq(
      "n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> Seq(
      "c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> Seq(
      "s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> Seq(
      "p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders" -> Seq(
      "o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
    "lineitem" -> Seq(
      "l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType),
    "events" -> Seq(
      "event_id" -> LongType, "ts" -> TimestampType,
      "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType),
    "documents" -> Seq(
      "doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
      "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> Seq(
      "vec_id" -> LongType, "embedding" -> ArrayType(FloatType),
      "label" -> IntegerType))

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    // TIMESTAMP(NANOS) columns are rejected outright by Spark 4 unless this
    // flag surfaces them as raw int64; it is a no-op for every other
    // encoding, so it is always safe to set before the read.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reconcile(name, spark.read.parquet(s"$dir/$name.parquet"))
  }

  /** The fixture read spread over every core (see the object doc). */
  def spread(spark: SparkSession, dir: String, name: String): DataFrame =
    apply(spark, dir, name).repartition(spark.sparkContext.defaultParallelism)

  /** Map the physically-read frame onto the table's logical schema:
    * pass-through when identical, cast when the encoding is a known
    * compatible variant, loud error otherwise. Columns not in the contract
    * (a fixture may gain extras) pass through untouched after the
    * contracted ones.
    */
  def reconcile(name: String, df: DataFrame): DataFrame = {
    val contract = expected.getOrElse(name, Seq.empty)
    if (contract.isEmpty) return df
    val actual = df.schema.map(f => f.name -> f.dataType).toMap
    contract.foreach { case (c, _) =>
      if (!actual.contains(c)) throw new IllegalArgumentException(
        s"fixture table '$name' is missing contracted column '$c' " +
          s"(have: ${df.schema.fieldNames.mkString(", ")})")
    }
    // Fast path: the physical encoding already IS the logical schema.
    // Return the scan untouched so plans (and their committed digests)
    // are bit-identical to a world without this reconciliation layer.
    val dirty = contract.filter { case (c, want) =>
      normalizeNeeded(actual(c), want) }
    if (dirty.isEmpty) return df
    val cols = contract.map { case (c, want) =>
      normalize(name, c, actual(c), want)
    } ++ df.schema.fieldNames.filterNot(contract.map(_._1).contains).map(col)
    df.select(cols: _*)
  }

  private def normalizeNeeded(have: DataType, want: DataType): Boolean =
    (have, want) match {
      case (h, w) if h == w => false
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) => false
      case _ => true
    }

  private val integral: Set[DataType] =
    Set(ByteType, ShortType, IntegerType, LongType)

  private def normalize(
      table: String, c: String, have: DataType, want: DataType)
      : org.apache.spark.sql.Column = (have, want) match {
    case (h, w) if h == w => col(c)
    // Integral epoch-nanos (either a raw int64 fixture column or a
    // TIMESTAMP(NANOS) column surfaced as long by nanosAsLong). Integer
    // division: double division loses precision above 2^53 ~ epoch-nanos.
    case (h, TimestampType) if integral(h) =>
      expr(s"timestamp_micros($c div 1000)").as(c)
    case (h, TimestampNTZType) if integral(h) =>
      expr(s"to_timestamp_ntz(timestamp_micros($c div 1000))").as(c)
    // Wall-clock vs instant timestamps agree value-for-value under the
    // pinned UTC session, so either direction is exact.
    case (TimestampNTZType, TimestampType) => col(c).cast(want).as(c)
    case (TimestampType, TimestampNTZType) => col(c).cast(want).as(c)
    case (DateType, TimestampType) => col(c).cast(want).as(c)
    case (DateType, TimestampNTZType) => col(c).cast(want).as(c)
    // Width drift on keys/measures (int32<->int64, float->double).
    // Fixture key spaces fit comfortably in int32, so narrowing is exact.
    case (h, w) if integral(h) && integral(w) => col(c).cast(want).as(c)
    case (h, DoubleType) if integral(h) => col(c).cast(want).as(c)
    case (FloatType, DoubleType) => col(c).cast(want).as(c)
    case (ArrayType(FloatType, _), ArrayType(FloatType, _)) => col(c)
    case (ArrayType(DoubleType, _), ArrayType(FloatType, _)) =>
      col(c).cast(want).as(c)
    case _ => throw new IllegalArgumentException(
      s"fixture table '$table' column '$c' arrived as $have but the engine " +
        s"needs $want and no exact reconciliation exists — regenerate the " +
        "fixture or extend Tables.normalize")
  }
}
