package graft.queries

import graft.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.{Encoder, Encoders}

/** UDF / UDAF / UDTF surface (SURVEY §2.5).
  *
  * Scale notes: a Scala UDF is a codegen black box (no pushdown through it,
  * ser/de per row) — acceptable here because q_udf_topic_name exists to
  * demonstrate the UDF category itself; the same logic ships codegen'd in
  * q_cdc_route. The typed Aggregator compiles to a two-phase (partial +
  * merge) aggregate, so it map-side combines like any built-in. The
  * "UDTF" is Spark's built-in posexplode generator over a split body —
  * custom Generator classes are unnecessary for line splitting.
  */
object Udfs {

  /** The bridge's topic naming as a scalar function: prefix + first regex
    * group of the changefeed path (publisher.go:80-82, 158-160). Null for
    * paths that match neither regex (the 404 branch). */
  private val topicPattern = java.util.regex.Pattern.compile(
    Cdc.generalFile)
  private val resolvedPattern = java.util.regex.Pattern.compile(
    Cdc.resolvedFile)

  private def topicNameImpl(prefix: String, path: String): String = {
    if (path == null) return null
    val r = resolvedPattern.matcher(path)
    if (r.find()) return prefix + r.group(1)
    val g = topicPattern.matcher(path)
    if (g.find()) prefix + g.group(1) else null
  }

  /** Weighted mean via a typed Aggregator — two-phase merge semantics.
    * Buffer is (sum(w*x), sum(w)); double accumulation is order-dependent
    * in the last ulp, so the query rounds the result to 4dp (§7.4). */
  object WeightedAvg
    extends Aggregator[(Double, Double), (Double, Double), Double] {
    override def zero: (Double, Double) = (0.0, 0.0)
    override def reduce(b: (Double, Double), in: (Double, Double)): (Double, Double) =
      (b._1 + in._1 * in._2, b._2 + in._2)
    override def merge(a: (Double, Double), b: (Double, Double)): (Double, Double) =
      (a._1 + b._1, a._2 + b._2)
    override def finish(b: (Double, Double)): Double =
      if (b._2 == 0.0) Double.NaN else b._1 / b._2
    override def bufferEncoder: Encoder[(Double, Double)] =
      Encoders.tuple(Encoders.scalaDouble, Encoders.scalaDouble)
    override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** Count-min sketch over tokens as a typed Aggregator (round 5): a
    * depth x width long matrix in one flat buffer. Cell-wise addition
    * makes it MERGEABLE, so Spark runs it as a two-phase aggregate with
    * map-side partials — the 100-TB frequency shape when the vocabulary
    * itself is too big for a token-keyed shuffle (the exact
    * q_heavy_hitters): total state is O(depth * width) no matter the
    * corpus. Estimates never undercount; overcount is bounded by hash
    * collisions (~N/width per row w.h.p.), spec-pinned against exact
    * counts in LlmOpsSpec. Hashes are MurmurHash3 with the row index as
    * seed — deterministic across JVMs and partitionings. */
  final class CountMinSketchAgg(depth: Int, width: Int)
    extends Aggregator[String, Array[Long], Array[Long]] {
    override def zero: Array[Long] = new Array[Long](depth * width)
    override def reduce(b: Array[Long], tok: String): Array[Long] = {
      var i = 0
      while (i < depth) {
        b(i * width + CountMinSketchAgg.cell(tok, i, width)) += 1L
        i += 1
      }
      b
    }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }
    override def finish(b: Array[Long]): Array[Long] = b
    override def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  object CountMinSketchAgg {
    def cell(tok: String, row: Int, width: Int): Int =
      java.lang.Math.floorMod(
        scala.util.hashing.MurmurHash3.stringHash(tok, row), width)
    /** Point estimate = min over rows (the CMS read path). */
    def estimate(sketch: Array[Long], tok: String,
      depth: Int, width: Int): Long =
      (0 until depth).map(i => sketch(i * width + cell(tok, i, width))).min
  }

  /** Misra-Gries (space-saving) frequency summary as a typed Aggregator
    * (round 5): at most k counters survive; an unseen token either takes
    * a free slot or decrements every counter (dropping zeros). Merge
    * adds counts then subtracts the (k+1)-th largest to re-cap — the
    * standard MG merge, which preserves the deterministic guarantees:
    * estimates NEVER overcount, undercount by at most N/(k+1), and every
    * token with true frequency > N/(k+1) is present. The CMS above is
    * the mirror image (never undercounts); together they bracket the
    * true count. State is O(k) per partial — mergeable, map-side
    * combined, vocabulary-size independent. */
  final class MisraGriesAgg(k: Int)
    extends Aggregator[String, Map[String, Long], Map[String, Long]] {
    override def zero: Map[String, Long] = Map.empty
    override def reduce(b: Map[String, Long], tok: String): Map[String, Long] =
      if (b.contains(tok)) b.updated(tok, b(tok) + 1L)
      else if (b.size < k) b.updated(tok, 1L)
      else b.view.mapValues(_ - 1L).filter(_._2 > 0L).toMap
    override def merge(a: Map[String, Long],
      b: Map[String, Long]): Map[String, Long] = {
      val sum = (a.keySet ++ b.keySet).iterator
        .map(t => t -> (a.getOrElse(t, 0L) + b.getOrElse(t, 0L))).toMap
      if (sum.size <= k) sum
      else {
        val cut = sum.values.toSeq.sorted(Ordering[Long].reverse)(k)
        sum.view.mapValues(_ - cut).filter(_._2 > 0L).toMap
      }
    }
    override def finish(b: Map[String, Long]): Map[String, Long] = b
    override def bufferEncoder: Encoder[Map[String, Long]] =
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[Map[String, Long]]()
    override def outputEncoder: Encoder[Map[String, Long]] =
      org.apache.spark.sql.catalyst.encoders
        .ExpressionEncoder[Map[String, Long]]()
  }

  val q: Map[String, Q] = Map(
    // Misra-Gries estimates for the exact phi-frequent tokens: with
    // k=128 the guaranteed-presence threshold N/129 (~0.78% of
    // occurrences) is below the 1% phi cut, so every reported heavy
    // hitter MUST appear in the summary. No oracle (summary content is
    // merge-order dependent; the BOUNDS are not) — LlmOpsSpec pins
    // never-overcount, undercount <= N/(k+1), and full presence.
    "q_heavy_hitters_mg" -> ((s, d) => {
      import s.implicits._
      val k = 128
      val toks = Tables.spread(s, d, "documents")
        .select(explode(split(lower(col("text")), " ")).as("token"))
        .filter(col("token") =!= "").as[String]
      val summary = toks.select(new MisraGriesAgg(k)
        .toColumn.name("mg")).head()
      val exact = TextOps.q("q_heavy_hitters")(s, d)
        .select("token", "occurrences").collect()
      val rows = exact.toSeq.map { r =>
        (r.getString(0), r.getLong(1),
          summary.getOrElse(r.getString(0), 0L))
      }
      s.createDataset(rows).toDF("token", "occurrences", "mg_estimate")
        .orderBy(col("occurrences").desc, col("token").asc)
    }),

    // CMS counts for the exact heavy-hitter tokens: builds the sketch in
    // one distributed pass (constant state), then reads the estimates
    // driver-side for the (bounded, phi-frequent) candidate set — the
    // standard sketch+candidates split at scale. No oracle (approximate);
    // LlmOpsSpec pins est >= exact and the collision bound.
    "q_heavy_hitters_cms" -> ((s, d) => {
      import s.implicits._
      val depth = 4; val width = 2048
      val toks = Tables.spread(s, d, "documents")
        .select(explode(split(lower(col("text")), " ")).as("token"))
        .filter(col("token") =!= "").as[String]
      val sketch = toks.select(new CountMinSketchAgg(depth, width)
        .toColumn.name("cms")).head()
      val exact = TextOps.q("q_heavy_hitters")(s, d)
        .select("token", "occurrences").collect()
      val rows = exact.toSeq.map { r =>
        (r.getString(0), r.getLong(1),
          CountMinSketchAgg.estimate(sketch, r.getString(0), depth, width))
      }
      s.createDataset(rows).toDF("token", "occurrences", "cms_estimate")
        .orderBy(col("occurrences").desc, col("token").asc)
    }),

    "q_udf_topic_name" -> ((s, d) => {
      val topicName = udf(topicNameImpl _)
      Cdc.withPath(Tables.spread(s, d, "orders"))
        .select(col("o_orderkey"), col("path"),
          topicName(lit("cdc-"), col("path")).as("topic"))
        .orderBy("o_orderkey")
    }),

    "q_udaf_weighted_avg" -> ((s, d) => {
      val wavg = udaf(WeightedAvg)
      Tables(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(round(wavg(col("l_extendedprice"), col("l_quantity")), 4)
          .as("wavg_price"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // R2 as a query: a multi-line body string split back into one row per
    // line with its ordinal (publisher.go:182-202). Line payloads are
    // lpad'd so lexicographic collect_list order == numeric order.
    // Batch key is a contiguous orderkey block of 16, so each collected
    // body is <= 16 lines NO MATTER the table size — a `% 100` key would
    // grow each body linearly with the data (multi-GB strings at 100 TB).
    "q_udtf_line_split" -> ((s, d) => {
      val o = Tables(s, d, "orders")
      val line = concat(lit("ok="),
        lpad(col("o_orderkey").cast("string"), 10, "0"))
      o.select(floor(col("o_orderkey") / 16).cast("long").as("batch"),
          line.as("line"))
        .groupBy("batch")
        .agg(concat_ws("\n", sort_array(collect_list(col("line"))))
          .as("body"))
        .select(col("batch"),
          posexplode(split(col("body"), "\n")).as(Seq("ordinal", "line")))
        .orderBy("batch", "ordinal")
    }),
  )

  val oracle: Map[String, String] = Map(
    "q_udf_topic_name" -> s"""WITH p AS (${Cdc.withPathSql})
      |SELECT o_orderkey, path,
      |  CASE WHEN regexp_extract(path, '${Cdc.resolvedFile}', 1) <> '' THEN 'cdc-' || regexp_extract(path, '${Cdc.resolvedFile}', 1)
      |       WHEN regexp_extract(path, '${Cdc.generalFile}', 1) <> '' THEN 'cdc-' || regexp_extract(path, '${Cdc.generalFile}', 1)
      |       ELSE NULL END AS topic
      |FROM p ORDER BY o_orderkey""".stripMargin,

    "q_udaf_weighted_avg" ->
      """SELECT l_returnflag, l_linestatus,
        |  ROUND(SUM(l_extendedprice * l_quantity) / SUM(l_quantity), 4) AS wavg_price,
        |  COUNT(*) AS n_rows
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_udtf_line_split" ->
      """SELECT CAST(floor(o_orderkey / 16) AS BIGINT) AS batch,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY CAST(floor(o_orderkey / 16) AS BIGINT) ORDER BY o_orderkey) - 1 AS INT) AS ordinal,
        |  'ok=' || lpad(CAST(o_orderkey AS VARCHAR), 10, '0') AS line
        |FROM orders
        |ORDER BY batch, ordinal""".stripMargin,
  )
}
