package graft.queries

import graft.Tables
import graft.functions.GraftExtensions.{h60, h60Sql}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sampling & distribution operators for the training-data pipeline:
  * reproducible corpus sampling and distribution profiling are everyday
  * operations at 100 TB (hold-out splits, per-source quotas, QA).
  *
  * Sampling here is HASH-based, not RNG-based: `sample()`'s seed is
  * per-partition-RNG and irreproducible across engines/partitionings,
  * while `hash(key) mod N < k` is deterministic everywhere, stable under
  * repartitioning, and exactly re-derivable later (the property a
  * training corpus split must have). Uses the same portable 60-bit
  * md5-prefix hash as the dedup family.
  */
object SamplingOps {

  val q: Map[String, Q] = Map(
    // ~10% reproducible sample of documents by id-hash bucket.
    "q_sample_hash" -> ((s, d) =>
      Tables(s, d, "documents")
        .filter(pmod(h60(col("doc_id")), lit(100)) < 10)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")),

    // Deterministic train/val/test assignment (round 7): the split every
    // training pipeline pins before anything else ships. Buckets come
    // from the same portable h60(doc_id) gate as q_sample_hash
    // (90/5/5), so membership is reproducible across runs, engines, and
    // repartitioning, and a doc can never migrate between splits when
    // the corpus grows — new docs land in their own buckets. Output is
    // the per-(split, source) manifest; the assignment itself is the
    // map-side projection. One two-phase agg, no other shuffle.
    "q_train_val_split" -> ((s, d) => {
      val bucket = pmod(h60(col("doc_id")), lit(100))
      Tables(s, d, "documents")
        .withColumn("split",
          when(bucket < 90, "train").when(bucket < 95, "val")
            .otherwise("test"))
        .groupBy("split", "source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"))
        .orderBy("split", "source")
    }),

    // Stratified sampling: per-language rates (en kept at 50%, others at
    // 10%) — the per-source quota shape of corpus curation.
    "q_stratified_sample" -> ((s, d) => {
      val bucket = pmod(h60(col("doc_id")), lit(100))
      Tables(s, d, "documents")
        .filter((col("lang") === "en" && bucket < 50) ||
          (col("lang") =!= "en" && bucket < 10))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_sampled"))
        .orderBy("lang")
    }),

    // Exactly-k-per-stratum sample (round 6): the fixed-QUOTA companion
    // to q_stratified_sample's fixed-RATE gate — every source
    // contributes exactly k docs (fewer only if the stratum is smaller),
    // chosen by hash order, so the quota sample is reproducible and
    // stable under repartitioning like everything else derived from
    // h60(doc_id). One source-keyed window (WindowGroupLimit prunes
    // rank > k before the shuffle completes at scale).
    "q_sample_stratum_k" -> ((s, d) => {
      val h = h60(col("doc_id"))
      Tables(s, d, "documents")
        .withColumn("rk", row_number().over(
          Window.partitionBy("source").orderBy(h, col("doc_id"))))
        .filter(col("rk") <= 5)
        .select(col("source"), col("rk").cast("long").as("rk"),
          col("doc_id"))
        .orderBy("source", "rk")
    }),

    // Quality-weighted acceptance sampling (round 10) — the SOFT filter
    // (DCLM/FineWeb shape): instead of a hard quality cutoff, each doc is
    // kept with probability equal to its quality score, so marginal docs
    // thin out gradually rather than cliff off. The coin flip is the
    // deterministic hash-uniform u = h60(doc_id)/2^60 compared against
    // the q_quality_score composite — reproducible across runs, engines,
    // and repartitioning like every other h60-derived gate here. u is
    // EXACT on both engines: int64->double is the same IEEE-nearest
    // rounding and /2^60 is a pure exponent shift, so no rounding of u
    // is needed (or wanted) before the compare. Map-side projection,
    // zero shuffles beyond the presentation sort.
    "q_importance_sample" -> ((s, d) => {
      val u = h60(col("doc_id")).cast("double") /
        lit(1152921504606846976.0) // 2^60
      TextOps.withQualityCols(Tables(s, d, "documents"))
        .withColumn("u", u)
        .withColumn("accepted", col("u") < col("quality"))
        .select("doc_id", "source", "quality", "u", "accepted")
        .orderBy("doc_id")
    }),

    // Percent-rank (quantile) normalization per stratum (round 6): map
    // `value` to its within-type percentile — the rank-based feature
    // normalization that is robust to outliers (vs q_outlier_zscore's
    // moment-based z). RANK-based, so tie groups share a value and the
    // result is independent of tie order; 6dp rounding for engine
    // parity. One event_type-keyed window shuffle.
    "q_rank_normalize" -> ((s, d) =>
      Tables(s, d, "events")
        .withColumn("pr", round(percent_rank().over(
          Window.partitionBy("event_type").orderBy("value")), 6))
        .select(col("event_id"), col("event_type"), col("value"), col("pr"))
        .orderBy("event_id")),

    // Column profile (round 6): per-column null count / distinct count /
    // rows — the data-quality profiling pass before a pipeline trusts a
    // new drop. Nulls derived via nullif (fixture tables are complete,
    // same trick as q_filter_null). ONE aggregate pass over the table
    // (count-distinct expands internally), then a 3-row literal unpivot
    // of the 1-row result — no per-column rescans.
    "q_profile_nulls" -> ((s, d) => {
      val o = Tables(s, d, "orders")
        .withColumn("status_n", nullif(col("o_orderstatus"), lit("P")))
        .withColumn("prio_n", nullif(col("o_orderpriority"), lit("1-URGENT")))
        .withColumn("price_n",
          when(col("o_totalprice") > 400000, lit(null)
            .cast("double")).otherwise(col("o_totalprice")))
      val agg = o.agg(
        count(lit(1)).as("n_rows"),
        sum(col("status_n").isNull.cast("long")).as("nulls_status"),
        countDistinct(col("status_n")).as("dist_status"),
        sum(col("prio_n").isNull.cast("long")).as("nulls_prio"),
        countDistinct(col("prio_n")).as("dist_prio"),
        sum(col("price_n").isNull.cast("long")).as("nulls_price"),
        countDistinct(col("price_n")).as("dist_price"))
      val cols = Seq("status", "prio", "price")
      cols.map { c =>
        agg.select(lit(c).as("column_name"), col("n_rows"),
          col(s"nulls_$c").as("n_nulls"),
          col(s"dist_$c").as("n_distinct"))
      }.reduce(_ unionByName _).orderBy("column_name")
    }),

    // Exact interpolated quantiles, distributed: Spark's `percentile`
    // buffers EVERY value in one final aggregation buffer (OOM at 100 TB),
    // so this is the classic two-pass exact-rank shape instead:
    //   1. range-repartition on the value (the same exchange a global sort
    //      uses), row_number WITHIN each partition (no single-partition
    //      window anywhere);
    //   2. per-partition counts to the driver — O(#partitions) rows, not
    //      O(n) — cumulated into rank offsets;
    //   3. fetch only the <=2 boundary rows per requested quantile and
    //      interpolate linearly (type-7, same as DuckDB quantile_cont).
    // Results rounded to 4dp against last-ulp interpolation differences.
    "q_quantiles" -> ((s, d) => {
      val qs = Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75, "p99" -> 0.99)
      val x = Tables(s, d, "lineitem")
        .select(col("l_extendedprice").cast("double").as("x"))
      val nPart = s.sparkContext.defaultParallelism
      // two actions below must see the SAME partitioning
      val parted = persistLazy(x.repartitionByRange(nPart, col("x"))
        .withColumn("pid", spark_partition_id()))
      val cnts = parted.groupBy("pid").agg(count(lit(1)).as("cnt"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val n = cnts.values.sum
      // range partitions are ordered by pid, so offsets are prefix sums
      val pids = cnts.keys.toSeq.sorted
      val offsets = pids.zip(pids.map(cnts).scanLeft(0L)(_ + _)).toMap
      val pos = qs.map { case (name, q) => name -> (q * (n - 1) + 1.0) }
      val need = pos.flatMap { case (_, p) =>
        Seq(math.floor(p).toLong, math.ceil(p).toLong)
      }.distinct
      val offExpr = element_at(
        map(cnts.keys.toSeq.sorted.flatMap(p =>
          Seq(lit(p), lit(offsets(p)))): _*), col("pid"))
      val w = Window.partitionBy("pid").orderBy("x")
      // The rank offsets are only valid if this second action sees the
      // SAME partitioning as the counts pass. That holds while the
      // persisted blocks live, but an evicted block re-runs the range
      // exchange, which MAY resample boundaries — so this pass also
      // returns EVERY partition's first row carrying that partition's
      // count (same window exchange, no extra job) and validates the
      // full per-pid count map, not just partitions that happened to
      // hold a boundary rank: compensating drift (one partition gains a
      // row, another loses one) shifts offsets of partitions whose own
      // count is unchanged, so per-boundary-row checks alone would pass
      // on silently wrong quantiles (round-3 advice, round-4 review).
      val firstRns = pids.map(p => offsets(p) + 1L)
      val rows = parted
        .withColumn("rn", row_number().over(w) + offExpr)
        .withColumn("cnt2", count(lit(1)).over(Window.partitionBy("pid")))
        .filter(col("rn").isin((need ++ firstRns).distinct: _*))
        .select("pid", "rn", "x", "cnt2").collect()
      val cnts2 = rows.filter(r => r.getLong(1) == offsets
          .getOrElse(r.getInt(0), Long.MinValue) + 1L)
        .map(r => r.getInt(0) -> r.getLong(3)).toMap
      if (cnts2 != cnts)
        throw new IllegalStateException(
          s"q_quantiles: boundary-pass partition counts $cnts2 != " +
            s"counts-pass $cnts — cached range partitioning was lost " +
            "and resampled between the two passes")
      val boundary = rows.map(r => r.getLong(1) -> r.getDouble(2)).toMap
      val missingRank = need.filterNot(boundary.contains)
      if (missingRank.nonEmpty)
        throw new IllegalStateException(
          s"q_quantiles: boundary ranks $missingRank not found — " +
            "partitioning drifted between the two passes")
      val cells = pos.map { case (name, p) =>
        val lo = math.floor(p).toLong
        val frac = p - lo
        val v = boundary(lo) + frac * (boundary(math.ceil(p).toLong) - boundary(lo))
        round(lit(v), 4).as(name)
      }
      s.range(1).select(cells: _*)
    }),

    // Per-group quantiles via approx_percentile: a KLL/GK-style sketch —
    // constant-size, mergeable, two-phase — which IS the per-group
    // quantile shape at 100 TB (per-group exact needs every value of
    // every group co-resident; the global-exact two-pass above doesn't
    // decompose by group). No oracle (sketch internals differ per
    // engine); PropertiesSpec pins the error contract against exact.
    "q_quantiles_grouped" -> ((s, d) =>
      Tables(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("p50"),
          expr("approx_percentile(l_extendedprice, 0.95, 10000)").as("p95"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")),

    // Fixed-width histogram of document lengths: integer bucket math,
    // two-phase agg — the distribution-profiling shape.
    "q_histogram" -> ((s, d) =>
      Tables(s, d, "documents")
        .withColumn("bucket", floor(col("n_chars") / 500).cast("long"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .orderBy("bucket")),
  )

  val oracle: Map[String, String] = Map(
    "q_sample_hash" ->
      s"""SELECT doc_id, lang, source, n_chars
         |FROM documents
         |WHERE ${h60Sql("doc_id")} % 100 < 10
         |ORDER BY doc_id""".stripMargin,

    "q_train_val_split" ->
      s"""SELECT CASE WHEN ${h60Sql("doc_id")} % 100 < 90 THEN 'train'
         |            WHEN ${h60Sql("doc_id")} % 100 < 95 THEN 'val'
         |            ELSE 'test' END AS split,
         |       source, COUNT(*) AS n_docs,
         |       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
         |FROM documents
         |GROUP BY 1, 2
         |ORDER BY split, source""".stripMargin,

    "q_stratified_sample" ->
      s"""SELECT lang, COUNT(*) AS n_sampled
         |FROM documents
         |WHERE (lang = 'en' AND ${h60Sql("doc_id")} % 100 < 50)
         |   OR (lang <> 'en' AND ${h60Sql("doc_id")} % 100 < 10)
         |GROUP BY lang
         |ORDER BY lang""".stripMargin,

    "q_importance_sample" ->
      s"""WITH t AS (
         |  SELECT doc_id, source,
         |    len(string_split(lower(text), ' ')) AS n_tok,
         |    len(list_filter(string_split(lower(text), ' '),
         |        t -> t IN ('the', 'a', 'of', 'and', 'to', 'in'))) AS n_stop
         |  FROM documents),
         |q AS (
         |  SELECT doc_id, source,
         |    round(least(1.0, CAST(n_tok AS DOUBLE) / 200.0) * 0.5
         |          + (CAST(n_stop AS DOUBLE) / n_tok) * 0.5, 4) AS quality,
         |    CAST(${h60Sql("doc_id")} AS DOUBLE)
         |      / 1152921504606846976.0 AS u
         |  FROM t)
         |SELECT doc_id, source, quality, u, u < quality AS accepted
         |FROM q ORDER BY doc_id""".stripMargin,

    "q_sample_stratum_k" ->
      s"""SELECT source, CAST(rk AS BIGINT) AS rk, doc_id FROM (
         |  SELECT source, doc_id,
         |    ROW_NUMBER() OVER (PARTITION BY source
         |      ORDER BY ${h60Sql("doc_id")}, doc_id) AS rk
         |  FROM documents)
         |WHERE rk <= 5
         |ORDER BY source, rk""".stripMargin,

    "q_rank_normalize" ->
      """SELECT event_id, event_type, value,
        |  round(percent_rank() OVER (PARTITION BY event_type
        |    ORDER BY value), 6) AS pr
        |FROM events
        |ORDER BY event_id""".stripMargin,

    "q_profile_nulls" ->
      """WITH o AS (
        |  SELECT nullif(o_orderstatus, 'P') AS status_n,
        |    nullif(o_orderpriority, '1-URGENT') AS prio_n,
        |    CASE WHEN o_totalprice > 400000 THEN NULL
        |      ELSE o_totalprice END AS price_n
        |  FROM orders),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(SUM(CASE WHEN status_n IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nulls_status,
        |    CAST(count(DISTINCT status_n) AS BIGINT) AS dist_status,
        |    CAST(SUM(CASE WHEN prio_n IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nulls_prio,
        |    CAST(count(DISTINCT prio_n) AS BIGINT) AS dist_prio,
        |    CAST(SUM(CASE WHEN price_n IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS nulls_price,
        |    CAST(count(DISTINCT price_n) AS BIGINT) AS dist_price
        |  FROM o)
        |SELECT 'price' AS column_name, n_rows, nulls_price AS n_nulls,
        |  dist_price AS n_distinct FROM a
        |UNION ALL
        |SELECT 'prio', n_rows, nulls_prio, dist_prio FROM a
        |UNION ALL
        |SELECT 'status', n_rows, nulls_status, dist_status FROM a
        |ORDER BY column_name""".stripMargin,

    "q_quantiles" ->
      """SELECT
        |  round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
        |  round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
        |FROM lineitem""".stripMargin,

    "q_histogram" ->
      """SELECT CAST(floor(n_chars / 500) AS BIGINT) AS bucket,
        |  COUNT(*) AS n_docs,
        |  MIN(n_chars) AS min_chars,
        |  MAX(n_chars) AS max_chars
        |FROM documents
        |GROUP BY bucket
        |ORDER BY bucket""".stripMargin,
  )
}
