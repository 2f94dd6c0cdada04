package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

package object queries {
  /** A declared query: (session, scale-factor dir) => result frame. */
  type Q = (SparkSession, String) => DataFrame

  /** Persist `df` MEMORY_AND_DISK and eagerly fill the cache with one
    * count, so a frame read by several downstream branches computes its
    * pipeline exactly once instead of racing per-side. */
  private[queries] def persistEager(df: DataFrame): DataFrame = {
    val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    p.count()
    p
  }

  /** [[persistEager]] without the cache-filling count job — for a frame
    * whose FIRST consumer is itself a single eagerly-materialized frame
    * (the consumer's one action fills this cache as it runs, so the
    * explicit count would be a pure extra job; the per-side race
    * persistEager exists to prevent cannot happen when exactly one
    * consumer runs first). */
  private[queries] def persistLazy(df: DataFrame): DataFrame =
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Has Dataset.observe delivered a metric for an eager
    * materialization in this JVM? Tri-state: null = untested, TRUE =
    * works (the scalar rides the materializing job), FALSE = never
    * landed once — skip the bounded wait for the rest of the JVM and
    * pay the explicit tiny agg job instead. Defensive: on every Spark
    * version tested the action runs through withAction and fires
    * QueryExecutionListeners, but a hang here would freeze every
    * consumer, so the fallback stays. */
  @volatile private var observeOnCheckpoint: java.lang.Boolean = null

  /** Eagerly `materialize` `df` and return it with the value of
    * `metric` (a long-valued aggregate over df's rows; NULL reads as
    * 0). The aggregate rides the materializing action as a
    * Dataset.observe metric; listener delivery is async (post-action),
    * so the wait is bounded and a timeout falls back to an explicit agg
    * over the materialized frame. A timeout is remembered for the JVM
    * in [[observeOnCheckpoint]], so the stall is paid at most once.
    * Either path reads the same rows, so the value never depends on
    * timing. */
  private def materializedWithLong(df: DataFrame, metric: Column)(
      materialize: DataFrame => DataFrame): (DataFrame, Long) = {
    def long(r: Row): Long = if (r.isNullAt(0)) 0L else r.getLong(0)
    def explicit(out: DataFrame): Long = long(out.agg(metric).head())
    if (observeOnCheckpoint == java.lang.Boolean.FALSE) {
      val out = materialize(df)
      (out, explicit(out))
    } else {
      val obs = org.apache.spark.sql.Observation()
      val out = materialize(df.observe(obs, metric.as("m")))
      try {
        val row = scala.concurrent.Await.result(obs.future,
          scala.concurrent.duration.Duration(2, "s"))
        observeOnCheckpoint = java.lang.Boolean.TRUE
        (out, long(row))
      } catch {
        case _: java.util.concurrent.TimeoutException =>
          observeOnCheckpoint = java.lang.Boolean.FALSE
          (out, explicit(out))
      }
    }
  }

  /** Eagerly checkpoint `df` and return it with the value of `metric`
    * WITHOUT a second job (see [[materializedWithLong]]), so a fixpoint
    * consumer (the CC kernel's convergence sum in AnnOps, PageRank's
    * dangling-mass sum in GraphOps) pays no extra agg job per round.
    * Callers coalesce the metric so an empty frame gives 0. */
  private[queries] def checkpointedWithSum(
      df: DataFrame, metric: Column): (DataFrame, Long) =
    materializedWithLong(df, metric)(_.localCheckpoint(true))

  /** [[persistEager]] whose cache-filling count also delivers a
    * long-valued aggregate over `df` (see [[materializedWithLong]]) —
    * the fan-back short-circuit's data probe (round 18): the dedup
    * family branches on the corpus's max exact-dup class size without
    * paying a second job. */
  private[queries] def persistEagerWithLong(
      df: DataFrame, metric: Column): (DataFrame, Long) =
    materializedWithLong(df, metric)(persistEager)

  /** Eagerly materialize `df` via localCheckpoint, then release the
    * internal caches it depended on. Sketch queries (minhash / simhash /
    * sign-LSH / ngram-jaccard) persist big intermediates that a
    * lazy-returned frame could never unpersist — they would sit in the
    * CacheManager for the whole session (round-4 advice #1). Checkpoint
    * blocks, by contrast, are ContextCleaner-managed: freed when the
    * frame is GC'd, no explicit release needed. The materialization is
    * not extra work — callers materialize exactly once anyway — and the
    * checkpointed rows are the SMALL end product (pair lists /
    * per-doc sketch rows), not the big intermediates. On a multi-node
    * cluster prefer reliable checkpoint() (localCheckpoint blocks die
    * with an executor).
    */
  private[queries] def materializeAndFree(
      df: DataFrame, handles: DataFrame*): DataFrame = {
    val out = df.localCheckpoint(true)
    handles.foreach(_.unpersist())
    out
  }
}

package queries {
  /** Determinism helpers for the DuckDB hash-compare (SURVEY §7.4).
    *
    * Float reductions are order-dependent; Spark's partial aggregation and
    * DuckDB's sequential scan would disagree in the last ulp. Casting each
    * row to an exact decimal BEFORE the sum makes the reduction exact and
    * order-independent, and the final decimal->double cast is the same
    * IEEE-nearest value on both engines.
    */
  object Det {
    /** Exact, order-independent sum of a double column, rounded to 2dp and
      * returned as double. The ROUND-to-2 before the double cast matters:
      * DuckDB's decimal->double cast is int128->double then /10^scale (two
      * roundings, can be 1 ulp off correctly-rounded), so high-scale decimal
      * sums must be scale-reduced until the unscaled int fits a double
      * exactly. SQL twin: CAST(ROUND(SUM(CAST(x AS DECIMAL(30,8))), 2) AS DOUBLE). */
    def dsum(c: Column): Column =
      round(sum(c.cast("decimal(30,8)")), 2).cast("double")

    /** Deterministic mean: 2dp-rounded exact sum divided by count (the same
      * double division on both engines).
      * SQL twin: CAST(ROUND(SUM(CAST(x AS DECIMAL(30,8))), 2) AS DOUBLE) / COUNT(x). */
    def davg(c: Column): Column = dsum(c) / count(c)

    /** Deterministic double cast of any exact-decimal aggregate. */
    def d2(c: Column): Column = round(c, 2).cast("double")

    /** Source money/quantity column (<= 2 decimal digits) as exact decimal.
      * A double holding a 2-dp value is ~1e-17 from it, so the cast is
      * unambiguous on both engines — unlike casting a full-precision double
      * PRODUCT, where Spark (shortest-repr HALF_UP) and DuckDB (binary)
      * round the 8th decimal differently. Always cast operands, not results. */
    def dec2(c: Column): Column = c.cast("decimal(12,2)")

    /** Small rate column (discount/tax, <= 4 decimal digits) as exact decimal. */
    def rate(c: Column): Column = c.cast("decimal(6,4)")

    /** Literal 1 with tight decimal precision so Spark's decimal type
      * arithmetic stays under precision 38 (no allowPrecisionLoss rounding). */
    def one: Column = lit(1).cast("decimal(2,0)")
  }
}
