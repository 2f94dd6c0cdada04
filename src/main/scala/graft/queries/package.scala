package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The declared queries and the materialization contract, written once.
  *
  * Release: a declared query returns its frame and never frees what its
  * build cached. Whoever consumes the frame (Bench, Verify,
  * DumpPlanFiles, the specs) clears the session's cache after each key
  * — a cache over a fixture path keeps serving its rows until it is
  * cleared, even if the files change. Checkpoint blocks are freed by
  * the ContextCleaner once their frame is unreachable.
  *
  * So a cache read only before a loop stays through every round of
  * it: the minhash band sketch through propagateMinLabels, the entity
  * hub frames through theirs. MEMORY_AND_DISK blocks above the storage
  * fraction are spilled when a round's shuffle needs the memory. At
  * sf1 every cache a key still holds when its result is written
  * totals 6.1 MB for q_dedup_cluster and q_curation_keep, 5.6 MB for
  * q_dedup_report and 53 MB for q_entity_cluster (4 cpus).
  *
  * A barrier stays only for one of three reasons:
  *  1. a cache is read at least twice by the key's executed plans (its
  *     fill not counted; a read inside another cache's build counted
  *     once) — PlanDigestSpec checks this for every key;
  *  2. a checkpoint cuts a loop's lineage (PageRank, propagateMinLabels);
  *  3. removing it slows a key through it at sf0.1 or sf1 by more than
  *     that key's with-barrier pass spread — each such site is listed
  *     with its measurement in PlanDigestSpec. One site is: the verified
  *     pairs of q_dedup_fuzzy_edit, read once, whose cache keeps
  *     levenshtein out of the class fan-back joins above it.
  * The three helpers below are the only code under `queries/` that
  * persists, checkpoints or unpersists. */
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

  /** [[persistEager]] whose cache-filling count also delivers a
    * long-valued aggregate over `df` (see [[materializedWithLong]]) —
    * the fan-back short-circuit's data probe (round 18): the dedup
    * family branches on the corpus's max exact-dup class size without
    * paying a second job. */
  private[queries] def persistEager(
      df: DataFrame, metric: Column): (DataFrame, Long) =
    materializedWithLong(df, metric)(persistEager(_))

  /** [[persistEager]] without the cache-filling count job — for a frame
    * whose FIRST consumer is itself a single action (that action fills
    * the cache as it runs, so the explicit count would be a pure extra
    * job; the per-side race persistEager exists to prevent cannot
    * happen when exactly one consumer runs first). */
  private[queries] def persistLazy(df: DataFrame): DataFrame =
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Eagerly checkpoint `df`: its plan is cut to a `Scan ExistingRDD`
    * leaf. On a multi-node cluster prefer reliable checkpoint()
    * (localCheckpoint blocks die with an executor). */
  private[queries] def checkpointed(df: DataFrame): DataFrame =
    df.localCheckpoint(true)

  /** Eagerly checkpoint `df` and return it with the value of `metric`
    * WITHOUT a second job (see [[materializedWithLong]]), so a fixpoint
    * consumer (the CC kernel's convergence sum in AnnOps, PageRank's
    * dangling-mass sum in GraphOps) pays no extra agg job per round.
    * Callers coalesce the metric so an empty frame gives 0. */
  private[queries] def checkpointed(
      df: DataFrame, metric: Column): (DataFrame, Long) =
    materializedWithLong(df, metric)(checkpointed(_))

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
