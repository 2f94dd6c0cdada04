package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The SQL front door (round 11, verdict #5): make the whole engine
  * surface reachable from `spark.sql("SELECT …")` text, not just the
  * Scala Column API.
  *
  * Two halves, both already idiomatic Spark:
  *  - FUNCTIONS arrive via `spark.sql.extensions=
  *    graft.functions.GraftExtensions` (cosine_sim, dot_product,
  *    graft_h60, sign_lsh_sig, ivf_top_cells, shingle_hash60,
  *    bloom_agg/bloom_contains, max_cos_min_id, pq_encode/pq_decode)
  *    — injected into every session the platform creates, no
  *    application code needed;
  *  - RELATIONS arrive here: [[registerTables]] binds each fixture
  *    table (through the same [[Tables]] schema-reconciliation
  *    chokepoint every DataFrame operator reads through) as a temp view
  *    under its bare name, so SQL text and the Column API can never
  *    disagree about what a table is.
  *
  * On a production cluster the equivalent is a catalog (the tables are
  * already registered); this object is the standalone-session shim. The
  * SqlFrontDoorSpec pins that contract queries re-expressed as pure SQL
  * text return row-identical results to their DataFrame originals.
  */
object GraftSql {

  /** Register every engine table for `dir` as a temp view named after
    * the table. Idempotent (createOrReplace). */
  def registerTables(spark: SparkSession, dir: String): Unit =
    Tables.names.foreach { n =>
      Tables(spark, dir, n).createOrReplaceTempView(n)
    }

  /** One-call convenience: register the tables, then run the SQL. */
  def sql(spark: SparkSession, dir: String, text: String): DataFrame = {
    registerTables(spark, dir)
    spark.sql(text)
  }
}
