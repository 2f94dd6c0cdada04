package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_agg_group")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. A build may
    * cache intermediates and never frees them: whoever consumes the
    * returned frame clears the session's cache after each key (the
    * materialization contract, queries/package.scala). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.map(_._2).reduce(_ ++ _)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Relational.oracle ++ Joins.oracle ++ Aggregates.oracle ++
      Windows.oracle ++ SetOps.oracle ++ Functions.oracle ++
      Cdc.oracle ++ Udfs.oracle ++ LlmOps.oracle ++ TextOps.oracle ++
      AnnOps.oracle ++ SaltedJoin.oracle ++ Subqueries.oracle ++
      SamplingOps.oracle ++ CurationOps.oracle ++ SourceFormats.oracle ++
      GraphOps.oracle

  /** key -> operator family, derived from the SAME per-module maps that
    * assemble [[queries]] — a new key (or a whole new module wired into
    * `queries`) cannot ship without a family, because SqlFrontDoorSpec
    * asserts keySet equality with `queries` AND that every family here
    * has a SQL-front-door representative (round-15 verdict #6: family
    * coverage must be enumerable, not a hand-maintained list). */
  def queryFamilies: Map[String, String] =
    modules.flatMap { case (fam, m) => m.keys.map(_ -> fam) }.toMap

  /** (operator family, module key map): the one list of query modules. */
  private def modules: Seq[(String, Map[String, Q])] = Seq(
    "relational" -> Relational.q, "joins" -> Joins.q,
    "aggregates" -> Aggregates.q, "windows" -> Windows.q,
    "set-ops" -> SetOps.q, "functions" -> Functions.q,
    "cdc" -> Cdc.q, "udfs" -> Udfs.q, "llm-dedup" -> LlmOps.q,
    "text" -> TextOps.q, "ann" -> AnnOps.q,
    "multimodal" -> MultiModal.q, "salted-join" -> SaltedJoin.q,
    "subqueries" -> Subqueries.q, "sampling" -> SamplingOps.q,
    "curation" -> CurationOps.q, "sources" -> SourceFormats.q,
    "graph" -> GraphOps.q)
}
