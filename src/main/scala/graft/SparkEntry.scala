package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{EmbedQueries, EventQueries, HttpQueries, OpsQueries, PqQueries, TextQueries, VectorQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 (and the training-data
  * pipeline operator set) has an entry in [[queries]]; those with an
  * exact SQL-expressible oracle also appear in [[oracleSql]] (DuckDB
  * dialect, same parquet tables). Cross-engine float determinism: query
  * vectors use exact multiples of 1/16, accumulation is double-precision,
  * float outputs are rounded to 6 places on both sides, and ORDER BY uses
  * the rounded value plus an id tie-breaker.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    VectorQueries.knnL2Sq(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    VectorQueries.queries ++ TextQueries.queries ++ PqQueries.queries ++
      EmbedQueries.queries ++ EventQueries.queries ++ HttpQueries.queries ++
      OpsQueries.queries

  def oracleSql: Map[String, String] =
    VectorQueries.oracleSql ++ TextQueries.oracleSql ++ PqQueries.oracleSql ++
      EmbedQueries.oracleSql ++ EventQueries.oracleSql ++ HttpQueries.oracleSql ++
      OpsQueries.oracleSql

  /** Build the one-time artifacts the queries probe in one
    * [[SharedState.warm]] run, returning (artifact, build seconds) —
    * lets the bench report build cost apart from steady-state cost. */
  def prepare(spark: SparkSession, sfDir: String): Seq[(String, Double)] =
    SharedState.warm(spark,
      VectorQueries.prepare(spark, sfDir) ++ TextQueries.prepare(spark, sfDir) ++
        EmbedQueries.prepare(spark, sfDir) ++ HttpQueries.prepare(spark, sfDir) ++
        EventQueries.prepare(spark, sfDir))
}
