package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries`: one entry per implemented operator (SURVEY §2). Every entry
  * here has a DuckDB oracle in [[oracleSql]] unless the operator is not
  * SQL-expressible (streaming). Column names are aliased identically on
  * both sides; results are deterministically ordered; float-summing
  * queries round to fixed decimals on both sides (SURVEY §7 watch list 5).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Full CDC hot path (SURVEY §3 E2): snapshot lineitem → envelope →
    * Kafka-shaped wire records. */
  def entry(spark: SparkSession): DataFrame = {
    val sfDir = "/root/testdata/sf0.001"
    val li = Tables.lineitem(spark, sfDir)
    val events = CdcOps.finalizeEnvelope(
      CdcOps.snapshot(li, "lineitem", "l_orderkey"))
    CdcOps.toWire(events, "graft", "tpch")
  }

  /** Every module's entries, each registering the native functions on
    * its session before it builds (idempotent) — a caller's session
    * needs no set-up, and no entry registers on its own. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    (CdcQueries.queries ++ RelationalQueries.queries ++
      TextQueries.queries ++ SimilarityQueries.queries ++
      EventQueries.queries ++ MultimodalQueries.queries ++
      PipelineQueries.queries ++ StreamingQueries.queries ++
      GraphQueries.queries).map { case (name, query) =>
      name -> ((s: SparkSession, dir: String) => {
        graft.functions.GraftFunctions.register(s)
        query(s, dir)
      })
    }

  def oracleSql: Map[String, String] =
    CdcQueries.oracle ++ RelationalQueries.oracle ++
      TextQueries.oracle ++ SimilarityQueries.oracle ++
      EventQueries.oracle ++ MultimodalQueries.oracle ++
      PipelineQueries.oracle ++ StreamingQueries.oracle ++
      GraphQueries.oracle
}
