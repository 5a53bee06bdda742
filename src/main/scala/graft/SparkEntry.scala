package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.VectorFunctions
import graft.queries.{Canary, GasStoreQueries, MultimodalQueries, QuerySpec, Relational, TextOps, TimeSeries, VectorOps}

/** The query registry external callers use — see SURVEY.md §7.
  *
  * Every implemented operator from SURVEY.md §2 is one [[QuerySpec]] in its
  * family module's `specs`: a named builder `(SparkSession, sfDir) =>
  * DataFrame` beside the equivalent ANSI SQL that DuckDB runs over the
  * same parquet tables. Column names and types are aligned pairwise (the
  * two results are hash-compared after sorting columns by name).
  * [[queries]] and [[oracleSql]] are the two views of that one list.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * This is the reference's headline shape — Grafana's `aggregateWindow`
    * downsampling over the long point model (SURVEY.md §2.11 Q4). */
  def entry(spark: SparkSession): DataFrame =
    queries("ts03_downsample_1h")(spark, "/root/testdata/sf0.001")

  /** Every registered query, in family order. */
  val specs: Seq[QuerySpec] =
    Relational.specs ++ TimeSeries.specs ++ TextOps.specs ++
      VectorOps.specs ++ MultimodalQueries.specs ++
      GasStoreQueries.specs ++ Canary.specs

  /** Builders by name. Each first makes sure the session has the native
    * vector functions: a session without [[graft.functions.GraftExtensions]]
    * gets them registered once, one that has them is left alone. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(q => q.name -> { (s: SparkSession, dir: String) =>
      VectorFunctions.ensure(s)
      q.build(s, dir)
    }).toMap

  val oracleSql: Map[String, String] =
    specs.map(q => q.name -> q.oracleSql).toMap
}
