package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.catalog.{Entry, Registry, Sql}
import graft.pipelines.Iot

/** The catalog contract — the named query catalog and its DuckDB oracle SQL,
  * both derived once from [[graft.catalog.Registry]], where each query is
  * registered with its check beside its family.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Iot.flagship(spark, "/root/testdata/sf0.001")

  /** Every catalog query's Spark build, by name. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.all.map(e => e.name -> e.build).toMap

  /** The DuckDB twin of every query that has one, by name; the rest are
    * checked rows-only.
    */
  val oracleSql: Map[String, String] =
    Registry.all.collect { case Entry(name, _, Sql(text)) => name -> text }.toMap
}
