package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{ExtQ, KernelQ, MotQ, Q, Rel, TextQ}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator claimed in SURVEY §2 appears here as a named query,
  * and every query carries a DuckDB oracle in [[oracleSql]] — including
  * the sequential kernels (NMS, tracker, Kalman), which replay as
  * recursive CTEs (see queries/KernelQ.scala). ScalaTest golden specs
  * cover the raster/streaming halves SQL can't express.
  */
object SparkEntry {

  val catalog: Seq[Q] =
    Rel.defs ++ TextQ.defs ++ MotQ.defs ++ KernelQ.defs ++ ExtQ.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * the star-join revenue rollup (J-category + A-category in one plan).
    */
  def entry(spark: SparkSession): DataFrame =
    catalog.find(_.name == "q03_star_revenue").get
      .fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    catalog.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible kernels.
    */
  def oracleSql: Map[String, String] =
    catalog.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
