package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §2.3 for the declared query
  * surface. Each module pairs the Spark implementation with its DuckDB
  * oracle SQL; this object just flattens the registry.
  */
object SparkEntry {

  private val modules: Seq[QueryModule] =
    Seq(PhotonOps, Relational, Joins, Windows, Scalars, TextOps, VectorOps,
      ScaleOps, PipelineOps, MiningOps, EventAnalytics)

  private lazy val registry: Seq[Q] = {
    val qs = modules.flatMap(_.all)
    val dup = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dup.isEmpty, s"duplicate query names: ${dup.mkString(",")}")
    qs
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * This is photon's `__streams__` built-in projection restated
    * relationally (reference default_projs.clj:8-26). */
  def entry(spark: SparkSession): DataFrame =
    queries("p_streams_catalog")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2.3. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> (q.run _)).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for approx/non-SQL-expressible ops
    * (driver records a weaker rows-only check; ScalaTest covers those). */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(o => q.name -> o)).toMap
}
