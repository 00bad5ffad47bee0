package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.engine.QueryPack
import graft.{queries => qp}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** All registered query packs, each with its OPERATORS.md category
    * label (graft.GenDocs writes the inventory in this order); add a pack
    * per SURVEY §2 category. */
  private[graft] val packs: Seq[(String, QueryPack)] = Seq(
    "Sources (§2.1)" -> qp.Sources,
    "Projection / filter (§2.2)" -> qp.Relational,
    "Joins (§2.3)" -> qp.Joins,
    "Aggregations (§2.4)" -> qp.AggCore,
    "Aggregations (§2.4)" -> qp.Aggregates,
    "Windows (§2.5)" -> qp.Windows,
    "Sort / limit / top-k (§2.6)" -> qp.SortLimit,
    "Set operations (§2.7)" -> qp.SetOps,
    "Scalar functions (§2.8)" -> qp.Scalars,
    "LLM data pipeline (§2.9)" -> qp.LlmOps,
    "Streaming (§2.10)" -> qp.Streaming,
    "UDF / UDTF / custom expr (§2.11)" -> qp.Extensibility,
    "Extras (beyond §2)" -> qp.Extras,
    "Graph analytics (§2.9 extension)" -> qp.GraphOps,
    "Corpus quality / data management (§2.9 extension)" -> qp.QualityOps,
    "Time series / experimentation (§2.9 extension)" -> qp.TimeSeriesOps,
    "Stats / dataset management (§2.9 extension)" -> qp.StatsOps,
    "Subqueries / SQL surface (§4 decorrelation)" -> qp.Subqueries)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    qp.AggCore.flagship(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    val names = packs.flatMap(_._2.names)
    // a cross-pack name collision would silently drop a query AND could
    // pair one pack's oracle with another pack's builder — fail loudly
    require(names.distinct.size == names.size,
      s"duplicate query names across packs: ${names.diff(names.distinct).distinct}")
    packs.flatMap(_._2.queries).toMap
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = packs.flatMap(_._2.oracles).toMap
}
