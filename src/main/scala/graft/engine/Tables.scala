package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the graded parquet tables.
  *
  * Scale note (100 TB design): loaders are Spark's parquet source (through
  * [[parquet]]), so Catalyst keeps predicate pushdown / column pruning /
  * partition pruning through the scan. At cluster scale the same call reads
  * a partitioned directory tree; nothing here assumes single-file inputs.
  */
object Tables {
  val all: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Resolved base relation, memoized per (session, dir, table):
    * a parquet read re-lists files and re-reads a footer on every call,
    * and the graded fixtures are immutable for the life of a session.
    * The shared DataFrame is an immutable logical plan; every
    * query chains new operators on top, pushdown/pruning unaffected. */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.ops.PlanMemo.byDir(spark, dir, "Tables", name) {
      if (name == "events") events(spark, dir)
      else parquet(spark, s"$dir/$name.parquet")
    }

  /** Spark's parquet read of `paths`, with the schema taken from one
    * footer read on the driver ([[FooterParquet]]) instead of a one-task
    * Spark job: same schema, rows and plan, one job fewer per read. Every
    * plain batch parquet read in graft goes through here. */
  def parquet(spark: SparkSession, paths: String*): DataFrame =
    spark.read.format(classOf[FooterParquet].getName).load(paths: _*)

  /** Fan a compute-dense input out to full core parallelism. Small single-
    * file scans arrive as ONE partition (one row-group), which serializes
    * everything downstream of the scan — measured 19 s → 2 s on the shingle
    * join. The row-preserving shuffle is cheap relative to the compute it
    * parallelizes, and at cluster scale it doubles as a rebalance against
    * skewed file splits. */
  def fan(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** `events.ts` has shipped as two physical types across fixture
    * generations: parquet `timestamp[ns]` (which Spark 4.1 refuses to read
    * by default — PARQUET_TYPE_ILLEGAL — so such a file sets the session's
    * `nanosAsLong` flag, is read as epoch-nano longs and floored to µs with
    * INTEGER division; `/` would route a ~1.7e18 long through a 53-bit
    * double mantissa and corrupt the low digits) and parquet
    * `timestamp[us]` (which Spark reads as TIMESTAMP_NTZ). Both normalize
    * to a session-TZ TIMESTAMP: the session TZ is pinned UTC, so the
    * NTZ→LTZ cast keeps the wall clock and yields µs values identical to
    * what DuckDB sees reading the same file (SURVEY §5.4 P3). */
  def events(spark: SparkSession, dir: String): DataFrame =
    eventsTs(spark, s"$dir/events.parquet")(identity)

  /** `read` of an events parquet `file` with `ts` normalized as
    * [[events]] describes. `read` gets the batch read of `file` (its
    * schema is the footer probe) and may return another reader of the same
    * data, such as a stream. */
  def eventsTs(spark: SparkSession, file: String)(
      read: DataFrame => DataFrame): DataFrame = {
    if (FooterParquet.nanosTimestamp(spark, file, "ts"))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val batch = parquet(spark, file)
    val df = read(batch)
    batch.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
  }
}
