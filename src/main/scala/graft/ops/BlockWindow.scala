package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed running aggregations over keys with FEW distinct values —
  * the two-phase block prefix sum (SURVEY §2.9 scale hygiene).
  *
  * `SUM(v) OVER (PARTITION BY key ORDER BY ord)` hands Spark exactly one
  * window task per key: with 8 shards or a handful of languages that is
  * ~12.5 TB per task at the 100 TB target — the window is correct but
  * serial. The classic fix is the same one GPU scan kernels use: compute
  * prefix sums within blocks, then a (tiny) prefix sum OVER blocks, then
  * add each block's offset back. Here a "block" is a range partition of
  * (key, ord): range partitioning guarantees every row of a key in block
  * i orders before every row of that key in block i+1, so
  *
  *   global_prefix(row) = offset(key, block) + within_block_prefix(row)
  *
  * holds exactly. Parallelism is nBlocks (defaults to the session's
  * shuffle parallelism) regardless of how few keys exist, per-task state
  * is one partition's rows, and the offsets frame is nBlocks × nKeys rows
  * — broadcast-join small by construction.
  *
  * Result values are independent of WHERE the block boundaries fall (the
  * math telescopes), so the output is deterministic even though the range
  * partitioner samples; the persist below is still load-bearing: both the
  * within-block branch and the totals branch must read the SAME block
  * assignment, and a recompute could legally re-sample different bounds.
  *
  * [[lag]] and [[ntile]] ride the same machinery: lag is per-block lag
  * plus ONE boundary row handed forward from the previous block, and
  * ntile is pure arithmetic over [[rowNumber]] plus a broadcast count.
  */
object BlockWindow {

  /** The shared phase-1 frame: `df` range-partitioned on (keys, order) and
    * tagged with its block id. Memoized (ops/PlanMemo) so that same plan +
    * params share one persisted block assignment instead of pinning a
    * fresh copy per call. The persist is load-bearing (object Scaladoc):
    * every consumer of one call must read the SAME sampled block bounds. */
  private def spreadOf(df: DataFrame, keys: Seq[String], order: Seq[String],
                       blocks: Int): DataFrame =
    PlanMemo.byPlan(df, "BlockWindow.spreadOf", (keys ++ order, blocks)) {
      df.repartitionByRange(blocks, (keys ++ order).map(col): _*)
        .withColumn("__block", spark_partition_id())
        .transform(PlanMemo.pin)
    }

  private def resolveBlocks(df: DataFrame, nBlocks: Int): Int =
    if (nBlocks > 0) nBlocks
    else df.sparkSession.sessionState.conf.numShufflePartitions

  /** `df` plus column `out` = running sum of `value` over rows of equal
    * `keys`, ordered by `order` (rows preceding + current). `order` must
    * be a total order within each key (ties would make "running" ill-
    * defined in any formulation). Long-typed output. */
  def runningSum(df: DataFrame, keys: Seq[String], order: Seq[String],
                 value: Column, out: String,
                 nBlocks: Int = 0): DataFrame = {
    val blocks = resolveBlocks(df, nBlocks)
    val spread = spreadOf(df, keys, order, blocks)
    val withinW = Window
      .partitionBy((keys :+ "__block").map(col): _*)
      .orderBy(order.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val within = spread.withColumn("__within", sum(value).over(withinW))
    // per-(key, block) totals → running offset over earlier blocks only
    val offW = Window.partitionBy(keys.map(col): _*).orderBy(col("__block"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = spread
      .groupBy((keys :+ "__block").map(col): _*)
      .agg(sum(value).as("__total"))
      .withColumn("__offset", coalesce(sum(col("__total")).over(offW), lit(0L)))
      .select((keys :+ "__block").map(col) :+ col("__offset"): _*)
    within
      .join(broadcast(offsets), keys :+ "__block")
      .withColumn(out, (col("__offset") + col("__within")).cast("long"))
      .drop("__block", "__within", "__offset")
  }

  /** `df` plus column `out` = rank of each row among rows of equal `keys`
    * ordered by `order` — `row_number()` as a running count of 1s, so it
    * parallelizes identically. Int-typed to match Spark's `row_number`. */
  def rowNumber(df: DataFrame, keys: Seq[String], order: Seq[String],
                out: String, nBlocks: Int = 0): DataFrame =
    runningSum(df, keys, order, lit(1L), out, nBlocks)
      .withColumn(out, col(out).cast("int"))

  /** `df` plus column `out` = `lag(value, 1)` over rows of equal `keys`
    * ordered by `order`, WITHOUT the one-task-per-key window: per-block
    * lag, then the first row of each block reads the last value of the
    * key's previous non-empty block from a nBlocks×nKeys boundary frame
    * (broadcast-small by construction). Null at each key's first row,
    * exactly like `lag`.
    *
    * Null-safe: the lagged value rides inside a single-field STRUCT, so a
    * null previous VALUE (struct non-null, field null) stays
    * distinguishable from "first row of the block" (struct null) — a bare
    * coalesce over the value itself would silently hand the first-row
    * case the previous BLOCK's boundary value whenever the column is
    * nullable. `order` must totally order rows within each key. */
  def lag(df: DataFrame, keys: Seq[String], order: Seq[String],
          value: Column, out: String, nBlocks: Int = 0): DataFrame = {
    val blocks = resolveBlocks(df, nBlocks)
    val spread = spreadOf(df, keys, order, blocks)
    val withinW = Window
      .partitionBy((keys :+ "__block").map(col): _*)
      .orderBy(order.map(col): _*)
    val boxed = struct(value.as("v"))
    val within = spread.withColumn("__within",
      org.apache.spark.sql.functions.lag(boxed, 1).over(withinW))
    // last value of each (key, block) by order → the value the NEXT block's
    // first row lags to. lag over the per-key block sequence skips empty
    // blocks for free (they produce no group row). The frame is nBlocks ×
    // nKeys rows — tiny; its own window is over that aggregate, not rows.
    // max_by's selected value is the struct, which is never null, so a
    // null boundary VALUE survives the aggregate intact.
    val lastW = Window.partitionBy(keys.map(col): _*).orderBy(col("__block"))
    val boundary = spread
      .groupBy((keys :+ "__block").map(col): _*)
      .agg(max_by(boxed, struct(order.map(col): _*)).as("__last"))
      .withColumn("__prev",
        org.apache.spark.sql.functions.lag(col("__last"), 1).over(lastW))
      .select((keys :+ "__block").map(col) :+ col("__prev"): _*)
    within
      .join(broadcast(boundary), keys :+ "__block")
      .withColumn(out, coalesce(col("__within"), col("__prev")).getField("v"))
      .drop("__block", "__within", "__prev")
  }

  /** `df` plus column `out` = `ntile(buckets)` over rows of equal `keys`
    * ordered by `order`, with EXACT ANSI front-loaded semantics (n rows,
    * k buckets: the first n mod k buckets get ⌈n/k⌉ rows, the rest ⌊n/k⌋
    * — Spark's and DuckDB's ntile agree on this), derived arithmetically
    * from the block-prefix [[rowNumber]] plus one broadcast per-key count.
    * Int-typed to match Spark's `ntile`. */
  def ntile(df: DataFrame, buckets: Int, keys: Seq[String],
            order: Seq[String], out: String, nBlocks: Int = 0): DataFrame = {
    require(buckets > 0, s"ntile needs a positive bucket count, got $buckets")
    val ranked = rowNumber(df, keys, order, out, nBlocks)
    val counts = df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n"))
    val withN =
      if (keys.isEmpty) ranked.crossJoin(broadcast(counts))
      else ranked.join(broadcast(counts), keys)
    // q = ⌊n/k⌋, r = n mod k; ranks 1..r(q+1) land in the r wide buckets,
    // the rest advance one bucket every q ranks. q = 0 (n < k) degenerates
    // to bucket = rank via the first branch (r = n ≥ every rank). The
    // divisions run exact: (n−r)/k divides evenly, and rank/bucket counts
    // stay far below 2^53, so the double floor is the integer quotient.
    val k = lit(buckets.toLong)
    val rn = col(out).cast("long")
    val r = col("__n").cast("long") % k
    val qf = ((col("__n").cast("long") - r) / k).cast("long")
    val bucket = when(rn <= r * (qf + 1),
        floor((rn - 1).cast("double") / (qf + 1)).cast("long"))
      .otherwise(r + floor((rn - 1 - r * (qf + 1)).cast("double") / qf)
        .cast("long"))
    withN.withColumn(out, (bucket + 1).cast("int")).drop("__n")
  }
}
