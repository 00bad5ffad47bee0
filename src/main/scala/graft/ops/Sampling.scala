package graft.ops

import graft.engine.Det
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic corpus sampling policies (SURVEY §2.9 extension). */
object Sampling {

  /** Quality-proportional importance sampling: within each 0.1-wide
    * quality stratum keep the top stratum_rate·n rows by md5(id) rank —
    * md5 order is the deterministic "uniform draw" (the
    * sample_deterministic idiom), so reruns keep identical rows.
    *
    * Scale shape: the per-stratum rank runs through
    * [[BlockWindow.rowNumber]], NOT a plain `PARTITION BY stratum` window —
    * ten strata would otherwise mean ten window tasks at any scale (the
    * same serialization llm_shard_assign's verdict flagged). Stratum
    * counts are a ≤11-row broadcast. Returns the input rows that survive,
    * original columns plus the quality score as `qualityOut`. */
  def importanceSample(df: DataFrame, textCol: String, idCol: String,
                       qualityOut: String = "__quality"): DataFrame = {
    val q = TextOps.qualityScore(col(textCol))
    val b = df.withColumn(qualityOut, q)
      .withColumn("__qb", floor(col(qualityOut) * 10).cast("int"))
      .withColumn("__u", md5(col(idCol).cast("string")))
    val ranked = BlockWindow.rowNumber(
      b, Seq("__qb"), Seq("__u", idCol), "__rk")
    val counts = b.groupBy("__qb").agg(count(lit(1)).as("__n"))
    ranked.join(broadcast(counts), "__qb")
      .filter(col("__rk") <=
        Det.half(col("__qb").cast("double") / 10 * col("__n")))
      .drop("__qb", "__u", "__rk", "__n")
  }
}
