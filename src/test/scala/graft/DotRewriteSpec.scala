package graft

import graft.plans.DotRewrite
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** The optimizer-rule surface: DotRewrite must (a) fire on the lambda
  * pattern, (b) be bit-identical to the lambda pipeline, including the
  * null/length edge semantics that make the rewrite sound, (c) leave
  * non-matching shapes alone.
  */
class DotRewriteSpec extends SparkSpec {

  private val lambdaSql =
    "aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"

  private def edgeDf = {
    import spark.implicits._
    Seq(
      (Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),          // plain
      (Seq(0.1, -2.5), Seq(0.3, 0.7)),                   // rounding-sensitive
      (Seq.empty[Double], Seq.empty[Double])             // empty → 0.0
    ).toDF("a", "b")
  }

  test("rewrite fires: optimized plan contains graft_dot, no ArrayAggregate") {
    // parquet-backed source: ConvertToLocalRelation eagerly folds projections
    // over LocalRelation, leaving no plan to inspect
    val df = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("a"))
      .select(expr("aggregate(zip_with(a, a, (x, y) -> x * y), 0D, (acc, x) -> acc + x)").as("n2"))
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("graft_dot"), s"rewrite did not fire:\n$opt")
    assert(!opt.contains("aggregate(zip_with"), opt)
  }

  test("rewritten result equals the un-rewritten lambda bit-for-bit") {
    val rewritten = edgeDf.select(expr(lambdaSql).as("dot")).collect()
    // strip the rule, evaluate the raw lambda pipeline, restore
    val saved = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = saved.filterNot(_ == DotRewrite)
    try {
      val interpreted = edgeDf.select(expr(lambdaSql).as("dot")).collect()
      assert(rewritten.toSeq == interpreted.toSeq)
    } finally spark.experimental.extraOptimizations = saved
  }

  test("null/length edges match the lambda pipeline (soundness contract)") {
    val rows = spark.sql(
      """SELECT CAST(a AS ARRAY<DOUBLE>) AS a, CAST(b AS ARRAY<DOUBLE>) AS b FROM VALUES
        |  (array(1.0D, 2.0D), array(3.0D)),
        |  (array(1.0D, CAST(NULL AS DOUBLE)), array(3.0D, 4.0D)),
        |  (CAST(NULL AS ARRAY<DOUBLE>), array(1.0D)),
        |  (array(1.0D, 2.0D), array(3.0D, 4.0D)) AS t(a, b)""".stripMargin)
    val out = rows.select(expr(lambdaSql).as("viaRule"),
        expr("graft_dot(a, b)").as("direct")).collect()
    out.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1), s"null parity broken: $r")
      if (!r.isNullAt(0)) assert(r.getDouble(0) == r.getDouble(1), r.toString)
    }
    // the guaranteed-divergent shapes: mismatch → null, null element → null
    assert(out(0) == Row(null, null))
    assert(out(1) == Row(null, null))
    assert(out(2) == Row(null, null))
    assert(out(3) == Row(11.0, 11.0))
  }

  test("non-matching shapes are left alone") {
    val shapes = Seq(
      "aggregate(zip_with(a, b, (x, y) -> x + y), 0D, (acc, x) -> acc + x)", // + not *
      "aggregate(zip_with(a, b, (x, y) -> x * y), 1D, (acc, x) -> acc + x)", // seed 1
      "aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, x) -> acc * x)", // fold *
      "aggregate(zip_with(a, b, (x, y) -> x * x), 0D, (acc, x) -> acc + x)") // x*x
    shapes.foreach { sql =>
      val opt = edgeDf.select(expr(sql).as("v")).queryExecution.optimizedPlan.toString
      assert(!opt.contains("graft_dot"), s"over-eager rewrite on: $sql\n$opt")
    }
  }
}
