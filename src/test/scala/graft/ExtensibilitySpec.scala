package graft

import graft.builder.Pipeline
import org.apache.spark.sql.functions._

class ExtensibilitySpec extends SparkSpec {
  import spark.implicits._

  test("graft_dot: codegen result equals hand computation; null-safe") {
    val df = Seq(
      (1L, Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)),
      (2L, Array(0.0, 0.0), Array(1.0, 1.0))
    ).toDF("id", "a", "b")
    val out = df.selectExpr("id", "graft_dot(a, b) AS d")
      .as[(Long, Double)].collect().toMap
    assert(out(1L) == 1 * 4 + 2 * 5 + 3 * 6.0)
    assert(out(2L) == 0.0)
    val withNull = df.selectExpr("id", "graft_dot(a, CAST(NULL AS ARRAY<DOUBLE>)) AS d")
      .select("d").collect()
    assert(withNull.forall(_.isNullAt(0)))
  }

  test("graft_dot appears inside WholeStageCodegen") {
    // must come from a real scan — a local relation constant-folds the plan
    val df = engine.Tables(spark, sf, "embeddings")
      .selectExpr("transform(embedding, x -> CAST(x AS DOUBLE)) AS e")
      .selectExpr("graft_dot(e, e) AS d")
    // the `*(n)` prefix marks operators fused into a WholeStageCodegen stage
    val planLine = df.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("graft_dot")).get
    assert(planLine.trim.startsWith("*("), s"not codegen'd: $planLine")
    assert(df.count() > 0)
  }

  test("partitioned sink readback prunes to one partition directory") {
    val out = "/tmp/graft_io/prune_check"
    engine.Tables(spark, sf, "lineitem")
      .select("l_orderkey", "l_returnflag")
      .write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
    val df = spark.read.parquet(out).filter($"l_returnflag" === "R")
    val scan = df.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("FileScan")).getOrElse("")
    assert(scan.contains("PartitionFilters: [isnotnull(l_returnflag"),
      s"no partition filter in: $scan")
    assert(df.count() > 0)
  }

  test("SQL-defined UDF inlines into the plan: no ScalaUDF node, and the " +
    "body folds under optimization (r13)") {
    // the scale claim behind udf_sql_scalar: CREATE FUNCTION ... RETURN
    // expr is a zero-cost abstraction — Catalyst sees the body, so it
    // codegens and constant-folds like any expression, where a JVM UDF
    // is an opaque per-row call
    spark.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_spec_tax(p DOUBLE)
      |RETURNS BIGINT
      |RETURN CAST(floor(p * 107 + 0.5) AS BIGINT)""".stripMargin)
    val df = spark.sql(
      "SELECT graft_spec_tax(o_totalprice) AS t FROM " +
        s"parquet.`$sf/orders.parquet`")
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("ScalaUDF"),
      s"SQL UDF did not inline:\n$optimized")
    assert(optimized.contains("FLOOR") || optimized.toLowerCase.contains("floor"),
      s"inlined body missing from plan:\n$optimized")
    // constant arguments fold to a literal — impossible for a JVM UDF
    val folded = spark.sql("SELECT graft_spec_tax(10.0) AS t")
      .queryExecution.optimizedPlan.toString
    assert(folded.contains("1070"), s"constant call did not fold:\n$folded")
  }

  test("pipeline builder: step list equals hand-written DataFrame result") {
    val viaBuilder = Pipeline.source("nation")
      .filter("n_regionkey = 0")
      .selectExpr("n_nationkey", "n_name")
      .sort("n_nationkey")
      .run(spark, sf)
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    val direct = engine.Tables(spark, sf, "nation")
      .filter($"n_regionkey" === 0)
      .select($"n_nationkey", $"n_name")
      .orderBy("n_nationkey")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(viaBuilder == direct && viaBuilder.nonEmpty)
  }
}
