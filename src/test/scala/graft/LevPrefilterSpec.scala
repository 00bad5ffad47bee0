package graft

import org.apache.spark.sql.functions._

/** LevPrefilter soundness + plan shape: the rewrite must fire on threshold
  * predicates, must not fire where it would be unsound, and must never
  * change results. */
class LevPrefilterSpec extends SparkSpec {
  import spark.implicits._

  private def df = Seq(
    (1L, "kettle", "kettle"),    // dist 0
    (2L, "kettle", "kettlex"),   // dist 1
    (3L, "kettle", "kite"),      // dist 3
    (4L, "kettle", "a much longer string entirely"), // length guard rejects
    (5L, "", "ab"),              // empty side
    (6L, null, "x"),             // null input → predicate null → dropped
    (7L, "same", "same")
  ).toDF("id", "a", "b")

  test("rewrite fires: banded levenshtein + length guard in the optimized plan") {
    // a local Seq would be constant-folded whole (ConvertToLocalRelation);
    // a file-backed relation keeps the Filter in the plan
    val path = "/tmp/graft_io/lev_spec"
    df.write.mode("overwrite").parquet(path)
    val q = spark.read.parquet(path).filter(levenshtein($"a", $"b") <= 2)
    val opt = q.queryExecution.optimizedPlan.toString
    assert(opt.contains("levenshtein"), opt)
    assert(opt.contains("Some(2)) >= 0"), s"banded levenshtein missing:\n$opt")
    assert(opt.contains("abs"), s"length guard missing:\n$opt")
  }

  test("results are identical with and without the rule") {
    val withRule = df.filter(levenshtein($"a", $"b") <= 2)
      .select("id").as[Long].collect().sorted.toSeq
    // semantics reference, computed without a filter-pattern the rule sees:
    // project the distance first and compare the materialized column
    val reference = df.select($"id", levenshtein($"a", $"b").as("d"))
      .collect().filter(r => !r.isNullAt(1) && r.getInt(1) <= 2)
      .map(_.getLong(0)).sorted.toSeq
    assert(withRule == reference)
    assert(withRule == Seq(1L, 2L, 5L, 7L)) // lev("", "ab") = 2 qualifies
  }

  test("rule leaves non-literal and degenerate thresholds alone") {
    // threshold 0 → degenerate, not rewritten (still correct)
    val zero = df.filter(levenshtein($"a", $"b") <= 0)
      .select("id").as[Long].collect().sorted.toSeq
    assert(zero == Seq(1L, 7L))
    // non-literal threshold → not rewritten (still correct)
    val dyn = df.withColumn("t", lit(2))
      .filter(levenshtein($"a", $"b") <= $"t")
      .select("id").as[Long].collect().sorted.toSeq
    assert(dyn == Seq(1L, 2L, 5L, 7L))
  }
}
