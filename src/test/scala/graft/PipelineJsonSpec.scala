package graft

import graft.builder.Pipeline

/** The config entry point must interpret to the same plan the fluent
  * builder produces, and reject malformed configs loudly. */
class PipelineJsonSpec extends SparkSpec {

  test("JSON config runs identically to the fluent builder") {
    val fromConfig = Pipeline.fromJson(
      """{ "source": "orders",
        |  "steps": [
        |    {"op": "filter", "condition": "o_orderstatus = 'F'"},
        |    {"op": "join", "pipeline": {"source": "customer"},
        |     "condition": "o_custkey = c_custkey"},
        |    {"op": "agg", "groupBy": ["c_mktsegment"], "aggs": ["count(*) AS n"]},
        |    {"op": "sort", "keys": ["c_mktsegment"]} ] }""".stripMargin)
      .run(spark, sf).collect().toSeq
    val fluent = Pipeline.source("orders")
      .filter("o_orderstatus = 'F'")
      .join(Pipeline.source("customer"), "o_custkey = c_custkey")
      .agg(Seq("c_mktsegment"), "count(*) AS n")
      .sort("c_mktsegment")
      .run(spark, sf).collect().toSeq
    assert(fromConfig.nonEmpty && fromConfig == fluent)
  }

  test("YAML config interprets to the same result as JSON") {
    val yaml =
      """source: orders
        |steps:
        |  - op: filter
        |    condition: o_orderstatus = 'F'
        |  - op: agg
        |    groupBy: [o_orderpriority]
        |    aggs: ["count(*) AS n"]
        |  - op: sort
        |    keys: [o_orderpriority]
        |""".stripMargin
    val json =
      """{"source": "orders", "steps": [
        |  {"op": "filter", "condition": "o_orderstatus = 'F'"},
        |  {"op": "agg", "groupBy": ["o_orderpriority"], "aggs": ["count(*) AS n"]},
        |  {"op": "sort", "keys": ["o_orderpriority"]}]}""".stripMargin
    val a = Pipeline.fromYaml(yaml).run(spark, sf).collect().toSeq
    val b = Pipeline.fromJson(json).run(spark, sf).collect().toSeq
    assert(a.nonEmpty && a == b)
  }

  test("dedup step keeps exactly the first row per key under the given order") {
    val out = Pipeline.fromJson(
      """{"source": "orders", "steps": [
        |  {"op": "dedup", "keys": ["o_custkey"], "orderBy": ["o_orderdate", "o_orderkey"]},
        |  {"op": "selectExpr", "exprs": ["o_custkey", "o_orderkey"]},
        |  {"op": "sort", "keys": ["o_custkey"]}]}""".stripMargin)
      .run(spark, sf)
    // one row per customer, and it is the earliest (date, orderkey) order
    import org.apache.spark.sql.functions._
    assert(out.groupBy("o_custkey").count().filter(col("count") > 1).count() == 0)
    val expect = engine.Tables(spark, sf, "orders")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate"), col("o_orderkey"))))
      .filter(col("rn") === 1).select("o_custkey", "o_orderkey")
      .orderBy("o_custkey").collect().toSeq
    assert(out.collect().toSeq == expect)
  }

  test("pivot and unpivot steps round-trip through config") {
    val pivoted = Pipeline.fromJson(
      """{"source": "events", "steps": [
        |  {"op": "pivot", "groupBy": ["user_id"], "pivotCol": "event_type",
        |   "values": ["click", "view"], "agg": "count(*)"},
        |  {"op": "sort", "keys": ["user_id"]}]}""".stripMargin)
      .run(spark, sf)
    assert(pivoted.columns.toSeq == Seq("user_id", "click", "view"))
    assert(pivoted.count() > 0)
    val unpivoted = Pipeline.fromJson(
      """{"source": "part", "steps": [
        |  {"op": "selectExpr", "exprs": ["p_partkey", "CAST(p_size AS DOUBLE) AS p_size", "p_retailprice"]},
        |  {"op": "unpivot", "ids": ["p_partkey"], "values": ["p_size", "p_retailprice"],
        |   "varName": "k", "valName": "v"}]}""".stripMargin)
      .run(spark, sf)
    assert(unpivoted.count() ==
      2 * engine.Tables(spark, sf, "part").count())
  }

  test("LLM config steps interpret to the library operators") {
    import org.apache.spark.sql.functions._
    // dedupNear: survivors = docs minus jaccardPairs' id_b side
    val survivors = Pipeline.fromJson(
      """{"source": "documents", "steps": [
        |  {"op": "dedupNear", "textCol": "text", "idCol": "doc_id", "k": 3, "tau": 0.3},
        |  {"op": "selectExpr", "exprs": ["doc_id"]},
        |  {"op": "sort", "keys": ["doc_id"]}]}""".stripMargin)
      .run(spark, sf).collect().map(_.getLong(0)).toSeq
    val docs = engine.Tables(spark, sf, "documents")
    val losers = ops.Dedup.jaccardPairs(docs, "text", "doc_id", 3, 0.3)
      .select("id_b").distinct().collect().map(_.getLong(0)).toSet
    val expect = docs.select("doc_id").collect().map(_.getLong(0))
      .filterNot(losers).sorted.toSeq
    assert(losers.nonEmpty, "degenerate fixture: no near-dup pairs")
    assert(survivors == expect)

    // piiScrub: same masking as the TextOps operator
    val scrubbed = Pipeline.fromJson(
      """{"source": "documents", "steps": [
        |  {"op": "withColumn", "name": "t2", "expr": "concat('a@b.co 1.2.3.4 ', text)"},
        |  {"op": "piiScrub", "col": "t2", "out": "t2"},
        |  {"op": "selectExpr", "exprs": ["doc_id", "t2"]},
        |  {"op": "sort", "keys": ["doc_id"]}]}""".stripMargin)
      .run(spark, sf).collect().map(_.getString(1)).toSeq
    assert(scrubbed.forall(_.startsWith("<EMAIL> <IP> ")))

    // asofJoin: identical to calling the library op directly (orders has a
    // DATE column, so the right side pre-projects a timestamp in-config)
    val cfg = Pipeline.fromJson(
      """{"source": "events", "steps": [
        |  {"op": "selectExpr", "exprs": ["event_id", "user_id", "ts"]},
        |  {"op": "asofJoin",
        |   "pipeline": {"source": "orders", "steps": [
        |     {"op": "selectExpr",
        |      "exprs": ["o_custkey", "CAST(o_orderdate AS TIMESTAMP) AS o_ts", "o_orderkey"]}]},
        |   "leftKey": "user_id", "rightKey": "o_custkey",
        |   "leftTs": "ts", "rightTs": "o_ts",
        |   "payload": ["o_orderkey"], "tiebreak": "o_orderkey"},
        |  {"op": "selectExpr", "exprs": ["event_id", "o_orderkey"]},
        |  {"op": "sort", "keys": ["event_id"]}]}""".stripMargin)
      .run(spark, sf).collect().toSeq
    val ev = engine.Tables(spark, sf, "events").select("event_id", "user_id", "ts")
    val ord = engine.Tables(spark, sf, "orders")
      .select(col("o_custkey"), col("o_orderdate").cast("timestamp").as("o_ts"),
        col("o_orderkey"))
    val direct = ops.AsofJoin(ev, ord, "user_id", "o_custkey", "ts", "o_ts",
        Seq("o_orderkey"), "o_orderkey")
      .select("event_id", "o_orderkey").orderBy("event_id").collect().toSeq
    assert(cfg.nonEmpty && cfg == direct)
  }

  test("corpus-gate steps (langFilter, qualityGate, importanceSample) " +
    "interpret to the graded operators") {
    val kept = Pipeline.fromJson(
      """{ "source": "documents",
        |  "steps": [
        |    {"op": "langFilter", "textCol": "text", "lang": "en"},
        |    {"op": "qualityGate", "textCol": "text", "minScore": 0.6},
        |    {"op": "importanceSample", "textCol": "text", "idCol": "doc_id"} ] }"""
        .stripMargin)
      .run(spark, sf)
    val all = engine.Tables(spark, sf, "documents").count()
    val n = kept.count()
    assert(n > 0 && n < all, s"gates kept $n of $all")
    // schema passes through untouched — gates only filter
    assert(kept.columns.toSeq ==
      engine.Tables(spark, sf, "documents").columns.toSeq)
    // the importance-sample step agrees with the graded query's keep set
    // on the quality-scored subset it receives
    val direct = Pipeline.source("documents")
      .langFilter("text", "en").qualityGate("text", 0.6)
      .importanceSample("text", "doc_id")
      .run(spark, sf).collect().map(_.getLong(0)).toSet
    assert(kept.collect().map(_.getLong(0)).toSet == direct)
  }

  test("chunkDedup and urlDedup steps interpret to the library operators") {
    import org.apache.spark.sql.functions._
    // urlDedup: keep-lowest-id per canonical url — two docs sharing a canon
    val kept = Pipeline.fromJson(
      """{ "source": "documents",
        |  "steps": [
        |    {"op": "withColumn", "name": "url",
        |     "expr": "concat('https://EXAMPLE.com/p/', CAST(doc_id % 5 AS STRING), '?ref=x&utm_s=y#frag')"},
        |    {"op": "urlDedup", "urlCol": "url", "idCol": "doc_id"},
        |    {"op": "sort", "keys": ["doc_id"]} ] }""".stripMargin)
      .run(spark, sf).select("doc_id").collect().map(_.getLong(0)).toSeq
    // canon = https://example.com/p/<doc_id % 5> (params all stripped) →
    // exactly the 5 lowest ids, one per residue class
    val expect = engine.Tables(spark, sf, "documents")
      .groupBy((col("doc_id") % 5).as("r")).agg(min("doc_id").as("m"))
      .collect().map(_.getLong(1)).sorted.toSeq
    assert(kept == expect, s"urlDedup kept $kept, expected $expect")

    // chunkDedup: identical to calling Dedup.chunkDedup directly
    val cfg = Pipeline.fromJson(
      """{ "source": "documents",
        |  "steps": [
        |    {"op": "chunkDedup", "textCol": "text", "idCol": "doc_id", "width": 16},
        |    {"op": "sort", "keys": ["doc_id"]} ] }""".stripMargin)
      .run(spark, sf).collect().toSeq
    val direct = ops.Dedup.chunkDedup(
        engine.Tables(spark, sf, "documents"), "text", "doc_id", 16)
      .orderBy("doc_id").collect().toSeq
    assert(cfg.nonEmpty && cfg == direct)
    assert(cfg.head.schema.fieldNames.toSeq ==
      Seq("doc_id", "text_dedup", "n_kept", "n_chunks"))
  }

  test("sort and dedup keys honour a trailing DESC; other aliases are rejected") {
    val prices = Pipeline.fromJson(
      """{"source": "orders", "steps": [
        |  {"op": "sort", "keys": ["o_totalprice DESC"]}]}""".stripMargin)
      .run(spark, sf).collect().map(_.getAs[Double]("o_totalprice")).toSeq
    assert(prices.size > 1 && prices == prices.sorted.reverse)
    // the latest order per customer, ties to the higher key
    val latest = Pipeline.fromJson(
      """{"source": "orders", "steps": [
        |  {"op": "dedup", "keys": ["o_custkey"],
        |   "orderBy": ["o_orderdate desc nulls last", "o_orderkey DESC"]},
        |  {"op": "selectExpr", "exprs": ["o_custkey", "o_orderdate"]}]}""".stripMargin)
      .run(spark, sf).collect().map(r => r.getLong(0) -> r.get(1)).toMap
    import org.apache.spark.sql.functions._
    val expect = engine.Tables(spark, sf, "orders").groupBy("o_custkey")
      .agg(max("o_orderdate")).collect().map(r => r.getLong(0) -> r.get(1)).toMap
    assert(latest.nonEmpty && latest == expect)
    val bad = intercept[IllegalArgumentException] {
      Pipeline.source("orders").sort("o_totalprice AS p").run(spark, sf)
    }
    assert(bad.getMessage.contains("o_totalprice AS p"))
  }

  test("unknown op and missing fields fail loudly") {
    intercept[IllegalArgumentException] {
      Pipeline.fromJson("""{"source": "orders", "steps": [{"op": "explode"}]}""")
    }
    intercept[IllegalArgumentException] {
      Pipeline.fromJson("""{"steps": []}""")
    }
    intercept[IllegalArgumentException] {
      Pipeline.fromJson("""{"source": "orders", "steps": [{"op": "filter"}]}""")
    }
  }
}
