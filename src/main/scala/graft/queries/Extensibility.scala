package graft.queries

import graft.builder.Pipeline
import graft.engine.{Det, QueryPack, Tables}
import org.apache.spark.sql.functions._

/** UDF / UDTF / custom-Expression / builder surface (SURVEY §2.11). */
object Extensibility extends QueryPack {
  import Det._

  q("udf_scalar",
    """SELECT p_partkey,
      |  regexp_replace(lower(p_name), '[^a-z0-9]+', '-', 'g') AS slug
      |FROM part
      |ORDER BY p_partkey""") { (s, dir) =>
    val slug = udf((name: String) =>
      if (name == null) null else name.toLowerCase.replaceAll("[^a-z0-9]+", "-"))
    s.udf.register("graft_slug", slug)
    Tables(s, dir, "part")
      .select(col("p_partkey"), call_udf("graft_slug", col("p_name")).as("slug"))
      .orderBy("p_partkey")
  }

  // SQL-DEFINED scalar UDF (Spark 4.1 CREATE FUNCTION … RETURN expr):
  // unlike the opaque JVM closure above, the body is a SQL expression
  // Catalyst INLINES into the plan — codegen, pushdown, and constant
  // folding all apply, so at 100 TB this is a zero-cost abstraction
  // where a Scala UDF is a per-row virtual call with serialization at
  // the codegen boundary (ExtensibilitySpec pins the inlining: no
  // ScalaUDF node in the optimized plan). Integer-cents tax math — the
  // same Det discipline as everywhere else.
  q("udf_sql_scalar",
    """SELECT o_orderkey,
      |  CAST(floor(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) * 1.07
      |    + 0.5) AS BIGINT) AS taxed_cents
      |FROM orders ORDER BY o_orderkey""") { (s, dir) =>
    s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_taxed_cents(p DOUBLE)
      |RETURNS BIGINT
      |RETURN CAST(floor(CAST(floor(p * 100 + 0.5) AS BIGINT) * 1.07 + 0.5)
      |  AS BIGINT)""".stripMargin)
    Tables(s, dir, "orders").createOrReplaceTempView("orders")
    s.sql("""SELECT o_orderkey, graft_taxed_cents(o_totalprice) AS taxed_cents
      |FROM orders ORDER BY o_orderkey""".stripMargin)
  }

  // SQL-defined TABLE function (RETURNS TABLE … RETURN SELECT) applied
  // per row via LATERAL — the declarative UDTF: the body is a plan
  // fragment the optimizer fuses into the lateral join, not a row
  // callback. Each order fans out into (o_orderkey % 3 + 1) tier rows;
  // DuckDB's generate_series lateral states the same thing.
  q("udf_sql_table",
    """SELECT o_orderkey,
      |  CAST(unnest(range(1, o_orderkey % 3 + 2)) AS BIGINT) AS tier
      |FROM orders
      |ORDER BY o_orderkey, tier""") { (s, dir) =>
    s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_tiers(n BIGINT)
      |RETURNS TABLE(i BIGINT)
      |RETURN SELECT explode(sequence(1L, n))""".stripMargin)
    Tables(s, dir, "orders").createOrReplaceTempView("orders")
    s.sql("""SELECT o.o_orderkey, g.i AS tier
      |FROM orders o, LATERAL graft_tiers(o.o_orderkey % 3 + 1) AS g(i)
      |ORDER BY o_orderkey, tier""".stripMargin)
  }

  q("udtf_generator",
    """SELECT o_orderkey, key, val FROM (
      |  SELECT o_orderkey, 'priority' AS key, o_orderpriority AS val FROM orders
      |  UNION ALL
      |  SELECT o_orderkey, 'status' AS key, o_orderstatus AS val FROM orders
      |)
      |ORDER BY o_orderkey, key""") { (s, dir) =>
    Tables(s, dir, "orders")
      .selectExpr("o_orderkey",
        "stack(2, 'priority', o_orderpriority, 'status', o_orderstatus) AS (key, val)")
      .orderBy("o_orderkey", "key")
  }

  q("udtf_posexplode",
    """SELECT p_partkey, k - 1 AS pos, string_split(p_type, ' ')[k] AS tok
      |FROM part CROSS JOIN (SELECT unnest(range(1, 10)) AS k) ks
      |WHERE k <= len(string_split(p_type, ' '))
      |ORDER BY p_partkey, pos""") { (s, dir) =>
    Tables(s, dir, "part")
      .select(col("p_partkey"), posexplode(split(col("p_type"), " ")))
      .withColumnRenamed("col", "tok")
      .select(col("p_partkey"), col("pos").cast("long").as("pos"), col("tok"))
      .orderBy("p_partkey", "pos")
  }

  // explode_outer: rows with EMPTY arrays survive as a NULL row instead of
  // vanishing — the outer-generator semantics a left-join-shaped flatten
  // needs. DuckDB has no outer unnest; the oracle pads empties to [NULL].
  q("udtf_explode_outer",
    """SELECT doc_id, tok FROM (
      |  SELECT doc_id,
      |    unnest(CASE WHEN len(toks) = 0 THEN [NULL] ELSE toks END) AS tok
      |  FROM (
      |    SELECT doc_id, list_filter(string_split(text, ' '), t -> length(t) > 9) AS toks
      |    FROM documents
      |  )
      |)
      |ORDER BY doc_id, tok NULLS FIRST""") { (s, dir) =>
    Tables(s, dir, "documents")
      .select(col("doc_id"),
        filter(split(col("text"), " "), t => length(t) > 9).as("toks"))
      .select(col("doc_id"), explode_outer(col("toks")).as("tok"))
      .orderBy(col("doc_id"), col("tok").asc_nulls_first)
  }

  // variant_explode (Spark 4 TVF): one variant OBJECT → (pos, key, value)
  // rows via LATERAL — the schema-on-read flatten for open payload
  // columns (pair to fn_variant_nested's path extraction: that grades
  // known paths, this grades enumerating UNKNOWN ones). Field order is
  // the variant encoding's sorted-key order (probed: amt/et/grp
  // regardless of construction order), so pos is deterministic; values
  // render through to_json's canonical form (bare integers, quoted
  // strings). The variant is built from typed columns (exact cents, so
  // no double-rendering hazard) and the oracle re-derives every row from
  // those same columns. Scale: explode fans out |fields| rows per event
  // — same per-row cost class as posexplode, no shuffle added.
  q("udtf_variant_explode",
    """WITH t AS (
      |  SELECT event_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS amt,
      |    event_type AS et, user_id % 5 AS grp
      |  FROM events WHERE event_id < 300)
      |SELECT event_id, pos, key, val FROM (
      |  SELECT event_id, CAST(0 AS INT) AS pos, 'amt' AS key,
      |    CAST(amt AS VARCHAR) AS val FROM t
      |  UNION ALL SELECT event_id, CAST(1 AS INT), 'et', '"' || et || '"' FROM t
      |  UNION ALL SELECT event_id, CAST(2 AS INT), 'grp', CAST(grp AS VARCHAR) FROM t)
      |ORDER BY event_id, pos""") { (s, dir) =>
    Tables(s, dir, "events").filter(col("event_id") < 300)
      .select(col("event_id"), parse_json(to_json(struct(
        Det.cents(col("value")).cast("long").as("amt"),
        col("event_type").as("et"),
        (col("user_id") % 5).as("grp")))).as("v"))
      .createOrReplaceTempView("graft_ve_events")
    s.sql(
      """SELECT event_id, CAST(pos AS INT) AS pos, key, to_json(value) AS val
        |FROM graft_ve_events, LATERAL variant_explode(v)
        |ORDER BY event_id, pos""".stripMargin)
  }

  // native codegen Expression — called through SQL once registered
  q("expr_custom_dot",
    """WITH v AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id < 20
      |)
      |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  round(list_reduce(list_prepend(0.0, list_transform(list_zip(a.e, b.e),
      |        z -> z[1] * z[2])), (x, y) -> x + y), 4) AS dot
      |FROM v a JOIN v b ON a.vec_id < b.vec_id
      |ORDER BY id_a, id_b""") { (s, dir) =>
    val v = Tables(s, dir, "embeddings").filter(col("vec_id") < 20)
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
    v.as("a").join(v.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        round(expr("graft_dot(a.e, b.e)"), 4).as("dot"))
      .orderBy("id_a", "id_b")
  }

  // same pairs as expr_custom_dot, but the Spark side writes the PORTABLE
  // higher-order-lambda form and relies on the injected DotRewrite optimizer
  // rule to reach the codegen expression — grading the Rule[LogicalPlan]
  // surface itself (PlanShapeSpec pins that the rewrite actually fired)
  q("expr_dot_rewrite",
    """WITH v AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings WHERE vec_id < 20
      |)
      |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  round(list_reduce(list_prepend(0.0, list_transform(list_zip(a.e, b.e),
      |        z -> z[1] * z[2])), (x, y) -> x + y), 4) AS dot
      |FROM v a JOIN v b ON a.vec_id < b.vec_id
      |ORDER BY id_a, id_b""") { (s, dir) =>
    val v = Tables(s, dir, "embeddings").filter(col("vec_id") < 20)
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
    v.as("a").join(v.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        round(expr("aggregate(zip_with(a.e, b.e, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"),
          4).as("dot"))
      .orderBy("id_a", "id_b")
  }

  // the SAME builder driven from a JSON config document — pipelines are
  // data; nothing here touches the DataFrame API directly
  q("pipeline_from_config",
    """SELECT n.n_name, COUNT(*) AS n_custs,
      |  CAST(SUM(CAST(floor(c.c_acctbal * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS total_bal
      |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
      |WHERE c.c_acctbal > 0
      |GROUP BY n.n_name
      |ORDER BY n.n_name""") { (s, dir) =>
    Pipeline.fromJson(
      """{ "source": "customer",
        |  "steps": [
        |    {"op": "filter", "condition": "c_acctbal > 0"},
        |    {"op": "join", "pipeline": {"source": "nation"},
        |     "condition": "c_nationkey = n_nationkey", "how": "inner"},
        |    {"op": "agg", "groupBy": ["n_name"],
        |     "aggs": ["count(*) AS n_custs",
        |              "CAST(SUM(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100 AS total_bal"]},
        |    {"op": "sort", "keys": ["n_name"]}
        |  ] }""".stripMargin).run(s, dir)
  }

  // LLM-pipeline ops as config steps: near-dedup (shingle-blocked, keep-
  // lowest-id) and PII scrub driven from the same JSON surface as the
  // relational steps — the pipeline-builder story for corpus builds. Synthetic
  // PII is prepended so the scrub is observable in the checked output.
  q("pipeline_config_llm",
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3
      |), sh AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(tk)-1),
      |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS s
      |  FROM t
      |), e AS (SELECT doc_id, unnest(s) AS sg FROM sh),
      |n AS (SELECT doc_id, len(s) AS n FROM sh),
      |i AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
      |  FROM e a JOIN e b ON a.sg = b.sg AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |), losers AS (
      |  SELECT DISTINCT id_b FROM (
      |    SELECT id_a, id_b,
      |      round(CAST(inter AS DOUBLE) / (na.n + nb.n - inter), 4) AS jaccard
      |    FROM i JOIN n na ON i.id_a = na.doc_id JOIN n nb ON i.id_b = nb.doc_id
      |  ) WHERE jaccard >= 0.3
      |)
      |SELECT doc_id, lang, CAST(length(regexp_replace(regexp_replace(regexp_replace(
      |    'contact u' || doc_id || '@x.io ip 10.1.' || doc_id % 256 || '.9 ' || text,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |    '(\+?[0-9]{1,2}[ -])?[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
      |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g')) AS INT)
      |  AS n_clean
      |FROM documents
      |WHERE doc_id NOT IN (SELECT id_b FROM losers)
      |ORDER BY doc_id""") { (s, dir) =>
    Pipeline.fromJson(
      """{ "source": "documents",
        |  "steps": [
        |    {"op": "dedupNear", "textCol": "text", "idCol": "doc_id", "k": 3, "tau": 0.3},
        |    {"op": "withColumn", "name": "tagged",
        |     "expr": "concat('contact u', doc_id, '@x.io ip 10.1.', doc_id % 256, '.9 ', text)"},
        |    {"op": "piiScrub", "col": "tagged", "out": "clean"},
        |    {"op": "selectExpr", "exprs": ["doc_id", "lang", "length(clean) AS n_clean"]},
        |    {"op": "sort", "keys": ["doc_id"]}
        |  ] }""".stripMargin).run(s, dir)
  }

  // the R5 builder-parity steps (urlDedup, chunkDedup) composed from JSON
  // config: synthesize a messy URL per doc, keep the lowest-id doc per
  // canonical URL, then chunk-dedup the survivors' text. The oracle
  // replays the same canon → keeper → chunk-window chain; the chunk
  // window runs over the URL-SURVIVING subset only (step order matters
  // and the oracle must match it).
  q("pipeline_config_curate",
    """WITH u AS (
      |  SELECT doc_id,
      |    'HTTPS://WWW.' || source || '.Example.COM:443/d/'
      |      || CAST(doc_id % 7 AS VARCHAR) || '?utm_campaign=c'
      |      || CAST(doc_id % 3 AS VARCHAR) || '&id='
      |      || CAST(doc_id % 50 AS VARCHAR) || '&ref=feed#top' AS url
      |  FROM documents
      |), c AS (
      |  SELECT doc_id,
      |    replace(replace(lower(split_part(split_part(url, '#', 1), '?', 1)),
      |      ':443/', '/'), '://www.', '://') AS base,
      |    array_to_string(list_sort(list_filter(
      |      string_split(split_part(split_part(url, '#', 1), '?', 2), '&'),
      |      p -> NOT (p LIKE 'utm!_%' ESCAPE '!' OR p LIKE 'ref=%'))), '&') AS cq
      |  FROM u
      |), keepers AS (
      |  SELECT min(doc_id) AS doc_id
      |  FROM c
      |  GROUP BY base || CASE WHEN cq = '' THEN '' ELSE '?' || cq END
      |), t AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |  WHERE doc_id IN (SELECT doc_id FROM keepers)
      |), ch AS (
      |  SELECT doc_id,
      |    unnest(range(0, CAST(ceil(len(tk) / 16.0) AS INT))) AS chunk_idx, tk
      |  FROM t
      |), c2 AS (
      |  SELECT doc_id, chunk_idx,
      |    array_to_string(tk[chunk_idx*16+1 : chunk_idx*16+16], ' ') AS chunk
      |  FROM ch
      |), k AS (
      |  SELECT doc_id, chunk_idx, chunk,
      |    row_number() OVER (PARTITION BY chunk ORDER BY doc_id, chunk_idx) AS rn
      |  FROM c2
      |), tot AS (SELECT doc_id, COUNT(*) AS n_chunks FROM c2 GROUP BY 1)
      |SELECT doc_id,
      |  array_to_string(list(chunk ORDER BY chunk_idx), ' ') AS text_dedup,
      |  CAST(COUNT(*) AS INT) AS n_kept,
      |  CAST(any_value(n_chunks) AS INT) AS n_chunks
      |FROM k JOIN tot USING (doc_id)
      |WHERE rn = 1
      |GROUP BY doc_id
      |ORDER BY doc_id""") { (s, dir) =>
    Pipeline.fromJson(
      """{ "source": "documents",
        |  "steps": [
        |    {"op": "withColumn", "name": "url",
        |     "expr": "concat('HTTPS://WWW.', source, '.Example.COM:443/d/', CAST(doc_id % 7 AS STRING), '?utm_campaign=c', CAST(doc_id % 3 AS STRING), '&id=', CAST(doc_id % 50 AS STRING), '&ref=feed#top')"},
        |    {"op": "urlDedup", "urlCol": "url", "idCol": "doc_id"},
        |    {"op": "chunkDedup", "textCol": "text", "idCol": "doc_id", "width": 16},
        |    {"op": "sort", "keys": ["doc_id"]}
        |  ] }""".stripMargin).run(s, dir)
  }

  // the pipeline-builder surface end-to-end: config-style steps → Catalyst plan
  q("pipeline_e2e",
    s"""SELECT c_mktsegment, COUNT(*) AS n_orders,
      |  ${oMoney("o_totalprice")} AS total
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |WHERE o_orderstatus = 'F'
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""") { (s, dir) =>
    Pipeline.source("orders")
      .filter("o_orderstatus = 'F'")
      .join(Pipeline.source("customer"), "o_custkey = c_custkey")
      .agg(Seq("c_mktsegment"),
        "COUNT(*) AS n_orders",
        s"CAST(SUM(${oCents("o_totalprice")}) AS DOUBLE) / 100 AS total")
      .sort("c_mktsegment")
      .run(s, dir)
  }

  // Spark 4.1 DECLARATIVE PIPELINES (r15, closing the r14 verdict's
  // probe ask #3): the engine in spark-pipelines_2.13-4.1.2.jar runs
  // WITHOUT a Connect server (plans/Declarative.scala documents the
  // probe). This key grades a two-dataset pipeline end-to-end through
  // the REAL SDP runtime — `CREATE MATERIALIZED VIEW` SQL registration
  // → DataflowGraph dependency resolution (the second MV reads the
  // first BY NAME, so topological ordering is exercised, not just two
  // independent CTAS) → triggered execution materializing both into
  // the session catalog — then reads the terminal MV back from the
  // catalog as the graded frame. Staging is keyed by dataset dir and
  // dropped up front so every run is a clean full refresh. Scale: each
  // refresh is an ordinary Catalyst batch write (one filter scan, one
  // broadcast-able join + agg); the graph layer adds only driver-side
  // ordering, O(|datasets|).
  q("pipeline_declarative_sdp",
    s"""SELECT c_mktsegment AS seg, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  CAST(SUM(${oCents("o_totalprice")}) AS BIGINT) AS cents
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |WHERE o_orderstatus = 'F'
      |GROUP BY c_mktsegment
      |ORDER BY seg""") { (s, dir) =>
    val tag = math.abs(dir.hashCode).toString
    val db = s"graft_sdp_$tag"
    graft.plans.Declarative.resetDatabase(s, db)
    import scala.reflect.io.Directory
    new Directory(new java.io.File(s"/tmp/graft_io/sdp_$tag")).deleteRecursively()
    // materializations are catalog-sized writes (two MVs over ≤150 k
    // rows) — 32-partition shuffles/files are pure overhead here; the
    // conf window governs the whole synchronous runPipeline. The
    // pipelines executor POLLS flow state at a 1 s default interval
    // (spark.sql.pipelines.execution.streamstate.pollingInterval), so
    // a chained 2-MV pipeline eats ~2 s of pure waiting; 0 = notice
    // completions immediately (measured: tiny-MV pipeline 2.19→1.53 s,
    // this key 3.68→~2.4 s bench)
    graft.engine.Confs.withConfs(s)(
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.pipelines.execution.streamstate.pollingInterval" -> "0") {
    graft.plans.Declarative.runSqlPipeline(s, db,
      s"file:///tmp/graft_io/sdp_$tag",
      s"""CREATE MATERIALIZED VIEW sdp_orders_f AS
         |SELECT o_orderkey, o_custkey,
         |  ${oCents("o_totalprice")} AS cents
         |FROM parquet.`$dir/orders.parquet`
         |WHERE o_orderstatus = 'F';
         |
         |CREATE MATERIALIZED VIEW sdp_mkt_rev AS
         |SELECT c.c_mktsegment AS seg,
         |  CAST(COUNT(*) AS BIGINT) AS n_orders,
         |  CAST(SUM(f.cents) AS BIGINT) AS cents
         |FROM sdp_orders_f f
         |JOIN parquet.`$dir/customer.parquet` c
         |  ON f.o_custkey = c.c_custkey
         |GROUP BY c.c_mktsegment;
         |""".stripMargin)
    }
    s.table(s"$db.sdp_mkt_rev").orderBy("seg")
  }
}
