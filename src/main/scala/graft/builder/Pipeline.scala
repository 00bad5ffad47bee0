package graft.builder

import graft.engine.Tables
import graft.ops.PlanMemo
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser

/** The pipeline-builder surface: a declarative Source → Transform* → Sink step
  * list, interpretable from config (steps are plain data with SQL-expression
  * strings). Running a pipeline just folds the steps into one DataFrame
  * lineage — the DAG *is* the Catalyst logical plan, so every builder
  * pipeline gets predicate pushdown, column pruning, join selection and AQE
  * for free, and scales exactly like hand-written DataFrame code.
  */
object Pipeline {

  sealed trait Step
  final case class Filter(condition: String) extends Step
  final case class SelectExpr(exprs: Seq[String]) extends Step
  final case class WithColumn(name: String, expr: String) extends Step
  final case class Drop(cols: Seq[String]) extends Step
  final case class Join(other: Pipeline, condition: String, how: String) extends Step
  final case class Agg(groupBy: Seq[String], aggs: Seq[String]) extends Step
  final case class Sort(keys: Seq[String]) extends Step
  final case class Limit(n: Int) extends Step
  final case class Distinct() extends Step
  final case class UnionAll(other: Pipeline) extends Step
  /** Deterministic keep-first dedup: first row per key under an explicit
    * total order (never dropDuplicates' arbitrary-survivor semantics). */
  final case class DedupKeepFirst(keys: Seq[String], orderBy: Seq[String]) extends Step
  /** Pivot with an EXPLICIT value list — implicit value discovery would
    * make the output schema data-dependent (and column order unstable). */
  final case class Pivot(groupBy: Seq[String], pivotCol: String,
                         values: Seq[String], agg: String) extends Step
  final case class Unpivot(ids: Seq[String], values: Seq[String],
                           varName: String, valName: String) extends Step
  /** Near-dup removal: drop any row whose `textCol` is shingle-Jaccard
    * ≥ tau similar to a LOWER-id row (keep-lowest-id survivor policy).
    * Candidates come from the shingle-blocked Dedup.jaccardPairs — never
    * an all-pairs join. */
  final case class DedupNear(textCol: String, idCol: String, k: Int,
                             tau: Double) extends Step
  /** PII scrub (emails / phone numbers / IPv4 → typed placeholders) of
    * `col` into `out` (in-place when out == col). */
  final case class PiiScrub(col: String, out: String) extends Step
  /** As-of join against another pipeline: attach the latest right row with
    * rightTs <= leftTs per key (backward; forward = next-upcoming). */
  final case class Asof(other: Pipeline, leftKey: String, rightKey: String,
                        leftTs: String, rightTs: String, payload: Seq[String],
                        tiebreak: String, direction: String) extends Step
  /** Keep rows whose predicted language equals `lang` (stopword-vote
    * language ID over `textCol`). */
  final case class LangFilter(textCol: String, lang: String) extends Step
  /** Keep rows whose heuristic quality score over `textCol` ≥ minScore. */
  final case class QualityGate(textCol: String, minScore: Double) extends Step
  /** Quality-proportional thinning: within each 0.1-wide quality stratum
    * keep the top stratum_rate·n rows by md5(id) rank — the soft gate of
    * llm_importance_sample as a reusable builder step. */
  final case class ImportanceSample(textCol: String, idCol: String) extends Step
  /** Chunk-level exact dedup (Dedup.chunkDedup): a `width`-token chunk seen
    * anywhere earlier in the corpus is dropped and docs are reassembled
    * from surviving chunks. REPLACES the frame with
    * (doc_id, text_dedup, n_kept, n_chunks) — like Agg, a schema-changing
    * step; docs with no surviving chunk disappear. */
  final case class ChunkDedup(textCol: String, idCol: String, width: Int) extends Step
  /** URL dedup: keep the lowest-`idCol` row per canonical URL
    * (TextOps.urlCanon — fragment/tracking-param stripped, params sorted).
    * One window over the canon key — the exact-dedup shuffle shape. */
  final case class UrlDedup(urlCol: String, idCol: String) extends Step

  final case class Sink(path: String, format: String = "parquet",
                        partitionBy: Seq[String] = Nil)

  final case class Pipeline(table: String, steps: Vector[Step] = Vector.empty) {
    def filter(cond: String): Pipeline = add(Filter(cond))
    def selectExpr(exprs: String*): Pipeline = add(SelectExpr(exprs))
    def withColumn(name: String, expr: String): Pipeline = add(WithColumn(name, expr))
    def drop(cols: String*): Pipeline = add(Drop(cols))
    def join(other: Pipeline, condition: String, how: String = "inner"): Pipeline =
      add(Join(other, condition, how))
    def agg(groupBy: Seq[String], aggs: String*): Pipeline = add(Agg(groupBy, aggs))
    def sort(keys: String*): Pipeline = add(Sort(keys))
    def limit(n: Int): Pipeline = add(Limit(n))
    def distinct: Pipeline = add(Distinct())
    def unionAll(other: Pipeline): Pipeline = add(UnionAll(other))
    def dedupKeepFirst(keys: Seq[String], orderBy: Seq[String]): Pipeline =
      add(DedupKeepFirst(keys, orderBy))
    def pivot(groupBy: Seq[String], pivotCol: String, values: Seq[String],
              agg: String): Pipeline = add(Pivot(groupBy, pivotCol, values, agg))
    def unpivot(ids: Seq[String], values: Seq[String], varName: String,
                valName: String): Pipeline = add(Unpivot(ids, values, varName, valName))
    def dedupNear(textCol: String, idCol: String, k: Int = 3,
                  tau: Double = 0.3): Pipeline = add(DedupNear(textCol, idCol, k, tau))
    def piiScrub(col: String, out: String): Pipeline = add(PiiScrub(col, out))
    def asofJoin(other: Pipeline, leftKey: String, rightKey: String,
                 leftTs: String, rightTs: String, payload: Seq[String],
                 tiebreak: String, direction: String = "backward"): Pipeline =
      add(Asof(other, leftKey, rightKey, leftTs, rightTs, payload, tiebreak, direction))
    def langFilter(textCol: String, lang: String): Pipeline =
      add(LangFilter(textCol, lang))
    def qualityGate(textCol: String, minScore: Double): Pipeline =
      add(QualityGate(textCol, minScore))
    def importanceSample(textCol: String, idCol: String): Pipeline =
      add(ImportanceSample(textCol, idCol))
    def chunkDedup(textCol: String, idCol: String, width: Int = 16): Pipeline =
      add(ChunkDedup(textCol, idCol, width))
    def urlDedup(urlCol: String, idCol: String): Pipeline =
      add(UrlDedup(urlCol, idCol))
    private def add(s: Step): Pipeline = copy(steps = steps :+ s)

    /** Interpret the step list into a DataFrame lineage. */
    def run(spark: SparkSession, dir: String): DataFrame = {
      graft.GraftSession.install(spark)
      steps.foldLeft(Tables(spark, dir, table).as(table)) {
        case (df, Filter(c))        => df.filter(c)
        case (df, SelectExpr(es))   => df.selectExpr(es: _*)
        case (df, WithColumn(n, e)) => df.withColumn(n, org.apache.spark.sql.functions.expr(e))
        case (df, Drop(cs))         => df.drop(cs: _*)
        case (df, Join(o, c, h))    =>
          df.join(o.run(spark, dir), org.apache.spark.sql.functions.expr(c), h)
        case (df, Agg(g, as)) =>
          val aggCols = as.map(org.apache.spark.sql.functions.expr)
          if (g.isEmpty) df.agg(aggCols.head, aggCols.tail: _*)
          else df.groupBy(g.map(org.apache.spark.sql.functions.col): _*)
            .agg(aggCols.head, aggCols.tail: _*)
        case (df, Sort(ks))         => df.orderBy(ks.map(sortKey): _*)
        case (df, Limit(n))         => df.limit(n)
        case (df, Distinct())       => df.distinct()
        case (df, UnionAll(o))      => df.unionByName(o.run(spark, dir))
        case (df, DedupKeepFirst(ks, ob)) =>
          import org.apache.spark.sql.functions.{col, row_number}
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(ks.map(col): _*).orderBy(ob.map(sortKey): _*)
          df.withColumn("__rn", row_number().over(w))
            .filter(col("__rn") === 1).drop("__rn")
        case (df, Pivot(g, pc, vs, a)) =>
          import org.apache.spark.sql.functions.{col, expr}
          df.groupBy(g.map(col): _*).pivot(pc, vs).agg(expr(a))
        case (df, Unpivot(ids, vals, vn, valn)) =>
          import org.apache.spark.sql.functions.col
          df.unpivot(ids.map(col).toArray, vals.map(col).toArray, vn, valn)
        case (df, DedupNear(tc, ic, k, tau)) =>
          import org.apache.spark.sql.functions.{col, expr}
          // the pair search and the anti-join both read the step input:
          // persisted once (owned by the memo), its upstream runs once
          val in = PlanMemo.byPlan(df, "Pipeline.dedupNear", ())(PlanMemo.pin(df))
          val losers = graft.ops.Dedup.jaccardPairs(in, tc, ic, k, tau)
            .select(col("id_b").as("__loser")).distinct()
          in.join(losers, expr(s"$ic = __loser"), "left_anti")
        case (df, PiiScrub(c, out)) =>
          df.withColumn(out, graft.ops.TextOps.piiScrub(
            org.apache.spark.sql.functions.col(c)))
        case (df, Asof(o, lk, rk, lts, rts, pay, tb, direction)) =>
          graft.ops.AsofJoin(df, o.run(spark, dir), lk, rk, lts, rts,
            pay, tb, direction)
        case (df, LangFilter(tc, lang)) =>
          import org.apache.spark.sql.functions.col
          df.filter(graft.ops.TextOps.langId(col(tc)) === lang)
        case (df, QualityGate(tc, min)) =>
          df.filter(graft.ops.TextOps.qualityScore(
            org.apache.spark.sql.functions.col(tc)) >= min)
        case (df, ImportanceSample(tc, ic)) =>
          graft.ops.Sampling.importanceSample(df, tc, ic).drop("__quality")
        case (df, ChunkDedup(tc, ic, w)) =>
          graft.ops.Dedup.chunkDedup(df, tc, ic, w)
        case (df, UrlDedup(uc, ic)) =>
          import org.apache.spark.sql.functions.{col, row_number}
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(graft.ops.TextOps.urlCanon(col(uc))).orderBy(col(ic))
          df.withColumn("__rn", row_number().over(w))
            .filter(col("__rn") === 1).drop("__rn")
      }
    }

    /** Terminal write. */
    def sinkTo(spark: SparkSession, dir: String, sink: Sink): Unit = {
      val w = run(spark, dir).write.mode("overwrite")
      val p = if (sink.partitionBy.nonEmpty) w.partitionBy(sink.partitionBy: _*) else w
      p.format(sink.format).save(sink.path)
    }
  }

  def source(table: String): Pipeline = Pipeline(table)

  private val SortKey = "(?is)(.*?)(?:\\s+(ASC|DESC))?(?:\\s+NULLS\\s+(FIRST|LAST))?\\s*".r

  /** A `sort` / `dedup` order key: an expression with an optional trailing
    * `ASC|DESC [NULLS FIRST|LAST]`. `functions.expr` alone parses
    * "v DESC" as `v AS DESC` and sorts ascending, so any key that still
    * parses to an alias is rejected. */
  private def sortKey(key: String): Column = {
    val SortKey(e, dir, nulls) = key
    require(!CatalystSqlParser.parseExpression(e).isInstanceOf[Alias],
      s"sort key must be an expression with an optional " +
        s"ASC|DESC [NULLS FIRST|LAST], got: $key")
    val c = org.apache.spark.sql.functions.expr(e)
    val desc = "DESC".equalsIgnoreCase(dir)
    Option(nulls).map(_.toUpperCase) match {
      case Some("FIRST") => if (desc) c.desc_nulls_first else c.asc_nulls_first
      case Some("LAST") => if (desc) c.desc_nulls_last else c.asc_nulls_last
      case _ => if (desc) c.desc else c
    }
  }

  /** Parse a pipeline from a JSON config document — the pipeline-builder entry
    * point: pipelines are data, authored/stored/diffed as config and only
    * interpreted into a Catalyst plan at run time. Shape:
    *
    * {{{
    * { "source": "orders",
    *   "steps": [
    *     {"op": "filter", "condition": "o_orderstatus = 'F'"},
    *     {"op": "join", "pipeline": {"source": "customer"},
    *      "condition": "o_custkey = c_custkey", "how": "inner"},
    *     {"op": "agg", "groupBy": ["c_mktsegment"], "aggs": ["count(*) AS n"]},
    *     {"op": "sort", "keys": ["c_mktsegment"]} ] }
    * }}}
    */
  def fromJson(json: String): Pipeline = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    build(mapper.readTree(json))
  }

  /** Same config schema as [[fromJson]], YAML syntax (the usual ETL-config
    * dialect). Jackson's YAML reader yields the identical tree, so the two
    * entry points can never drift. */
  def fromYaml(yaml: String): Pipeline = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper(
      new com.fasterxml.jackson.dataformat.yaml.YAMLFactory())
    build(mapper.readTree(yaml))
  }

  private def build(n: com.fasterxml.jackson.databind.JsonNode): Pipeline = {
    import scala.jdk.CollectionConverters._
    require(n != null && n.hasNonNull("source"), "pipeline config needs a \"source\"")
    val steps = Option(n.get("steps")).map(_.elements().asScala.toSeq).getOrElse(Nil)
    steps.foldLeft(source(n.get("source").asText())) { (p, s) =>
      val op = { require(s.hasNonNull("op"), s"step missing \"op\": $s"); s.get("op").asText() }
      def str(f: String): String = {
        require(s.hasNonNull(f), s"step \"$op\" missing \"$f\""); s.get(f).asText()
      }
      def strs(f: String): Seq[String] = {
        require(s.hasNonNull(f), s"step \"$op\" missing \"$f\"")
        s.get(f).elements().asScala.map(_.asText()).toSeq
      }
      op match {
        case "filter"     => p.filter(str("condition"))
        case "selectExpr" => p.selectExpr(strs("exprs"): _*)
        case "withColumn" => p.withColumn(str("name"), str("expr"))
        case "drop"       => p.drop(strs("cols"): _*)
        case "join"       => p.join(build(s.get("pipeline")), str("condition"),
          if (s.hasNonNull("how")) str("how") else "inner")
        case "agg"        => p.agg(if (s.hasNonNull("groupBy")) strs("groupBy") else Nil,
          strs("aggs"): _*)
        case "sort"       => p.sort(strs("keys"): _*)
        case "limit"      => p.limit(s.get("n").asInt())
        case "distinct"   => p.distinct
        case "unionAll"   => p.unionAll(build(s.get("pipeline")))
        case "dedup"      => p.dedupKeepFirst(strs("keys"), strs("orderBy"))
        case "pivot"      => p.pivot(
          if (s.hasNonNull("groupBy")) strs("groupBy") else Nil,
          str("pivotCol"), strs("values"), str("agg"))
        case "unpivot"    => p.unpivot(strs("ids"), strs("values"),
          str("varName"), str("valName"))
        case "dedupNear"  => p.dedupNear(str("textCol"), str("idCol"),
          if (s.hasNonNull("k")) s.get("k").asInt() else 3,
          if (s.hasNonNull("tau")) s.get("tau").asDouble() else 0.3)
        case "piiScrub"   => p.piiScrub(str("col"),
          if (s.hasNonNull("out")) str("out") else str("col"))
        case "asofJoin"   => p.asofJoin(build(s.get("pipeline")),
          str("leftKey"), str("rightKey"), str("leftTs"), str("rightTs"),
          strs("payload"), str("tiebreak"),
          if (s.hasNonNull("direction")) str("direction") else "backward")
        case "langFilter" => p.langFilter(str("textCol"), str("lang"))
        case "qualityGate" => p.qualityGate(str("textCol"),
          if (s.hasNonNull("minScore")) s.get("minScore").asDouble() else 0.5)
        case "importanceSample" =>
          p.importanceSample(str("textCol"), str("idCol"))
        case "chunkDedup" => p.chunkDedup(str("textCol"), str("idCol"),
          if (s.hasNonNull("width")) s.get("width").asInt() else 16)
        case "urlDedup"   => p.urlDedup(str("urlCol"), str("idCol"))
        case other => throw new IllegalArgumentException(s"unknown pipeline op: $other")
      }
    }
  }
}
