package graft

import graft.builder.Pipeline
import graft.engine.Tables
import graft.engine.Tables.fan
import graft.ops.{Dedup, PlanMemo, Sim}
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The builder's curation path reads each document once: `chunkDedup` is
  * one pass, the near-dedup step runs from one persisted input, and every
  * frame pinned on the way belongs to a memo entry that releases it. */
class CurationSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** `chunkDedup` as it was: a second count-per-doc branch over the chunk
    * rows, joined back. */
  private def chunkDedupTwoBranch(docs: DataFrame, width: Int): DataFrame = {
    val t = fan(docs.select(col("doc_id"), split(col("text"), " ").as("tk")))
    val nChunks = ceil(size(col("tk")).cast("double") / width).cast("int")
    val chunks = t
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), nChunks - 1),
          i => array_join(slice(col("tk"), i * width + 1, lit(width)), " "))))
      .withColumnRenamed("pos", "chunk_idx")
      .withColumnRenamed("col", "chunk")
    val w = Window.partitionBy(col("chunk")).orderBy(col("doc_id"), col("chunk_idx"))
    val kept = chunks.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
    val tot = chunks.groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
    kept.groupBy("doc_id")
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("chunk_idx"), col("chunk")))),
          s => s.getField("chunk")), " ").as("text_dedup"),
        count(lit(1)).cast("int").as("n_kept"))
      .join(tot, "doc_id")
      .select(col("doc_id"), col("text_dedup"), col("n_kept"),
        col("n_chunks").cast("int").as("n_chunks"))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("chunkDedup equals the two-branch form on the fixtures and edge " +
    "documents") {
    import spark.implicits._
    val fixture = Tables(spark, sf, "documents")
    for (w <- Seq(1, 3, 16)) {
      val got = rows(Dedup.chunkDedup(fixture, "text", "doc_id", w))
      assert(got.nonEmpty)
      assert(got == rows(chunkDedupTwoBranch(fixture, w)), s"width $w")
    }
    val edge = Seq[(Long, String)]((1L, null), (2L, "a b c d"),
      (3L, "a b c d e f g h"), (4L, "a b c d"), (5L, ""), (6L, "x  y"),
      (7L, "e f g h a b c d"), (8L, "i j k"))
      .toDF("doc_id", "text")
    for (w <- Seq(1, 4, 16)) {
      val got = Dedup.chunkDedup(edge, "text", "doc_id", w)
      assert(rows(got) == rows(chunkDedupTwoBranch(edge, w)), s"width $w")
      val ids = got.select("doc_id").as[Long].collect().toSet
      assert(!ids.contains(1L), "a null document has no chunks")
      if (w == 4) {
        // exactly `width` tokens is one chunk; doc 4 repeats doc 2 and doc
        // 7 repeats both chunks of doc 3, so both disappear
        assert(ids == Set(2L, 3L, 5L, 6L, 8L))
        assert(got.filter($"doc_id" === 2).select("n_kept", "n_chunks")
          .as[(Int, Int)].collect().toSeq == Seq((1, 1)))
      }
    }
  }

  test("chunkDedup's executed plan has one Window and no Join") {
    val plan = Dedup.chunkDedup(Tables(spark, sf, "documents"), "text",
      "doc_id", 16).queryExecution.executedPlan
    assert(collect(plan) { case w: WindowExec => w }.size == 1, plan)
    assert(collect(plan) { case j: BaseJoinExec => j }.isEmpty, plan)
  }

  /** File scans of `table` in `plan`, counting the plan of each cached
    * relation it reads once (a cached frame is computed once). */
  private def scans(plan: SparkPlan, table: String): Int = {
    val seen = scala.collection.mutable.Set.empty[AnyRef]
    def walk(p: SparkPlan): Int = stripAQEPlan(p) match {
      case q: QueryStageExec => walk(q.plan)
      case _: ReusedExchangeExec => 0
      case m: InMemoryTableScanExec =>
        if (seen.add(m.relation.cacheBuilder)) walk(m.relation.cachedPlan) else 0
      case f: FileSourceScanExec =>
        if (f.relation.location.rootPaths.exists(_.getName == s"$table.parquet")) 1 else 0
      case other => other.children.map(walk).sum
    }
    walk(plan)
  }

  test("a bench-shaped curate pipeline scans documents exactly once") {
    val curate = Pipeline.source("documents")
      .langFilter("text", "en")
      .qualityGate("text", 0.5)
      .piiScrub("text", "text")
      .chunkDedup("text", "doc_id", 16)
      .dedupNear("text_dedup", "doc_id", k = 3, tau = 0.5)
      .run(spark, sf)
    assert(scans(curate.queryExecution.executedPlan, "documents") == 1)
    assert(curate.count() > 0)
  }

  private def cached(f: Dataset[_]): Boolean =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager
      .lookupCachedData(f.asInstanceOf[classic.Dataset[_]]).nonEmpty

  /** Run `op` under memo `m`, check the frames its entries pinned per
    * site, then evict every entry and check that none of them is cached. */
  private def ownsAndReleases(m: PlanMemo, cap: Int, pins: Map[String, Int])(
      op: => Unit): Unit = {
    PlanMemo.using(m)(op)
    val pinned = m.pins.filter { case (k, _) => pins.contains(k.site) }
    assert(pinned.map { case (k, v) => k.site -> v.size } == pins)
    val frames = pinned.values.flatten.toSeq
    frames.foreach(f => assert(cached(f), f))
    for (i <- 1 to cap) m.byDir(spark, s"evict-$i", "test")(())
    frames.foreach(f => assert(!cached(f), s"still cached after eviction: $f"))
  }

  test("each pin on the dedup path belongs to a memo entry and leaves the " +
    "cache with it (cap-1 memo)") {
    import spark.implicits._
    val docs = Seq((1L, "pin owner probe a b c d e"), (2L, "pin owner probe a b c d f"),
      (3L, "q r s t u v")).toDF("doc_id", "text")
    val vecs = Seq((1L, Seq(1.0f, 0.0f, 0.5f)), (2L, Seq(1.0f, 0.01f, 0.5f)),
      (3L, Seq(0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val m = new PlanMemo(1, _.sparkContext.isStopped)
    // jaccardPairs: the shingle sets, the df-tagged shingle rows, the pairs
    ownsAndReleases(m, 1, Map("Dedup.jaccardPairs" -> 3)) {
      Dedup.jaccardPairs(docs, "text", "doc_id", k = 3, tau = 0.1).count()
    }
    ownsAndReleases(m, 1, Map("Dedup.containmentPairs" -> 2)) {
      Dedup.containmentPairs(docs, "text", "doc_id", k = 3, tau = 0.5).count()
    }
    ownsAndReleases(m, 1, Map("Dedup.minhashBands" -> 1)) {
      Dedup.minhashBands(docs, "text", "doc_id", k = 3, numHashes = 8, bands = 4).count()
    }
    // minhashPairs builds minhashBands inside its own build: two entries,
    // and the shingle sets both pin stay with minhashPairs, which pinned
    // them first
    ownsAndReleases(m, 1, Map("Dedup.minhashPairs" -> 2, "Dedup.minhashBands" -> 0)) {
      Dedup.minhashPairs(docs, "text", "doc_id", k = 3, numHashes = 8, bands = 4,
        tau = 0.1).count()
    }
    ownsAndReleases(m, 1, Map("Sim.nearDupPairsBlocked" -> 1)) {
      Sim.nearDupPairsBlocked(vecs, 0.9, bands = 4, rowsPerBand = 2, dim = 3).count()
    }
  }

  test("minhashPairs' shingle sets have one owner: evicting the nested " +
    "minhashBands entry leaves them cached, and nothing re-caches them") {
    import spark.implicits._
    val docs = Seq((1L, "one owner probe a b c d e"), (2L, "one owner probe a b c d f"),
      (3L, "q r s t u v")).toDF("doc_id", "text")
    val m = new PlanMemo(2, _.sparkContext.isStopped)
    val logged = warnings {
      PlanMemo.using(m)(Dedup.minhashPairs(docs, "text", "doc_id", k = 3,
        numHashes = 8, bands = 4, tau = 0.1).count())
    }
    assert(!logged.exists(_.contains("Asked to cache already cached data")), logged)
    val Seq(sh, _) = m.pins.collectFirst { case (k, v) if k.site == "Dedup.minhashPairs" => v }.get
    // the inner build finished first, so its entry is the oldest
    m.byDir(spark, "evict-1", "test")(())
    assert(m.entries.keys.map(_.site) == Set("Dedup.minhashPairs", "test"))
    assert(cached(sh), "the nested entry's eviction released minhashPairs' shingle sets")
    m.byDir(spark, "evict-2", "test")(())
    assert(!cached(sh))
  }

  test("the near-dedup step's persisted input belongs to its memo entry") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-curation").toString
    Seq((1L, "near dup input a b c d e"), (2L, "near dup input a b c d f"),
      (3L, "q r s t u v")).toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    // Tables, the step input and jaccardPairs: three entries
    val m = new PlanMemo(3, _.sparkContext.isStopped)
    ownsAndReleases(m, 3,
        Map("Pipeline.dedupNear" -> 1, "Dedup.jaccardPairs" -> 3)) {
      val out = Pipeline.source("documents").dedupNear("text", "doc_id", k = 3, tau = 0.5)
        .run(spark, dir)
      assert(out.select("doc_id").as[Long].collect().toSet == Set(1L, 3L))
    }
  }
}
