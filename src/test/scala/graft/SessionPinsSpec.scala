package graft

import graft.ops.PlanMemo
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{CacheManager, CachedData}

/** A long session keeps bounded cached state: every frame a query caches
  * has an owner that releases it, a memo entry or the query itself, whose
  * pins leave when the session builds its next query. */
class SessionPinsSpec extends SparkSpec {

  /** Keys whose builds cache frames outside any memo entry. */
  private val keys = Seq("agg_market_basket", "emb_isotropy", "emb_pq_distortion",
    "events_retention_decay_fit", "graph_bfs_dist", "graph_cc", "graph_katz",
    "graph_pagerank", "graph_ppr", "graph_scc", "graph_triangle_count",
    "graph_triangle_oriented", "llm_corpus_pipeline", "llm_decontaminate",
    "llm_dedup_span_profile", "multimodal_phash", "scan_variant_shredded",
    "sim_ann_lsh", "stats_runs_test", "stream_state_rescale", "text_boilerplate",
    "text_lm_bigram", "text_lm_crossent_loso", "text_lm_kneser_ney",
    "ts_granger_lite", "ts_variance_ratio")

  private def cacheManager: CacheManager =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager

  /** The CacheManager's entries. Its list is private; `getPersistentRDDs`
    * is weak-valued, so its size moves with GC. */
  private def entries: Seq[CachedData] = {
    val f = classOf[CacheManager].getDeclaredField("cachedData")
    f.setAccessible(true)
    f.get(cacheManager).asInstanceOf[IndexedSeq[CachedData]]
  }

  /** The frames a memo value holds: a frame, or a tuple of them. */
  private def frames(v: Any): Seq[Dataset[_]] = v match {
    case d: Dataset[_] => Seq(d)
    case p: Product => p.productIterator.flatMap(frames).toSeq
    case _ => Nil
  }

  test("one session: after each query every cache entry is a memo value, a " +
    "memo pin or a pin of that query, and a second pass adds no entry") {
    val m = new PlanMemo(128, _.sparkContext.isStopped)
    // entries other suites in this JVM left behind
    val before = entries
    def unowned(): Seq[CachedData] = {
      val owned = (m.entries.values.flatMap(frames) ++ m.pins.values.flatten ++
          m.queryPins(spark))
        .flatMap(f => cacheManager.lookupCachedData(f.asInstanceOf[classic.Dataset[_]]))
      entries.filterNot(e => before.exists(_ eq e) || owned.exists(_ eq e))
    }
    def pass(): Int = {
      for (key <- keys) {
        SparkEntry.queries(key)(spark, sf).write.format("noop").mode("overwrite").save()
        val left = unowned()
        assert(left.isEmpty, s"$key left ${left.size} unowned entries: " +
          left.map(_.plan.treeString.take(300)).mkString("\n"))
      }
      entries.size
    }
    try PlanMemo.using(m) {
      val first = pass()
      assert(first > before.size, "the keys cached nothing")
      assert(pass() <= first)
    } finally PlanMemo.using(m) {
      // release the last query's pins and every entry's
      PlanMemo.query(spark)(())
      for (i <- 1 to 128) m.byDir(spark, s"evict-$i", "test")(())
    }
  }
}
