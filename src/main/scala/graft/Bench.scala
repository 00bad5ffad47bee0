package graft

import scala.util.control.NonFatal

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    warmUp(spark, sfDir)
    // dev-only subset filter: SPARK_GRAFT_ONLY=q1,q2 (unset = full protocol)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    val reasons = scala.collection.mutable.Map.empty[String, String]
    def runPass(subset: Option[Set[String]] = None): Map[String, Double] =
      SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) =>
        only.forall(_.contains(name)) && subset.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
        val t0 = System.nanoTime()
        // a failed query must not masquerade as a fast one: it goes to the
        // "failed" list and contributes nothing to the timings or the total
        try {
          fn(spark, sfDir).count()
          Some(name -> (System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          failed += name
          reasons(name) = Verify.reason(e)
          None
        }
      }.toMap
    // Two full passes, per-query MIN: this box's co-tenant load inflates a
    // single cold pass up to 100×+ on sub-second queries (BENCH_r04), and
    // the odds of the SAME query being hit in both passes are low — min is
    // the noise-robust estimator for "what the code costs". run1 is kept
    // alongside so cold-vs-warm (memoized frames, OS page cache) stays
    // visible instead of silently folded into the min.
    val run1 = runPass()
    val run2 = runPass()
    val min2 = run1.map { case (k, v) => k -> math.min(v, run2.getOrElse(k, v)) }
    // The slowest 15 get a THIRD pass (r9 ask #7): min-of-2 left a 2.6×
    // co-tenant artifact on multimodal_phash ambiguous against a real
    // regression for a whole round — the slow tail is exactly where one
    // noisy sample distorts the headline max/p90, and 15 extra runs cost
    // seconds, not minutes.
    val slow15 = min2.toSeq.sortBy { case (k, v) => (-v, k) }.take(15)
      .map(_._1).toSet
    val run3 = runPass(Some(slow15))
    val results = min2.map { case (k, v) => k -> math.min(v, run3.getOrElse(k, v)) }
    def js(m: Map[String, Double]) = m.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val fs = failed.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val why = reasons.toSeq.sorted
      .map { case (k, v) => s"${Verify.q(k)}:${Verify.q(v)}" }.mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // The harness archives only the last ~2000 chars of stdout; a full
    // per-query map over 440+ queries is ~15 KB and gets truncated into an
    // unparseable fragment (every BENCH_r*.json so far: parsed=null). So:
    // full detail goes to BENCH_FULL.json on disk, and the ONE stdout JSON
    // line stays compact — summary stats + the slowest queries — so it fits
    // whole inside the archived tail and parses.
    val full = s"""{"metric":"total","value":$total,"unit":"sec","queries":${js(results)},"queries_run1":${js(run1)},"passes":2,"passes_slowest15":3,"failed":$fs,"failed_reasons":$why,"sf":"$sfDir"}"""
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_FULL.json"),
        full.getBytes("UTF-8"))
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] BENCH_FULL.json not written: ${Verify.reason(e)}")
    }
    val sorted = results.values.toSeq.sorted
    def pct(p: Double): Double =
      if (sorted.isEmpty) 0.0
      else sorted(math.min(sorted.size - 1, (p * sorted.size).toInt))
    def r3(x: Double): Double = math.floor(x * 1000 + 0.5) / 1000
    // stdout schema v3 (r8, after the r7 advice): the truncated top-15 map
    // is named "slowest" — it is NOT the full per-query set, and reusing
    // the old "queries" key made consumers of the original schema silently
    // read 15 rows as 463. "sf" stays the string the original schema
    // carried ("sf0.1"); the explicit "schema" marker makes any future
    // shape change fail loudly in old parsers instead of misparsing.
    val slow = results.toSeq.sortBy { case (k, v) => (-v, k) }.take(15)
      .map { case (k, v) => s"\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    val sfTag = "sf[0-9.]+".r.findFirstIn(sfDir).getOrElse(sfDir)
    // "passes_slowest15" is ADDITIVE to the bench-v3 shape (old parsers
    // ignore unknown keys; "passes" keeps meaning "full passes")
    val summary = s"""{"schema":"bench-v3","metric":"total","value":${r3(total)},"unit":"sec","slowest":$slow,"n_queries":${results.size},"median":${r3(pct(0.5))},"p90":${r3(pct(0.9))},"max":${r3(pct(1.0))},"passes":2,"passes_slowest15":3,"failed":$fs,"sf":"$sfTag","full":"BENCH_FULL.json"}"""
    // the stdout line transits sbt, which prefixes it "[info] " and feeds
    // archive truncation (every BENCH_r*.json through r7: parsed=null or
    // mangled tail) — the bare-file copy is the self-defending record the
    // r7 verdict asked for; commit it as BENCH_SUMMARY.json each round
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get("BENCH_SUMMARY.json"),
        (summary + "\n").getBytes("UTF-8"))
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] BENCH_SUMMARY.json not written: ${Verify.reason(e)}")
    }
    println(summary)
    spark.stop()
  }

  /** Warm the JVM / parquet reader / codegen paths so startup cost is not
    * attributed to whichever query happens to run first. */
  def warmUp(spark: org.apache.spark.sql.SparkSession, sfDir: String): Unit =
    try {
      val lineitem = engine.Tables(spark, sfDir, "lineitem")
      lineitem.count()
      lineitem.groupBy("l_returnflag").count().count()
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] warm-up failed: ${Verify.reason(e)}")
    }
}
