package graft

import org.apache.spark.sql.functions._

/** Round-16 optimization pins: internals changed for speed must still
  * compute the identical values.
  *
  *  - the unigram-LM Viterbi E-step was restructured from maxLen unrolled
  *    shuffle rounds into a single per-word in-expression DP — pinned here
  *    against a brute-force enumeration of ALL segmentations (scored with
  *    the same fixed-point piece log-probs) on a synthetic corpus;
  *  - the basket/doc pair expansion (agg_market_basket, text_pmi_cooccur)
  *    moved from an interpreted transform/slice/struct HOF to two chained
  *    generators — pinned element-for-element against the old expression.
  */
class Round16Spec extends SparkSpec {

  test("unigram-LM step: per-word expression DP equals brute-force best " +
    "segmentation under (s6, seg) max ordering (r16)") {
    import spark.implicits._
    // words chosen to force ties and multi-round DP: repeated substrings,
    // shared pieces across words, lengths 1..8
    val docs = Seq(
      "ab ab b abc",
      "abab banana b",
      "abcabcab na ban anan",
      "a aa aaa aaaa ab"
    ).toDF("text")
    val got = ops.TextOps.unigramLmStep(docs, "text", maxLen = 8,
      maxPiece = 4, topK = 50).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))

    // ---- brute force in plain Scala ----
    val words = docs.as[String].collect()
      .flatMap(_.toLowerCase.split(" ")).filter(_.nonEmpty)
    val wf = words.groupBy(identity).map { case (w, g) => w -> g.length.toLong }
    // piece counts: every substring of length 1..4 at every position,
    // weighted by word frequency (duplicates within a word count per
    // occurrence — the transform explode emits one row per (i, l))
    val pc = scala.collection.mutable.Map.empty[String, Long]
    for ((w, f) <- wf; i <- 1 to w.length;
         l <- 1 to math.min(4, w.length - i + 1))
      pc(w.substring(i - 1, i - 1 + l)) =
        pc.getOrElse(w.substring(i - 1, i - 1 + l), 0L) + f
    val tt = pc.values.sum.toDouble
    val s6 = pc.map { case (p, c) =>
      p -> math.floor(math.log(c / tt) * 1000000 + 0.5).toLong }
    // all segmentations into pieces of length <= 4, best by (s6, seg)
    def segs(w: String): Seq[(Long, String)] =
      if (w.isEmpty) Seq((0L, ""))
      else (1 to math.min(4, w.length)).flatMap { l =>
        val (p, rest) = (w.substring(0, l), w.substring(l))
        segs(rest).map { case (s, sg) => (s + s6(p), "/" + p + sg) }
      }
    val best = wf.filter(_._1.length <= 8).map { case (w, f) =>
      w -> ((f, segs(w).maxBy(identity))) }
    val em = scala.collection.mutable.Map.empty[String, Long]
    for ((_, (f, (_, sg))) <- best; p <- sg.substring(1).split("/"))
      em(p) = em.getOrElse(p, 0L) + f
    val expected = pc.keys.toSeq.map { p =>
      (p, pc(p), em.getOrElse(p, 0L), s6(p).toDouble / 1000000)
    }.sortBy { case (p, _, e, _) => (-e, p) }.take(50)
    assert(got.toSeq == expected,
      s"DP mismatch:\ngot      ${got.toSeq}\nexpected $expected")
  }

  test("chained-generator pair expansion equals the interpreted HOF on " +
    "sorted arrays with duplicates and empties (r16)") {
    import spark.implicits._
    val arrs = Seq(
      Array(1L, 2L, 3L, 4L), Array(5L), Array.empty[Long],
      Array(7L, 7L, 8L), Array(1L, 1L, 1L), (1L to 9L).toArray
    ).toDF("arr")
    val hof = arrs.select(explode(expr(
      "flatten(transform(arr, (x, i) -> " +
        "transform(slice(arr, i + 2, size(arr)), y -> struct(x AS pa, y AS pb))))"))
      .as("pr")).select(col("pr.pa"), col("pr.pb"))
    val gen = arrs
      .select(col("arr"), posexplode(col("arr")).as(Seq("ia", "pa")))
      .select(col("pa"),
        explode(slice(col("arr"), col("ia") + 2, size(col("arr")))).as("pb"))
    val a = hof.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val b = gen.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(a == b, s"pair sets differ:\nhof $a\ngen $b")
    assert(a.nonEmpty)
  }

  test("codegen graft_shingles equals the interpreted transform-HOF " +
    "shingles on duplicate/empty-token/unicode arrays for k=1..8 (r16)") {
    import spark.implicits._
    // split(" ")-shaped inputs: duplicates, empty tokens from runs of
    // spaces, unicode, single-char tokens — everything the corpora produce
    val docs = Seq(
      "a b c d e f g h i",
      "a a a a a a a a",
      " leading and  double  spaces ",
      "únîcødé tökens ünd ASCII mixed",
      "x y", "lone"
    ).toDF("text").select(split(col("text"), " ").as("tk"))
    for (k <- Seq(1, 2, 3, 5, 8)) {
      val guarded = docs.filter(size(col("tk")) >= k)
      val hof = guarded.select(transform(
        sequence(lit(1), size(col("tk")) - (k - 1)),
        i => concat_ws(" ", (0 until k).map(j =>
          element_at(col("tk"), i + j)): _*)).as("sh"))
        .collect().map(_.getSeq[String](0)).toSeq
      val gen = guarded
        .select(call_function("graft_shingles", col("tk"), lit(k)).as("sh"))
        .collect().map(_.getSeq[String](0)).toSeq
      assert(hof == gen, s"k=$k shingle mismatch:\nhof $hof\ngen $gen")
      assert(hof.nonEmpty)
    }
    // below the callers' size guard the codegen form yields an EMPTY array
    val short = docs.filter(size(col("tk")) < 3)
      .select(call_function("graft_shingles", col("tk"), lit(3)).as("sh"))
      .collect().map(_.getSeq[String](0)).toSeq
    assert(short.nonEmpty && short.forall(_.isEmpty))
  }

  test("fused graft_shingle_hashes equals transform(shingles, xxhash64) " +
    "on duplicate/empty-token/unicode arrays for k=1..8 (r16)") {
    import spark.implicits._
    val docs = Seq(
      "a b c d e f g h i",
      "a a a a a a a a",
      " leading and  double  spaces ",
      "únîcødé tökens ünd ASCII mixed",
      "x y", "lone"
    ).toDF("text").select(split(col("text"), " ").as("tk"))
    for (k <- Seq(1, 2, 3, 5, 8)) {
      val guarded = docs.filter(size(col("tk")) >= k)
      val ref = guarded.select(transform(
        call_function("graft_shingles", col("tk"), lit(k)),
        xxhash64(_)).as("h")).collect().map(_.getSeq[Long](0)).toSeq
      val fused = guarded
        .select(call_function("graft_shingle_hashes", col("tk"), lit(k)).as("h"))
        .collect().map(_.getSeq[Long](0)).toSeq
      assert(ref == fused, s"k=$k hash mismatch:\nref $ref\nfused $fused")
      assert(ref.nonEmpty)
    }
  }

  test("two-pass heavy hitters: null recount group (non-candidates) and " +
    "empty-string tokens keep n exact at the edge corpora (r16)") {
    import spark.implicits._
    def run(texts: Seq[String], k: Int) = {
      val docs = texts.toDF("text")
      val exhaustive = docs
        .select(explode(split(col("text"), " ")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("c"))
      val n = exhaustive.agg(sum("c")).head.getLong(0)
      val expected = exhaustive.filter(col("c") * k > n)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      val got = ops.TextOps.heavyHitters(docs, "text", k)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(got == expected, s"k=$k texts=$texts:\ngot $got\nwant $expected")
      expected
    }
    // every distinct token fits in the sketch -> the recount's null group
    // is EMPTY and n must still equal the true total
    val allCand = run(Seq("a a a b", "b a a"), k = 8)
    assert(allCand.nonEmpty)
    // runs of spaces produce empty-string tokens -- "" is a real token
    // value and must be countable as a heavy hitter like any other
    val withEmpty = run(Seq("x  x   x", "x  y", "  "), k = 4)
    assert(withEmpty.exists(_._1 == ""), s"empty token missing: $withEmpty")
    // tiny k forces the decrement-all path with a non-empty null group
    run((1 to 40).map(i => s"hot t$i hot"), k = 2)
  }

  test("cross-query memos are session-keyed in-memory maps; eviction " +
    "unpersists oldest-first and drops nothing to stable storage (r16)") {
    import spark.implicits._
    // populate the dedup pair memo through a real consumer
    val docs = Seq((1L, "a b c d"), (2L, "a b c e"), (3L, "x y z w"))
      .toDF("doc_id", "text")
    ops.Dedup.jaccardPairs(docs, "text", "doc_id", k = 3, tau = 0.1)
      .count()
    val entries = ops.PlanMemo.entries
    // every memo key carries the OWNING SparkSession as its first element:
    // entries can never outlive or cross sessions (PlanMemo evicts
    // stopped-session keys; a fresh session can never read ours), and the
    // map itself is in memory — no file-backed store anywhere.
    entries.keys.foreach { k =>
      assert(k.productElement(0).isInstanceOf[org.apache.spark.sql.SparkSession],
        s"memo key not session-first: $k")
    }
    assert(entries.keys.exists(k =>
      k.site == "Dedup.jaccardPairs" && (k.session eq spark)),
      "pair memo not populated for the live session")
    // memoized frames that ARE persisted use memory-backed session-local
    // levels (MEMORY_AND_DISK spill at most) — never a stable on-disk
    // artifact; some memo entries (e.g. minhashBands) are plan-only and
    // carry no storage at all, which is equally safe
    entries.values.foreach {
      case v: org.apache.spark.sql.DataFrame =>
        val lvl = v.storageLevel
        assert(lvl == org.apache.spark.storage.StorageLevel.NONE
          || lvl.useMemory, s"memoized frame disk-only: $lvl")
        assert(lvl.replication == 1)
      case _ => ()
    }
    // eviction: at cap, the OLDEST entry leaves and its blocks are
    // unpersisted — the memo can never grow into a cross-run store
    val m = new ops.PlanMemo(1, _.sparkContext.isStopped)
    val f1 = m.byDir(spark, "k1", "test")(ops.PlanMemo.pin(Seq(1).toDF("x")))
    val f2 = m.byDir(spark, "k2", "test")(ops.PlanMemo.pin(Seq(2).toDF("x")))
    assert(m.entries.keys.map(_.input) == Set("k2"), "oldest entry not evicted at cap")
    assert(f1.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "evicted frame still persisted")
    f2.unpersist()
  }

  test("session memo: a stopped session's entries leave before the oldest " +
    "live entry") {
    // one SparkContext per JVM: the second session stands in for a stopped
    // one through the memo's liveness check
    val dead = spark.newSession()
    val m = new ops.PlanMemo(3, _ eq dead)
    m.byDir(spark, "live-oldest", "test")(1)
    m.byDir(dead, "dead-1", "test")(2)
    m.byDir(dead, "dead-2", "test")(3)
    m.byDir(spark, "live-new", "test")(4)
    assert(m.entries.keys.map(_.input) == Set("live-oldest", "live-new"))
  }

  test("session memo: separately built, semantically equal plans share one " +
    "entry") {
    import spark.implicits._
    val base = Seq((1L, "a b"), (2L, "c d")).toDF("id", "t")
    def built = base.filter(col("id") > 0).withColumn("u", upper(col("t")))
    val m = new ops.PlanMemo(8, _.sparkContext.isStopped)
    var builds = 0
    assert(m.byPlan(built, "test", 1) { builds += 1; builds } == 1)
    assert(m.byPlan(built, "test", 1) { builds += 1; builds } == 1)
    assert(builds == 1 && m.entries.size == 1)
  }

  test("session memo: two in-memory corpora with the same params get two " +
    "entries and their own results") {
    import spark.implicits._
    val rows = Seq((1L, "p q r s", "w x y z"), (2L, "p q r t", "k l m n"))
    val a = rows.toDF("doc_id", "text", "title")
    // same data, text and title swapped: canonicalization erases column
    // names, so the plan alone cannot tell these two apart
    val b = rows.toDF("doc_id", "title", "text")
    def pairs(d: org.apache.spark.sql.DataFrame) =
      ops.Dedup.jaccardPairs(d, "text", "doc_id", k = 3, tau = 0.1)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def keys = ops.PlanMemo.entries.keySet
      .filter(k => k.site == "Dedup.jaccardPairs" && (k.session eq spark))
    val before = keys
    assert(pairs(a) == Set((1L, 2L)))
    assert(pairs(b).isEmpty)
    assert((keys -- before).size == 2)
  }
}
