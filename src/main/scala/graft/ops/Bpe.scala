package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding merge training over a corpus — the tokenizer-train
  * step of an LLM data pipeline (Sennrich et al. 2016, public), Spark-shaped.
  *
  * Scale design (100 TB): BPE trains on the VOCABULARY (word, frequency),
  * not the corpus stream — one groupBy collapses any corpus to a frame
  * bounded by distinct-word count, and every round after that is
  * vocab-sized work regardless of corpus size. Each round is one
  * explode+sum pair count (partial-aggregated shuffle on the pair string),
  * one 1-row argmax (`orderBy.limit(1)` plans as TakeOrderedAndProject —
  * a per-partition heap + driver merge of singletons, never a full sort),
  * and one per-row array fold to apply the merge — embarrassingly parallel.
  * The only driver-side state is the merge table itself (`rounds` rows),
  * the same class of scalar-per-iteration driver action as the CC loop's
  * convergence observation. `localCheckpoint` cuts the growing per-round
  * lineage exactly like the other iterative operators.
  *
  * Determinism: pair counts are integer sums; the argmax tiebreak is
  * (count desc, pair string asc); the merge fold is greedy left-to-right
  * (overlapping occurrences like "a a a" merge non-overlapping from the
  * left, matching the reference BPE behavior). Bit-stable across runs —
  * golden-hashable.
  */
object Bpe {

  /** Learn `rounds` merges; returns (round, pair, freq) — the merge table
    * a tokenizer would persist. Memoized per input plan and params:
    * training is iterative and driver-coordinated, and the
    * train-then-tokenize query re-derives the same table the standalone
    * train query produces. */
  def trainMerges(docs: DataFrame, textCol: String, rounds: Int): DataFrame =
    PlanMemo.byPlan(docs, "Bpe.trainMerges", (textCol, rounds)) {
      computeMerges(docs, textCol, rounds)
    }

  private def computeMerges(docs: DataFrame, textCol: String,
                            rounds: Int): DataFrame = {
    val spark: SparkSession = docs.sparkSession
    val words = docs
      .select(explode(split(lower(col(textCol)), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("wf"))
    // initial symbols: characters + the end-of-word marker
    val vocab = words.select(col("wf"),
        concat(split(col("w"), ""), array(lit("</w>"))).as("sym"))
      .localCheckpoint()
    // the loop works on the VOCAB frame — size its shuffles to that frame,
    // not the session default (same seam as the CC/PageRank loops: an
    // iterative plan pays scheduling per shuffle partition per round, and
    // the vocabulary is orders of magnitude smaller than the corpus)
    val nWords = vocab.count()
    val para = spark.sparkContext.defaultParallelism.toLong
    val loopParts = math.max(math.max(1L, para / 4),
      math.min(para, nWords / 1000000L + 1L))
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", loopParts.toString)
    try {
      trainLoop(spark, vocab, rounds)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    }
  }

  private def trainLoop(spark: SparkSession, vocab0: DataFrame,
                        rounds: Int): DataFrame = {
    var vocab = vocab0
    val merges = Seq.newBuilder[(Int, String, Long)]
    for (r <- 1 to rounds) {
      val topDf = vocab
        // fully-merged single-symbol words have no pairs — and Spark's
        // sequence(1, 0) is DESCENDING, so they must not reach the explode
        .filter(size(col("sym")) >= 2)
        .select(col("wf"), explode(
          transform(sequence(lit(1), size(col("sym")) - 1),
            i => concat_ws(" ",
              element_at(col("sym"), i), element_at(col("sym"), i + 1)))).as("p"))
        .groupBy("p").agg(sum("wf").as("c"))
        .orderBy(col("c").desc, col("p")).limit(1)
      val top = BoundedCollect.rows(topDf, "Bpe.trainLoop argmax")
      if (top.isEmpty) {
        // every word fully merged — nothing left to learn
        return spark.createDataFrame(merges.result())
          .toDF("round", "pair", "freq")
      }
      val tp = top(0).getString(0)
      merges += ((r, tp, top(0).getLong(1)))
      val Array(lSym, rSym) = tp.split(" ", 2)
      vocab = vocab.select(col("wf"), mergeFold(lSym, rSym).as("sym"))
        .localCheckpoint()
    }
    spark.createDataFrame(merges.result()).toDF("round", "pair", "freq")
  }

  /** Greedy left-to-right application of ONE merge to the `sym` column: an
    * index fold with a skip flag, so "a a a" under merge (a,a) becomes
    * ("aa", "a") — non-overlapping from the left, the reference semantics. */
  private def mergeFold(lSym: String, rSym: String): org.apache.spark.sql.Column =
    mergeFoldOn(col("sym"), lSym, rSym)

  /** [[mergeFold]] over an arbitrary input column, so merge chains can
    * NEST into one projection (apply-time: no per-merge checkpoint job). */
  private def mergeFoldOn(in: org.apache.spark.sql.Column,
                          lSym: String, rSym: String) = {
    val mergedSym = lSym + rSym
    val n = size(in)
    aggregate(
      sequence(lit(1), n),
      struct(array().cast("array<string>").as("out"), lit(false).as("skip")),
      (acc, i) => {
        val cur = element_at(in, i)
        // ANSI mode: element_at past the end THROWS — the when() guard
        // keeps the lookahead branch unevaluated on the last symbol
        val nxt = when(i < n, element_at(in, i + 1))
        val isPair = i < n && cur === lit(lSym) && nxt === lit(rSym)
        when(acc.getField("skip"),
            struct(acc.getField("out").as("out"), lit(false).as("skip")))
          .when(isPair,
            struct(concat(acc.getField("out"), array(lit(mergedSym))).as("out"),
              lit(true).as("skip")))
          .otherwise(
            struct(concat(acc.getField("out"), array(cur)).as("out"),
              lit(false).as("skip")))
      },
      acc => acc.getField("out"))
  }

  /** Tokenize with a learned merge table: per-word segmentation under the
    * merges applied IN TRAINING ORDER (the reference apply semantics),
    * then per-document subword counts.
    *
    * Scale shape: segmentation runs on the DISTINCT-WORD vocabulary (one
    * fold pass per merge over a vocab-sized frame, localCheckpoint between
    * merges), and documents join the resulting (word → n_subwords) map on
    * the word key — corpus-sized work is one explode + one shuffle-join on
    * short word strings + one partial-aggregated count, no matter how many
    * merges were learned. Returns (doc_id, n_words, n_subwords). */
  def applyMerges(docs: DataFrame, textCol: String, idCol: String,
                  merges: Seq[(String, String)]): DataFrame = {
    val spark = docs.sparkSession
    val tok = docs.select(col(idCol),
      explode(split(lower(col(textCol)), " ")).as("w"))
      .filter(length(col("w")) > 0)
    // One checkpointed fold pass per merge over the distinct-word vocab.
    // NOT one nested projection: each fold level references its input
    // expression ~4 times (sequence bound, current, lookahead, guard), so
    // nesting k merges copies the base tree O(4^k) — measured as a
    // planner heap blowup at k=8. The checkpoint between merges is the
    // tree-severing seam, same as the iterative loops elsewhere.
    var vocab = tok.select("w").distinct()
      .select(col("w"), concat(split(col("w"), ""), array(lit("</w>"))).as("sym"))
      .localCheckpoint()
    // per-merge folds are vocab-sized — scope the loop's shuffles like
    // trainMerges does (the folds themselves are narrow; only the
    // localCheckpoint repartitioning is affected)
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
      math.max(1L, spark.sparkContext.defaultParallelism.toLong / 4).toString)
    try {
      // lazy (r15): the fold chain is linear with no mid-loop driver
      // decision — each checkpoint still severs the O(4^k) expression
      // nesting at plan time, but the per-merge eager materialization job
      // (8 blocking jobs at k=8) collapses into the consumer's one action
      for ((lSym, rSym) <- merges)
        vocab = vocab.select(col("w"), mergeFold(lSym, rSym).as("sym"))
          .localCheckpoint(eager = false)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    }
    tok.join(vocab.select(col("w"), size(col("sym")).as("ns")), "w")
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("int").as("n_words"),
        sum(col("ns")).cast("long").as("n_subwords"))
  }
}
