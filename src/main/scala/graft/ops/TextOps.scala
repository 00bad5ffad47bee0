package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis building blocks for training-data pipelines.
  *
  * Everything here is built from codegen'd built-in functions (split,
  * transform, aggregate, regexp) — no UDFs in the hot path, so whole-stage
  * codegen spans the scan→project pipeline and the ops scale linearly with
  * input bytes at 100 TB. One deliberate exception: [[compressionRatio]]
  * needs native zlib and runs as a typed mapPartitions (per-partition
  * Deflater, still linear in input bytes — see its scaladoc).
  */
object TextOps {

  /** Whitespace tokens. */
  def tokens(text: Column): Column = split(text, " ")

  /** Session memo of the per-document lowercased term-count frame
    * (doc_id, term, tf) — ONE tokenize+aggregate serves every TF/DF
    * consumer over the same corpus (text_tfidf, text_keyphrases,
    * text_pmi_cooccur): tf is the frame itself, df/distinct-(doc, term)
    * are one cheap aggregate/projection away, so the corpus text is
    * re-tokenized once per session instead of once per query. */
  def docTermCounts(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    PlanMemo.byDir(s, dir, "TextOps.docTermCounts") {
      graft.engine.Tables.fan(graft.engine.Tables(s, dir, "documents"))
        .select(col("doc_id"), explode(tokens(lower(col("text")))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .localCheckpoint()
    }

  /** Per-SOURCE term counts (source, term, c) — the rollup of
    * [[docTermCounts]] through the (doc_id, source) dimension, memoized in
    * its own right because several per-source lexical statistics
    * (text_source_kl, text_yule_k) start exactly here. Building it from
    * the doc-level memo means the corpus text is tokenized at most once
    * per session for the whole TF/DF family. */
  def srcTermCounts(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    PlanMemo.byDir(s, dir, "TextOps.srcTermCounts") {
      docTermCounts(s, dir)
        .join(graft.engine.Tables(s, dir, "documents")
          .select("doc_id", "source"), "doc_id")
        .groupBy("source", "term").agg(sum("tf").as("c"))
        .localCheckpoint()
    }

  /** Canonical URL for dedup keys: strip the fragment, lowercase the
    * scheme/host/path, drop the default-port `:443` and a leading `www.`,
    * remove tracking query params (`utm_*`, `ref`), and SORT the surviving
    * params so key order can't split identical resources. Pure codegen'd
    * string ops — linear per row, and the canon string is a groupable/
    * windowable key (llm_url_dedup and the builder's UrlDedup step). */
  def urlCanon(url: Column): Column = {
    val base = replace(replace(
      lower(split_part(split_part(url, lit("#"), lit(1)), lit("?"), lit(1))),
      lit(":443/"), lit("/")), lit("://www."), lit("://"))
    val cq = array_join(array_sort(filter(
      split(split_part(split_part(url, lit("#"), lit(1)), lit("?"), lit(2)), "&"),
      p => !(p.like("utm\\_%") || p.like("ref=%")))), "&")
    concat(base, when(cq === "", "").otherwise(concat(lit("?"), cq)))
  }

  /** Unicode NFC normalization (codegen expression, functions/
    * NfcNormalize.scala) — run BEFORE tokenization/shingling on real-world
    * corpora: decomposed accents make byte-different tokens that look
    * identical, silently breaking dedup blocking and n-gram features. */
  def nfc(text: Column): Column = {
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(graft.GraftSession.install)
    call_function("graft_nfc", text)
  }

  /** Deflate-compression ratio per document — the C4/Gopher-style quality
    * signal (highly repetitive or templated text compresses far below
    * natural prose). zlib level 6, raw UTF-8 bytes. Deterministic per zlib
    * BUILD (the JDK links the host libz; zlib-ng emits different bytes for
    * the same input), so the golden hash is host-specific — fine for this
    * harness, regenerate on migration. No DuckDB twin → golden-checked.
    *
    * This is the module's one deliberate codegen break: a typed
    * mapPartitions with one native Deflater per PARTITION (not per row),
    * released eagerly when the partition drains. */
  def compressionRatio(df: org.apache.spark.sql.DataFrame, textCol: String,
                       idCol: String): org.apache.spark.sql.DataFrame = {
    import df.sparkSession.implicits._
    df.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .mapPartitions { it =>
        val deflater = new java.util.zip.Deflater(6)
        val buf = new Array[Byte](1 << 16)
        val mapped = it.map { case (id, text) =>
          val in = text.getBytes("UTF-8")
          deflater.reset()
          deflater.setInput(in)
          deflater.finish()
          var out = 0
          while (!deflater.finished()) out += deflater.deflate(buf)
          (id, in.length, out,
            math.rint(out.toDouble / math.max(1, in.length) * 10000) / 10000)
        }
        // release native zlib buffers when the partition drains instead of
        // waiting for GC finalization (end() is idempotent)
        new Iterator[(Long, Int, Int, Double)] {
          def hasNext: Boolean = {
            val h = mapped.hasNext
            if (!h) deflater.end()
            h
          }
          def next(): (Long, Int, Int, Double) = mapped.next()
        }
      }.toDF(idCol, "n_bytes", "n_compressed", "ratio")
  }

  /** BPE-ish subword segmentation: letter runs, digit runs, single other
    * glyphs — the standard pre-tokenizer shape (RE2- and Java-regex safe). */
  val bpeishPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

  /** k-token shingles (requires size >= k; callers filter shorter docs).
    * One codegen expression (functions/ShinglesK.scala) instead of the old
    * `transform(sequence(…), i -> concat_ws(" ", element_at…))` chain:
    * higher-order functions are CodegenFallback-interpreted, and the
    * shingle build is the shared hot stage of the dedup-blocking and
    * n-gram-LM families (r16 DevAb on the isolated stage: ×0.50 on the
    * distinct-3-shingle blocking shape, ×0.79 on the bigram shape; values
    * bit-identical — same concat_ws(" ") kernel, same order). */
  def shingles(toks: Column, k: Int): Column = {
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(graft.GraftSession.install)
    call_function("graft_shingles", toks, lit(k))
  }

  /** xxhash64 of every k-token shingle, fused into one codegen loop
    * (functions/ShingleHashes.scala) — for callers that only consume
    * shingle HASHES (blocking keys, boilerplate counting). Bit-identical
    * to `transform(shingles(tk, k), xxhash64)` (same bytes through the
    * same XXH64 kernel, seed 42) without the interpreted per-element
    * transform lambda or the intermediate string array (r16 DevAb on the
    * isolated stage: ×0.82, values equal). */
  def shingleHashes(toks: Column, k: Int): Column = {
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(graft.GraftSession.install)
    call_function("graft_shingle_hashes", toks, lit(k))
  }

  /** Polynomial rolling hash over token codes, mod 2^31-1 — pure integer
    * fold, bit-identical in any engine (the oracle-able document
    * fingerprint; xxhash64 is the no-oracle fast path). Token code =
    * first-char codepoint × 256 + token length. */
  def polyFingerprint(toks: Column): Column =
    aggregate(
      transform(toks, t => (ascii(t) * 256 + length(t)).cast("long")),
      lit(0L),
      (acc, x) => (acc * 131 + x) % 2147483647L)

  /** Language-ID by stopword voting: score per language = #distinct tokens
    * intersecting that language's stopword list; argmax with a fixed
    * language priority for ties. A real pipeline swaps in fastText-style
    * n-gram models; the operator shape (per-row pure function) is the same. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "a", "for", "with", "on"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "zu", "mit", "auf", "ein"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es", "por", "con"),
    "fr" -> Seq("le", "la", "de", "et", "est", "un", "une", "dans", "pour", "que"),
    "zh" -> Seq())

  /** Predicted language: any CJK char (U+4E00..U+9FFF) → zh, else the
    * language whose stopword list holds the most distinct lowercase " "
    * tokens, ties to the alphabetically first. One codegen expression
    * (functions/TextScores.scala) scans each row once; the CASE chain over
    * four `size(array_intersect(split(lower(text)), …))` scores it
    * replaced gave the same values. */
  def langId(text: Column): Column = {
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(graft.GraftSession.install)
    call_function("graft_lang_id", text)
  }

  /** PII redaction: mask emails, phone numbers, IPv4 addresses with typed
    * placeholder tokens — the standard scrub pass before training-data
    * release. Patterns stay in the RE2-compatible subset (char classes,
    * bounded repeats, \b) so Java regex and RE2-family engines agree. */
  def piiScrub(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text,
          "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
        "(\\+?[0-9]{1,2}[ -])?[0-9]{3}-[0-9]{3}-[0-9]{4}", "<PHONE>"),
      "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "<IP>")

  /** Quality score in [0,1], rounded to 4 places:
    *   0.3 · min(length / 200, 1)
    * + 0.3 · (1 − chars outside [A-Za-z0-9 ] / length)
    * + 0.4 · distinct lowercase stopword tokens / " " tokens
    * in per-row IEEE arithmetic with the association as written. One
    * codegen expression (functions/TextScores.scala); empty text divides
    * by zero. */
  def qualityScore(text: Column): Column = {
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(graft.GraftSession.install)
    call_function("graft_quality_score", text)
  }

  /** Corpus heavy hitters (frequency > n/k) with EXACT output counts via
    * the two-pass Misra-Gries pattern: pass 1 runs a k-counter MG summary
    * per partition (the classic mergeable frequency sketch — an item with
    * global count > n/k must exceed n_p/k in at least one partition by
    * pigeonhole, so the union of partition survivors is a guaranteed
    * SUPERSET of every true heavy hitter at ANY partitioning); pass 2
    * exactly recounts only the ≤ k·numPartitions candidates and filters
    * on the exact threshold. The final output is therefore deterministic
    * and exact even though the sketch itself is partitioning-dependent.
    * This is the module's second deliberate mapPartitions (after
    * [[compressionRatio]]): a decrement-all counter loop is per-partition
    * imperative state, not a Catalyst expression. At 100 TB the
    * candidate frame is k·partitions rows (broadcast-small) and the
    * corpus is touched by streaming passes only — exactly TWO of them
    * (r16): the recount's left join keeps non-candidate tokens in one
    * null group, so the global n is the sum over the ≤ k·partitions+1
    * aggregated rows (a bounded global window, census class "top-k
    * result") instead of a third tokenize+count pass of its own. */
  def heavyHitters(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k > 1, s"need at least 2 counters, got $k")
    import docs.sparkSession.implicits._
    val toks = graft.engine.Tables.fan(docs)
      .select(explode(tokens(col(textCol))).as("tok"))
    val cand = toks.as[String].mapPartitions { it =>
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { t =>
        if (m.contains(t)) m(t) += 1L
        else if (m.size < k) m(t) = 1L
        else {
          // decrement-all step; drained counters free their slots
          m.mapValuesInPlace((_, v) => v - 1L)
          m.filterInPlace((_, v) => v > 0L)
        }
      }
      m.keysIterator
    }.toDF("tok").distinct()
    val counted = toks
      .join(broadcast(cand.withColumn("__c", lit(true))), Seq("tok"), "left")
      .groupBy(when(col("__c"), col("tok")).as("tok"))
      .agg(count(lit(1)).as("c"))
    counted
      .withColumn("n", sum(col("c")).over(Window.partitionBy()))
      .filter(col("tok").isNotNull && col("c") * k > col("n"))
      .select(col("tok"), col("c").cast("long").as("c"),
        (floor(col("c").cast("double") / col("n").cast("double")
          * 1000000 + lit(0.5)) / 1000000).as("share"))
  }

  /** Content-defined chunking (FastCDC/Gear-style, fixed 4-codepoint
    * window): one row per (doc, chunk) with 1-based start, length, and
    * the chunk content's md5 — shared by text_cdc_chunks (length
    * profile) and llm_dedup_cdc_chunks (chunk-grain dedup), and the seam
    * CdcSpec's insertion-stability pin drives. Boundary rule: position p
    * ENDS a chunk when p ≥ 4 and (c_p + 31·c_{p−1} + 961·c_{p−2} +
    * 29791·c_{p−3}) ≡ 0 (mod 16) — a pure window polynomial over
    * codepoints, no per-row state, identical in the DuckDB oracles.
    * Scale: the char explode is split-once per doc (linear, not the
    * quadratic substr(pos) form) and stays doc-partitioned; chunk
    * hashing is one substr + md5 per CHUNK (~1/16 of chars). */
  def cdcChunks(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val wp = Window.partitionBy("doc_id").orderBy("pos")
    val ch = docs
      // an EMPTY document has no chunks: split("", "") returns [""] (the
      // Java no-match convention), which would fabricate a phantom 1-char
      // chunk of md5("") where the oracle's range(1, length+1) correctly
      // yields nothing
      .filter(length(col(textCol)) > 0)
      .select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), "")).as(Seq("pos0", "cc")))
      .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"),
        ascii(col("cc")).cast("long").as("c"))
    val h = ch.select(col("doc_id"), col("pos"),
      when(col("pos") >= 4 &&
        (col("c") + lit(31L) * lag("c", 1).over(wp)
          + lit(961L) * lag("c", 2).over(wp)
          + lit(29791L) * lag("c", 3).over(wp)) % 16 === 0, 1L)
        .otherwise(0L).as("b"))
    val ck = h.select(col("doc_id"), col("pos"),
      (lit(1L) + coalesce(sum("b").over(
        wp.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))).as("chunk"))
    val sp = ck.groupBy("doc_id", "chunk")
      .agg(min("pos").cast("long").as("st"),
        count(lit(1)).cast("long").as("len"))
    sp.join(docs.select(col(idCol).as("doc_id"), col(textCol).as("__t")),
        "doc_id")
      .select(col("doc_id"), col("chunk"), col("st"), col("len"),
        md5(col("__t").substr(col("st").cast("int"), col("len").cast("int")))
          .as("sig"))
  }

  /** One EM step of a unigram-LM (SentencePiece-style) tokenizer — the
    * other half of subword tokenization next to Bpe: BPE builds its
    * vocabulary bottom-up by merging; the unigram model starts from ALL
    * candidate substrings, scores them as log-probabilities, and
    * re-estimates by segmenting the corpus with Viterbi under the
    * current scores. This runs exactly one E (Viterbi per distinct word,
    * best segmentation under 1e-6-FIXED integer log-scores — the DP is
    * BIGINT arithmetic, so no float accumulation can reorder two paths;
    * ties break on the segmentation string itself) + M (recount pieces
    * from the chosen segmentations, corpus-frequency-weighted) and
    * reports the top pieces by re-estimated count.
    *
    * Scale shape: everything after the one corpus tokenize/group-by runs
    * on VOCAB-bounded frames (distinct words × ≤ maxLen positions ×
    * ≤ maxPiece lengths) — the corpus pays one word-count aggregate, the
    * DP is a single per-word fold over the word's own piece scores (r16:
    * one join + one map-build aggregation replaced maxLen unrolled
    * shuffle rounds). Words longer than `maxLen` (none in the fixtures,
    * max 8) would drop out of the report — production raises maxLen,
    * which only lengthens the per-row fold. */
  def unigramLmStep(docs: DataFrame, textCol: String, maxLen: Int = 8,
                    maxPiece: Int = 4, topK: Int = 20): DataFrame = {
    val w = docs.filter(length(col(textCol)) > 0)
      .select(explode(split(lower(col(textCol)), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).cast("long").as("wf"))
      // lazy checkpoint (r15): w has two consumers (the piece counts and
      // the DP grid) — sever the corpus lineage once, materialize inside
      // the consumer's action.
      .localCheckpoint(eager = false)
    // (r15 negative result, recorded in OPTIMIZATION_r15.md: scoping the
    // PageRank-loop AQE-off window around this operator regressed
    // 2.37 → 2.85 s — the piece explode is compute-dense, and a
    // 1-partition vocab plan serializes it; AQE's per-stage sizing wins.)
    val pc = w.select(col("wf"), explode(expr(
        s"""flatten(transform(sequence(1, length(word)),
           |  i -> transform(sequence(1, least($maxPiece, length(word) - i + 1)),
           |    l -> substring(word, i, l))))""".stripMargin)).as("piece"))
      .groupBy("piece").agg(sum("wf").cast("long").as("c"))
    val tot = pc.agg(sum("c").cast("double").as("tt"))
    val ps = pc.crossJoin(broadcast(tot))
      .select(col("piece"), col("c"),
        floor(log(col("c").cast("double") / col("tt")) * 1000000 + lit(0.5))
          .cast("long").as("s6"))
      .localCheckpoint(eager = false)
    // r16 (guide §2.4): the Viterbi E-step used to run as maxLen unrolled
    // rounds — each a 4-way union + broadcast join + groupBy(word) shuffle
    // + lazy checkpoint (8 vocab shuffles, a 10-frame plan). The DP over
    // one word only ever reads that word's OWN ≤ maxLen × maxPiece piece
    // scores, so: attach them once (one join of the exploded (position,
    // length) grid against the scored piece table, one map-build
    // aggregation) and run the whole DP per row as an integer-arithmetic
    // fold. Round i keeping only the max (s6, seg) struct per word is
    // exactly this prefix DP (strict-order preservation under common
    // suffixes holds: two segs of the same prefix can never be string-
    // prefixes of each other — same char count, pieces non-empty — so
    // appending a common extension preserves their order), and within a
    // word the old tiebreak's wf column is constant, so max(struct(s6,
    // seg)) picks the identical segmentation. Every (i, l) key hits the
    // map: ps is built from ALL substrings of ALL words up to maxPiece.
    val grid = w.filter(length(col("word")) <= maxLen)
      .select(col("word"), col("wf"),
        explode(sequence(lit(1), length(col("word")))).as("i"))
      .select(col("word"), col("wf"), col("i"),
        explode(sequence(lit(1), least(lit(maxPiece), col("i")))).as("l"))
      .select(col("word"), col("wf"), col("i"), col("l"),
        expr("substring(word, i - l + 1, l)").as("pp"))
    val wmap = grid
      .join(broadcast(ps.select(col("piece").as("pp"), col("s6").as("ps6"))),
        "pp")
      .groupBy("word", "wf")
      .agg(map_from_entries(collect_list(struct(
        (col("i") * 16 + col("l")).as("k"), col("ps6").as("v")))).as("m"))
    val dp =
      s"""aggregate(
         |  sequence(1, length(word)),
         |  array(named_struct('s6', CAST(0 AS BIGINT), 'seg', '')),
         |  (acc, i) -> concat(acc, array(
         |    array_max(transform(sequence(1, least($maxPiece, i)), l ->
         |      named_struct(
         |        's6', element_at(acc, i - l + 1).s6
         |              + element_at(m, i * 16 + l),
         |        'seg', concat(element_at(acc, i - l + 1).seg, '/',
         |                      substring(word, i - l + 1, l))))))),
         |  acc -> element_at(acc, -1))""".stripMargin
    val sg = wmap.select(col("wf"), expr(dp).getField("seg").as("seg"))
    val em = sg
      .select(col("wf"), explode(split(expr("substring(seg, 2)"), "/"))
        .as("piece"))
      .groupBy("piece").agg(sum("wf").cast("long").as("c1"))
    ps.join(em, Seq("piece"), "left")
      .select(col("piece"), col("c").as("init_count"),
        coalesce(col("c1"), lit(0L)).cast("long").as("em_count"),
        (col("s6").cast("double") / 1000000).as("logp"))
      .orderBy(col("em_count").desc, col("piece"))
      .limit(topK)
  }

  /** [[cdcChunks]] persisted and memoized per (session, input plan): the
    * char explode + two per-doc windows are the expensive stages and the
    * chunk frame has three graded consumers (text_cdc_chunks,
    * llm_dedup_cdc_chunks — where it additionally feeds BOTH sides of the
    * sharing-count join — and llm_dedup_cdc_apply). */
  def cdcChunksMemo(docs: DataFrame, idCol: String,
                    textCol: String): DataFrame =
    PlanMemo.byPlan(docs, "TextOps.cdcChunks", (idCol, textCol)) {
      cdcChunks(docs, idCol, textCol)
        .transform(PlanMemo.pin)
    }
}
