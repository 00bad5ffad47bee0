package graft.queries

import graft.ops.PlanMemo
import graft.engine.{Det, QueryPack, Tables}
import graft.engine.Tables.fan
import graft.ops.{BlockWindow, Dedup, Sim, TextOps}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-quality and data-management operators beyond SURVEY §2's core
  * list: boilerplate-phrase detection, soft-dedup training weights,
  * distribution-drift (PSI) monitoring, embedding range search, snapshot
  * diffing, and a linear-classifier quality gate. Each is the Spark-shaped
  * version of an operation a production training-data pipeline runs
  * (CCNet-style boilerplate share, SoftDeDup reweighting instead of
  * dropping, PSI drift gates between crawl snapshots, radius queries over
  * embeddings, CDC-less snapshot compare, fastText-style model gating).
  */
object QualityOps extends QueryPack {

  private val oracleStopList: String = TextOps.stopwords.values.flatten
    .toSeq.distinct.sorted.map(w => s"'$w'").mkString(",")

  // Boilerplate-phrase share — the CCNet/RefinedWeb signal: a 3-gram that
  // appears in ≥ 5% of a SOURCE's documents is template text (nav bars,
  // footers, licence blurbs), and a document dominated by such shingles is
  // boilerplate. Scale shape (100 TB): shingles collapse to 8-byte
  // xxhash64 keys before the explode (the oracle joins raw strings —
  // same documented collision caveat as llm_decontaminate), the frequency
  // count is one partial-aggregated shuffle on (source, hash), and the
  // per-source doc totals (#sources rows) broadcast. The boilerplate set
  // joins back WITHOUT a broadcast hint: it is data-dependent in size, so
  // the plan stays a shuffle join that AQE downgrades to broadcast when
  // the set turns out small — no assume-it-fits seam.
  q("text_boilerplate",
    """WITH t AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS tk FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3
      |), sh AS (
      |  SELECT doc_id, source, list_distinct(list_transform(range(1, len(tk)-1),
      |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS s
      |  FROM t
      |), src AS (SELECT source, COUNT(*) AS n_docs FROM sh GROUP BY source),
      |e AS (SELECT doc_id, source, unnest(s) AS sg FROM sh),
      |bp AS (
      |  SELECT e.source, sg FROM e JOIN src USING (source)
      |  GROUP BY e.source, sg, n_docs HAVING COUNT(*) >= 0.05 * n_docs
      |)
      |SELECT e.doc_id, CAST(COUNT(*) AS INT) AS n_shingles,
      |  round(CAST(COUNT(*) FILTER (WHERE bp.sg IS NOT NULL) AS DOUBLE)
      |        / COUNT(*), 4) AS boiler_frac
      |FROM e LEFT JOIN bp ON e.source = bp.source AND e.sg = bp.sg
      |GROUP BY e.doc_id
      |ORDER BY e.doc_id""") { (s, dir) =>
    val sh = fan(fan(Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text")))
        .select(col("doc_id"), col("source"), TextOps.tokens(col("text")).as("tk")))
      .filter(size(col("tk")) >= 3)
      .select(col("doc_id"), col("source"),
        array_distinct(TextOps.shingleHashes(col("tk"), 3)).as("hs"))
      .transform(PlanMemo.pin) // reuse barrier: totals + explode
    val srcDocs = sh.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val e = sh.select(col("doc_id"), col("source"), explode(col("hs")).as("h"))
    val bp = e.groupBy("source", "h").agg(count(lit(1)).as("nd"))
      .join(broadcast(srcDocs), "source")
      .filter(col("nd") >= lit(0.05) * col("n_docs"))
      .select(col("source"), col("h"), lit(1).as("is_bp"))
    e.join(bp, Seq("source", "h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_shingles"),
        round(count(col("is_bp")).cast("double") / count(lit(1)), 4).as("boiler_frac"))
      .orderBy("doc_id")
  }

  // SoftDeDup — reweight instead of drop: every document in a near-dup
  // cluster trains at weight 1/|cluster| so the cluster contributes one
  // document's worth of gradient in aggregate (arXiv 2401.00448-style soft
  // deduplication; keeps tail phrasing diversity hard dedup throws away).
  // Composition of two already-graded pieces: jaccardPairs (shingle-blocked
  // candidates) + BSP connected components; the weight join back to the
  // corpus moves doc ids only, never text.
  q("llm_dedup_weight",
    """WITH RECURSIVE t AS (
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
      |), pairs AS (
      |  SELECT id_a, id_b FROM (
      |    SELECT id_a, id_b,
      |      round(CAST(inter AS DOUBLE) / (na.n + nb.n - inter), 4) AS jaccard
      |    FROM i JOIN n na ON i.id_a = na.doc_id JOIN n nb ON i.id_b = nb.doc_id
      |  ) WHERE jaccard >= 0.3
      |), ed AS (
      |  SELECT id_a AS s, id_b AS d FROM pairs
      |  UNION ALL SELECT id_b, id_a FROM pairs
      |), reach AS (
      |  SELECT s AS id, d AS r FROM ed
      |  UNION
      |  SELECT reach.id, ed.d AS r FROM reach JOIN ed ON reach.r = ed.s
      |), cl AS (
      |  SELECT id AS doc_id, least(id, min(r)) AS cluster_id FROM reach GROUP BY id
      |), sz AS (SELECT cluster_id, COUNT(*) AS n FROM cl GROUP BY cluster_id)
      |SELECT d.doc_id, round(1.0 / coalesce(c.n, 1), 4) AS weight
      |FROM documents d
      |LEFT JOIN (SELECT doc_id, n FROM cl JOIN sz USING (cluster_id)) c USING (doc_id)
      |ORDER BY d.doc_id""") { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    val pairs = Dedup.jaccardPairs(docs, "text", "doc_id", k = 3, tau = 0.3)
    val cc = Dedup.connectedComponents(pairs, "id_a", "id_b")
    val sizes = cc.groupBy("cluster").agg(count(lit(1)).as("n"))
    val withN = cc.join(sizes, "cluster").select(col("id").as("doc_id"), col("n"))
    docs.select(col("doc_id"))
      .join(withN, Seq("doc_id"), "left")
      .select(col("doc_id"),
        round(lit(1.0) / coalesce(col("n"), lit(1L)).cast("double"), 4).as("weight"))
      .orderBy("doc_id")
  }

  // Near-dup cluster report — the human-review artifact a dedup run
  // ships: per cluster its size, the kept doc (min id — the same survivor
  // llm_dedup_apply keeps), and mean quality, so reviewers can spot
  // clusters where the keeper is the WORST member. Rides the memoized CC
  // frame (one BSP loop shared with cluster/apply/weight in a session).
  q("llm_cluster_report",
    s"""WITH RECURSIVE t AS (
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
      |), pairs AS (
      |  SELECT id_a, id_b FROM (
      |    SELECT id_a, id_b,
      |      round(CAST(inter AS DOUBLE) / (na.n + nb.n - inter), 4) AS jaccard
      |    FROM i JOIN n na ON i.id_a = na.doc_id JOIN n nb ON i.id_b = nb.doc_id
      |  ) WHERE jaccard >= 0.3
      |), ed AS (
      |  SELECT id_a AS s, id_b AS d FROM pairs
      |  UNION ALL SELECT id_b, id_a FROM pairs
      |), reach AS (
      |  SELECT s AS id, d AS r FROM ed
      |  UNION
      |  SELECT reach.id, ed.d AS r FROM reach JOIN ed ON reach.r = ed.s
      |), cl AS (
      |  SELECT id AS doc_id, least(id, min(r)) AS cluster_id FROM reach GROUP BY id
      |), q AS (
      |  SELECT doc_id,
      |    round(
      |      least(CAST(length(text) AS DOUBLE) / 200, 1.0) * 0.3
      |      + (1.0 - CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
      |               / length(text)) * 0.3
      |      + (CAST(len(list_intersect(string_split(lower(text), ' '),
      |           [$oracleStopList])) AS DOUBLE)
      |         / len(string_split(text, ' '))) * 0.4, 4) AS qs
      |  FROM documents
      |)
      |SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(MIN(doc_id) AS BIGINT) AS kept_doc,
      |  ${Det.oAvgFix("qs", 4)} AS avg_quality
      |FROM cl JOIN q USING (doc_id)
      |GROUP BY cluster_id
      |ORDER BY cluster_id""") { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    val pairs = Dedup.jaccardPairs(docs, "text", "doc_id", k = 3, tau = 0.3)
    val cc = Dedup.connectedComponents(pairs, "id_a", "id_b")
    val q = docs.select(col("doc_id"),
      TextOps.qualityScore(col("text")).as("qs"))
    cc.select(col("id").as("doc_id"), col("cluster").as("cluster_id"))
      .join(q, "doc_id")
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("kept_doc"),
        Det.avgFix(sum(Det.fix(col("qs"), 4)), 4, count(lit(1))).as("avg_quality"))
      .select(col("cluster_id"), col("n_docs").cast("long").as("n_docs"),
        col("kept_doc").cast("long").as("kept_doc"), col("avg_quality"))
      .orderBy("cluster_id")
  }

  // Population-stability-index drift between the English and non-English
  // length distributions — the gate a pipeline runs between crawl
  // snapshots to catch distribution shift before training on it. One
  // partial-aggregated groupBy on a derived bucket; totals are a 1-row
  // broadcast. Determinism: psi terms are per-row double math whose ln
  // arguments are INTEGER-valued products (Det.lnFix guidance — libm/Java
  // last-ulp disagreement on integer args never lands on a round(4)
  // boundary in practice), and zero-count buckets are excluded on both
  // sides (psi is undefined there).
  q("dq_drift_psi",
    """WITH b AS (
      |  SELECT CAST(n_chars // 64 AS INT) AS bucket,
      |    COUNT(*) FILTER (WHERE lang = 'en') AS rn,
      |    COUNT(*) FILTER (WHERE lang <> 'en') AS cn
      |  FROM documents GROUP BY 1
      |), t AS (SELECT SUM(rn) AS rt, SUM(cn) AS ct FROM b)
      |SELECT bucket, CAST(rn AS BIGINT) AS ref_n, CAST(cn AS BIGINT) AS cand_n,
      |  round((CAST(rn AS DOUBLE)/rt - CAST(cn AS DOUBLE)/ct)
      |        * (ln(CAST(rn AS DOUBLE) * ct) - ln(CAST(cn AS DOUBLE) * rt)),
      |    4) AS psi_term
      |FROM b CROSS JOIN t
      |WHERE rn > 0 AND cn > 0
      |ORDER BY bucket""") { (s, dir) =>
    val b = Tables(s, dir, "documents")
      .groupBy(expr("n_chars div 64").cast("int").as("bucket"))
      .agg(count(when(col("lang") === "en", 1)).as("rn"),
        count(when(col("lang") =!= "en", 1)).as("cn"))
    val t = b.agg(sum("rn").as("rt"), sum("cn").as("ct"))
    b.crossJoin(broadcast(t))
      .filter(col("rn") > 0 && col("cn") > 0)
      .select(col("bucket"), col("rn").cast("long").as("ref_n"),
        col("cn").cast("long").as("cand_n"),
        round((col("rn").cast("double") / col("rt") - col("cn").cast("double") / col("ct"))
          * (log(col("rn").cast("double") * col("ct")) - log(col("cn").cast("double") * col("rt"))),
          4).as("psi_term"))
      .orderBy("bucket")
  }

  // Radius (range) query over embeddings: every corpus vector within
  // cosine ≥ tau of each probe — the retrieval primitive when the caller
  // wants "everything this close", not top-k. The probe set broadcasts
  // (size-gated) while the corpus STREAMS — the opposite orientation from
  // cosineTopK's corpus broadcast, because a radius scan's big side is
  // always the corpus; at tau ≥ Sim.lshEffectiveTau the banded-LSH
  // machinery slots in unchanged (same candidate join as nearDupPairs).
  q("sim_range_search",
    """WITH v AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      |), p AS (SELECT vec_id AS probe_id, e AS pe FROM v WHERE vec_id % 25 = 0)
      |SELECT probe_id, vec_id, sim FROM (
      |  SELECT probe_id, vec_id,
      |    round(
      |      list_reduce(list_prepend(0.0, list_transform(list_zip(pe, e),
      |        z -> z[1] * z[2])), (x, y) -> x + y)
      |      / (sqrt(list_reduce(list_prepend(0.0, list_transform(pe, x -> x*x)), (x, y) -> x + y))
      |       * sqrt(list_reduce(list_prepend(0.0, list_transform(e, x -> x*x)), (x, y) -> x + y))),
      |    4) AS sim
      |  FROM v CROSS JOIN p WHERE probe_id <> vec_id
      |) WHERE sim >= 0.25
      |ORDER BY probe_id, vec_id""") { (s, dir) =>
    val emb = Tables(s, dir, "embeddings")
    Sim.rangeSearch(emb.filter(col("vec_id") % 25 === 0), emb, tau = 0.25)
      .orderBy("probe_id", "vec_id")
  }

  // Snapshot diff — classify every key across two table versions as
  // Inserted / Updated / Deleted (the audit step before publishing an
  // incremental load; the "new" snapshot is a deterministic mutation of
  // orders so both engines construct identical inputs). One full-outer
  // sort-merge join on the key — the canonical distributed diff; at 100 TB
  // both sides shuffle once on o_orderkey and nothing else moves.
  q("etl_snapshot_diff",
    """WITH old AS (SELECT o_orderkey AS k, o_custkey AS c FROM orders),
      |new AS (
      |  SELECT o_orderkey AS k,
      |    o_custkey + CASE WHEN o_orderkey % 37 = 0 THEN 1 ELSE 0 END AS c
      |  FROM orders WHERE o_orderkey % 41 <> 0
      |  UNION ALL
      |  SELECT o_orderkey + 100000000, o_custkey FROM orders
      |  WHERE o_orderkey % 41 <> 0 AND o_orderkey % 43 = 0
      |)
      |SELECT COALESCE(o.k, n.k) AS o_orderkey,
      |  CASE WHEN o.k IS NULL THEN 'I' WHEN n.k IS NULL THEN 'D'
      |       ELSE 'U' END AS change
      |FROM old o FULL JOIN new n ON o.k = n.k
      |WHERE o.k IS NULL OR n.k IS NULL OR o.c <> n.c
      |ORDER BY o_orderkey""") { (s, dir) =>
    val orders = Tables(s, dir, "orders")
    val old = orders.select(col("o_orderkey").as("k"), col("o_custkey").as("c"))
    val nw = orders.filter(col("o_orderkey") % 41 =!= 0)
      .select(col("o_orderkey").as("k"),
        (col("o_custkey") + when(col("o_orderkey") % 37 === 0, 1).otherwise(0)).as("c"))
      .unionAll(orders
        .filter(col("o_orderkey") % 41 =!= 0 && col("o_orderkey") % 43 === 0)
        .select((col("o_orderkey") + 100000000L).as("k"), col("o_custkey").as("c")))
    old.as("o").join(nw.as("n"), col("o.k") === col("n.k"), "full_outer")
      .filter(col("o.k").isNull || col("n.k").isNull || col("o.c") =!= col("n.c"))
      .select(coalesce(col("o.k"), col("n.k")).as("o_orderkey"),
        when(col("o.k").isNull, "I").when(col("n.k").isNull, "D")
          .otherwise("U").as("change"))
      .orderBy("o_orderkey")
  }

  // Keyphrase extraction: each doc's top-3 terms by TF-IDF (rounded-score
  // rank with term tiebreak — deterministic). The summarization-lite step
  // a corpus pipeline runs for indexing/labeling; same two aggregates as
  // text_tfidf plus one WindowGroupLimit-pushed rank per doc.
  q("text_keyphrases",
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents
      |), tf AS (
      |  SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2
      |), df AS (
      |  SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1
      |), n AS (SELECT COUNT(*) AS n FROM documents),
      |scored AS (
      |  SELECT doc_id, term,
      |    round(tf * ln((n.n + 1.0) / (df.df + 1.0)), 4) AS tfidf
      |  FROM tf JOIN df USING (term) CROSS JOIN n
      |)
      |SELECT doc_id, term, tfidf, CAST(rk AS INT) AS rk FROM (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id
      |    ORDER BY tfidf DESC, term) AS rk
      |  FROM scored
      |) WHERE rk <= 3
      |ORDER BY doc_id, rk""") { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    // session-memoized term counts (TextOps.docTermCounts) — tokenized once,
    // shared with text_tfidf / text_pmi_cooccur
    val tf = TextOps.docTermCounts(s, dir)
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("term"))
    tf.join(df, "term")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"),
        round(col("tf") * log((col("n") + 1.0) / (col("df") + 1.0)), 4).as("tfidf"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("term"), col("tfidf"), col("rk").cast("int").as("rk"))
      .orderBy("doc_id", "rk")
  }

  // Flesch-style readability — vowel-group syllable heuristic (the
  // public approximation: a syllable per maximal [aeiouy]+ run) over the
  // single-sentence fixture docs. Per-row regex + integer counts → double
  // formula; embarrassingly parallel.
  q("text_readability",
    s"""SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS INT) AS n_words,
      |  CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS INT) AS n_syllables,
      |  CAST(${Det.oFix(
           // literals CAST to DOUBLE: DuckDB otherwise parses 1.015 as
           // DECIMAL and computes DECIMAL×BIGINT exactly, one ulp off
           // Spark's double arithmetic
           """CAST(206.835 AS DOUBLE) - CAST(1.015 AS DOUBLE) * len(string_split(text, ' '))
      |        - CAST(84.6 AS DOUBLE) * (CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS DOUBLE)
      |                  / len(string_split(text, ' ')))""", 4)}
      |    AS DOUBLE) / 10000 AS flesch
      |FROM documents
      |ORDER BY doc_id""") { (s, dir) =>
    val words = size(TextOps.tokens(col("text")))
    val syl = size(expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)"))
    // 4-dp via Det.fix, NOT round(): small-integer syllable/word ratios
    // land the score exactly on .xxxx5 shortest-string ties, where Spark
    // (decimal-string HALF_UP) and DuckDB (binary rounding) disagree —
    // measured 2 cells at sf0.01. floor(x·10⁴+0.5) is pure IEEE both sides.
    Tables(s, dir, "documents")
      .select(col("doc_id"), words.as("n_words"), syl.as("n_syllables"),
        (Det.fix(lit(206.835) - lit(1.015) * words
          - lit(84.6) * (syl.cast("double") / words), 4).cast("double") / 10000)
          .as("flesch"))
      .orderBy("doc_id")
  }

  // One-row "dataset card" — the corpus summary a training-data release
  // ships: sizes, language/source spread, mean quality, exact-dup share.
  // One scan + one global aggregate (everything partial-aggregates; the
  // dup count is countDistinct over md5 digests, never text).
  q("llm_dataset_card",
    s"""WITH scored AS (
      |  SELECT text, lang, source,
      |    round(
      |      least(CAST(length(text) AS DOUBLE) / 200, 1.0) * 0.3
      |      + (1.0 - CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
      |               / length(text)) * 0.3
      |      + (CAST(len(list_intersect(string_split(lower(text), ' '),
      |           [$oracleStopList])) AS DOUBLE)
      |         / len(string_split(text, ' '))) * 0.4, 4) AS q
      |  FROM documents
      |)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
      |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
      |  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
      |  ${Det.oAvgFix("q", 4)} AS avg_quality,
      |  CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) AS n_exact_dups
      |FROM scored""") { (s, dir) =>
    val toks = TextOps.tokens(col("text"))
    Tables(s, dir, "documents")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(toks).cast("long")).as("n_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        Det.avgFix(sum(Det.fix(TextOps.qualityScore(col("text")), 4)),
          4, count(lit(1))).as("avg_quality"),
        (count(lit(1)) - countDistinct(md5(col("text")))).as("n_exact_dups"))
      .select(col("n_docs").cast("long").as("n_docs"),
        col("n_tokens"), col("n_langs").cast("long").as("n_langs"),
        col("n_sources").cast("long").as("n_sources"), col("avg_quality"),
        col("n_exact_dups").cast("long").as("n_exact_dups"))
  }

  // Exact-substring duplication profile — the ExactSubstr flavor of dedup
  // (Lee et al. 2022): a token is "duplicated" when it sits inside an
  // 8-token span that appears anywhere else in the corpus. The full
  // suffix-array construction is overkill at fixed span length; sliding
  // shingles WITH POSITIONS give the same coverage set. Scale shape:
  // shingles hash to 8-byte keys before the frequency count (text never
  // shuffles), coverage explodes only the DUPLICATED occurrences (rare in
  // clean corpora), and everything partial-aggregates. The profile is the
  // gate a pipeline uses to route docs to span-cutting.
  q("llm_dedup_span_profile",
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
      |  WHERE len(string_split(text, ' ')) >= 8
      |), sh AS (
      |  SELECT doc_id, pos, array_to_string(tk[pos+1:pos+8], ' ') AS sg
      |  FROM (SELECT doc_id, tk, unnest(range(0, len(tk) - 7)) AS pos FROM t)
      |), dup AS (SELECT sg FROM sh GROUP BY sg HAVING COUNT(*) > 1),
      |cov AS (
      |  SELECT DISTINCT doc_id, unnest(range(pos, pos + 8)) AS tok
      |  FROM sh JOIN dup USING (sg)
      |), c AS (SELECT doc_id, COUNT(*) AS n_dup FROM cov GROUP BY doc_id)
      |SELECT t.doc_id, CAST(len(tk) AS INT) AS n_tokens,
      |  CAST(coalesce(n_dup, 0) AS INT) AS n_dup_tokens,
      |  round(CAST(coalesce(n_dup, 0) AS DOUBLE) / len(tk), 4) AS dup_frac
      |FROM t LEFT JOIN c USING (doc_id)
      |ORDER BY t.doc_id""") { (s, dir) =>
    val t = fan(fan(Tables(s, dir, "documents").select(col("doc_id"), col("text")))
        .select(col("doc_id"), TextOps.tokens(col("text")).as("tk")))
      .filter(size(col("tk")) >= 8)
      .transform(PlanMemo.pin) // reused: shingles + final sizes
    val sh = t.select(col("doc_id"),
        posexplode(TextOps.shingles(col("tk"), 8)))
      .select(col("doc_id"), col("pos"), xxhash64(col("col")).as("h"))
      .transform(PlanMemo.pin) // reused: dup count + coverage join
    val dup = sh.groupBy("h").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select("h")
    val cov = sh.join(dup, "h")
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + 7)).as("tok"))
      .distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup"))
    t.join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("tk")).as("n_tokens"),
        coalesce(col("n_dup"), lit(0L)).cast("int").as("n_dup_tokens"),
        round(coalesce(col("n_dup"), lit(0L)).cast("double") / size(col("tk")), 4)
          .as("dup_frac"))
      .orderBy("doc_id")
  }

  // Matryoshka truncation audit — modern embedding models (MRL-trained)
  // are served truncated to a prefix of their dimensions; this measures
  // what truncation keeps: energy retained by the 16- and 32-dim prefixes
  // and the renormalized leading component. Per-row array math, scalars
  // out (double→string array formatting is an engine seam; scalar doubles
  // after round(4) are not). At serving scale this is the pre-flight check
  // before swapping a cheaper truncated index in.
  q("emb_matryoshka",
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |n AS (
      |  SELECT vec_id,
      |    list_reduce(list_prepend(0.0, list_transform(e, x -> x*x)), (x, y) -> x + y) AS nf,
      |    list_reduce(list_prepend(0.0, list_transform(e[1:16], x -> x*x)), (x, y) -> x + y) AS n16,
      |    list_reduce(list_prepend(0.0, list_transform(e[1:32], x -> x*x)), (x, y) -> x + y) AS n32,
      |    e[1] AS e1
      |  FROM v
      |)
      |SELECT vec_id, round(n16 / nf, 4) AS retained_16,
      |  round(n32 / nf, 4) AS retained_32,
      |  round(e1 / sqrt(n16), 4) AS lead_renorm_16
      |FROM n ORDER BY vec_id""") { (s, dir) =>
    def ssq(c: org.apache.spark.sql.Column) =
      aggregate(transform(c, x => x * x), lit(0.0), (a, x) => a + x)
    val e = Sim.asDouble(col("embedding"))
    Tables(s, dir, "embeddings")
      .select(col("vec_id"), ssq(e).as("nf"),
        ssq(slice(e, 1, 16)).as("n16"), ssq(slice(e, 1, 32)).as("n32"),
        element_at(e, 1).as("e1"))
      .select(col("vec_id"),
        round(col("n16") / col("nf"), 4).as("retained_16"),
        round(col("n32") / col("nf"), 4).as("retained_32"),
        round(col("e1") / sqrt(col("n16")), 4).as("lead_renorm_16"))
      .orderBy("vec_id")
  }

  // Binary (sign-bit) quantization: 64 dims → two 32-bit packed words,
  // 512× smaller than float32 — the memory layout behind binary-embedding
  // retrieval (Hamming distance over packed words approximates angle).
  // Pure integer folds, bit-identical anywhere; bit_count is the popcount
  // both engines share. Two half-words instead of one long because
  // DuckDB's checked BIGINT shift overflows at bit 63 — shifts stay ≤ 31.
  q("emb_binary_quantize",
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |w AS (
      |  SELECT vec_id,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(range(1, least(len(e), 32) + 1),
      |        i -> CASE WHEN e[i] > 0 THEN (CAST(1 AS BIGINT) << (i - 1))
      |                  ELSE CAST(0 AS BIGINT) END)),
      |      (x, y) -> x | y) AS word_lo,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(range(33, len(e) + 1),
      |        i -> CASE WHEN e[i] > 0 THEN (CAST(1 AS BIGINT) << (i - 33))
      |                  ELSE CAST(0 AS BIGINT) END)),
      |      (x, y) -> x | y) AS word_hi
      |  FROM v
      |)
      |SELECT vec_id, word_lo, word_hi,
      |  CAST(bit_count(word_lo) + bit_count(word_hi) AS INT) AS n_pos
      |FROM w ORDER BY vec_id""") { (s, dir) =>
    val e = Sim.asDouble(col("embedding"))
    // indices come from FILTERING the ascending 1..n sequence — Spark's
    // sequence(hi, lo) turns DESCENDING when the range is empty, so
    // sequence(33, size) on a <33-dim vector would walk out of bounds
    def pack(from: Int, until: Int) = aggregate(
      filter(sequence(lit(1), size(e)),
        i => i >= from && i < lit(until)),
      lit(0L),
      (acc, i) => when(element_at(e, i) > 0,
        acc.bitwiseOR(call_function("shiftleft", lit(1L),
          (i - lit(from)).cast("int")))).otherwise(acc))
    Tables(s, dir, "embeddings")
      .select(col("vec_id"),
        pack(1, 33).as("word_lo"),
        pack(33, 65).as("word_hi"))
      .select(col("vec_id"), col("word_lo"), col("word_hi"),
        (bit_count(col("word_lo")) + bit_count(col("word_hi")))
          .cast("int").as("n_pos"))
      .orderBy("vec_id")
  }

  // Bigram language-model scoring — the step up from the unigram LM gate
  // (text_lm_score): per-doc mean negative log-likelihood under an
  // add-one-smoothed corpus bigram model, the classic cheap perplexity
  // proxy for fluency filtering. NLL per bigram = ln(C(w1)+V) − ln(C12+1):
  // both ln arguments are INTEGERS, so fixed-point ln is cross-engine-safe
  // (Det.lnFix), and the per-doc mean is an exact BIGINT sum → one double
  // division (§5.4 P2). Scale shape: bigram and head-token collapse to
  // 8-byte xxhash64 keys AT THE EXPLODE, so the two count shuffles and the
  // joins back move longs, never strings (the llm_decontaminate precedent
  // — the oracle counts raw strings; equality holds modulo 64-bit
  // collisions, negligible and documented there). V is a 1-row broadcast.
  q("text_lm_bigram",
    s"""WITH t AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents
      |  WHERE len(string_split(text, ' ')) >= 2
      |), bg AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(tk)),
      |    i -> tk[i] || ' ' || tk[i+1])) AS b
      |  FROM t
      |), cb AS (SELECT b, COUNT(*) AS c12 FROM bg GROUP BY b),
      |cu AS (SELECT string_split(b, ' ')[1] AS w1, COUNT(*) AS c1
      |       FROM bg GROUP BY 1),
      |vv AS (SELECT COUNT(DISTINCT w) AS v
      |       FROM (SELECT unnest(tk) AS w FROM t))
      |SELECT doc_id, CAST(COUNT(*) AS INT) AS n_bigrams,
      |  ${Det.oAvgOfSumFix(
           s"SUM(${Det.oLnFix("c1 + v", 6)} - ${Det.oLnFix("c12 + 1", 6)})",
           6)} AS nll
      |FROM bg JOIN cb USING (b)
      |JOIN cu ON string_split(b, ' ')[1] = cu.w1
      |CROSS JOIN vv
      |GROUP BY doc_id
      |ORDER BY doc_id""") { (s, dir) =>
    val t = fan(fan(Tables(s, dir, "documents").select(col("doc_id"), col("text")))
        .select(col("doc_id"), TextOps.tokens(lower(col("text"))).as("tk")))
      .filter(size(col("tk")) >= 2)
      .transform(PlanMemo.pin)
    // strings die here: only (doc_id, hash(bigram), hash(head)) shuffles
    val bg = t.select(col("doc_id"), explode(TextOps.shingles(col("tk"), 2)).as("b"))
      .select(col("doc_id"), xxhash64(col("b")).as("hb"),
        xxhash64(element_at(split(col("b"), " "), 1)).as("hw"))
      .transform(PlanMemo.pin) // reused: both counts + per-doc join
    val cb = bg.groupBy("hb").agg(count(lit(1)).as("c12"))
    val cu = bg.groupBy("hw").agg(count(lit(1)).as("c1"))
    val v = t.select(explode(col("tk")).as("w"))
      .agg(countDistinct(xxhash64(col("w"))).as("v"))
    bg.join(cb, "hb")
      .join(cu, "hw")
      .crossJoin(broadcast(v))
      .select(col("doc_id"),
        (Det.lnFix(col("c1") + col("v"), 6) - Det.lnFix(col("c12") + 1, 6)).as("nll6"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_bigrams"),
        Det.avgFix(sum(col("nll6")), 6, count(lit(1))).as("nll"))
      .orderBy("doc_id")
  }

  // Robust outlier detection: per-event-type median absolute deviation.
  // Z-scores (dq_outlier_zscore) break when the contamination inflates the
  // stddev; MAD's 50% breakdown point is the production-monitoring
  // standard. Values go through integer cents first so both medians
  // interpolate on exact .0/.5 grid points (bit-identical across engines —
  // raw-double median interpolation is an engine-formula seam); the robust
  // z itself is per-row double math. Two grouped medians + two broadcast
  // joins of a #event_types-row frame — nothing big moves twice.
  q("events_anomaly_mad",
    """WITH v AS (
      |  SELECT event_id, event_type,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc
      |  FROM events
      |), m AS (SELECT event_type, median(vc) AS med FROM v GROUP BY event_type),
      |d AS (
      |  SELECT event_type, median(abs(vc - med)) AS mad
      |  FROM v JOIN m USING (event_type) GROUP BY event_type
      |)
      |SELECT event_id, event_type, CAST(vc AS DOUBLE) / 100 AS value,
      |  round(abs(vc - med) / (1.4826 * mad), 4) AS robust_z
      |FROM v JOIN m USING (event_type) JOIN d USING (event_type)
      |WHERE mad > 0 AND abs(vc - med) > 3 * 1.4826 * mad
      |ORDER BY event_id""") { (s, dir) =>
    val v = Tables(s, dir, "events")
      .select(col("event_id"), col("event_type"),
        Det.fix(col("value"), 2).cast("long").as("vc"))
    val m = v.groupBy("event_type").agg(median(col("vc")).as("med"))
    val withMed = v.join(broadcast(m), "event_type")
    val d = withMed.groupBy("event_type")
      .agg(median(abs(col("vc") - col("med"))).as("mad"))
    withMed.join(broadcast(d), "event_type")
      .filter(col("mad") > 0 &&
        abs(col("vc") - col("med")) > lit(3) * lit(1.4826) * col("mad"))
      .select(col("event_id"), col("event_type"),
        (col("vc").cast("double") / 100).as("value"),
        round(abs(col("vc") - col("med")) / (lit(1.4826) * col("mad")), 4).as("robust_z"))
      .orderBy("event_id")
  }

  // Quality-weighted importance sampling: within each quality stratum keep
  // the top floor(stratum_rate · n) documents by md5 rank — deterministic
  // "coin flips" (the md5 order is the uniform; same idiom as
  // sample_deterministic / llm_domain_mix), sampling rate proportional to
  // quality. The DCLM/FineWeb-style soft gate: instead of a hard quality
  // cutoff, low-quality strata still contribute a thinned sample. The rank
  // runs through the two-phase block prefix sum (ops/Sampling →
  // BlockWindow), so parallelism is the shuffle width, not the 10-stratum
  // count — the oracle's plain window is the semantic spec, not the plan.
  q("llm_importance_sample",
    s"""WITH scored AS (
      |  SELECT doc_id,
      |    round(
      |      least(CAST(length(text) AS DOUBLE) / 200, 1.0) * 0.3
      |      + (1.0 - CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
      |               / length(text)) * 0.3
      |      + (CAST(len(list_intersect(string_split(lower(text), ' '),
      |           [$oracleStopList])) AS DOUBLE) / len(string_split(text, ' '))) * 0.4,
      |    4) AS q
      |  FROM documents
      |), b AS (
      |  SELECT doc_id, q, CAST(floor(q * 10) AS INT) AS qb,
      |    row_number() OVER (PARTITION BY CAST(floor(q * 10) AS INT)
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk,
      |    COUNT(*) OVER (PARTITION BY CAST(floor(q * 10) AS INT)) AS n
      |  FROM scored
      |)
      |SELECT doc_id, q AS quality FROM b
      |WHERE rk <= floor(CAST(qb AS DOUBLE) / 10 * n + 0.5)
      |ORDER BY doc_id""") { (s, dir) =>
    graft.ops.Sampling.importanceSample(
        Tables(s, dir, "documents").select("doc_id", "text"),
        "text", "doc_id", qualityOut = "quality")
      .select(col("doc_id"), col("quality"))
      .orderBy("doc_id")
  }

  // BPE tokenizer training — the merge table (round, pair, freq) learned
  // over the corpus vocabulary. Oracle: the 8 argmax rounds unroll into 8
  // CTE blocks (the same device that promoted emb_kmeans / graph_pagerank
  // from the no-oracle pool). The greedy left-to-right non-overlapping
  // merge application has an exact string form: join the symbol list with
  // DOUBLE spaces, wrap in single spaces, and replace ' l  r ' with
  // ' lr ' — the single trailing space of one match is never the leading
  // boundary of the next (that's the second separator space), so plain
  // non-overlapping replace() reproduces the skip-flag fold exactly
  // ('a a a a' → 'aa aa', not 'aa a a'). Symbols contain no spaces, so
  // boundary-anchored patterns can't match mid-symbol. Hand-checkable
  // reference walk stays pinned in QualitySpec. See ops/Bpe.scala for
  // the vocab-not-corpus scale argument.
  q("llm_bpe_train", BpeOracle.trainSql(8)) { (s, dir) =>
    graft.ops.Bpe.trainMerges(
      Tables(s, dir, "documents").select("text"), "text", rounds = 8)
      .orderBy("round")
  }

  // Train-then-tokenize end to end: learn 8 merges, segment every doc with
  // them, report per-doc word and subword counts. The merge table is
  // driver-side (8 rows — the same scalar-per-iteration class as the CC
  // convergence observation); segmentation runs on the distinct-word vocab
  // and docs join the (word → n_subwords) map (see Bpe.applyMerges).
  // Oracle: the full train chain (above) plus a second unrolled chain
  // applying m1..m8 in training order to the distinct-word vocab.
  q("llm_bpe_tokenize", BpeOracle.tokenizeSql(8)) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    val merges = graft.ops.BoundedCollect.rows(graft.ops.Bpe
      .trainMerges(docs.select("text"), "text", rounds = 8)
      .orderBy("round"), "llm_bpe_tokenize merge table")
      .map { r => val Array(l, rt) = r.getString(1).split(" ", 2); (l, rt) }
      .toSeq
    graft.ops.Bpe.applyMerges(docs, "text", "doc_id", merges)
      .orderBy("doc_id")
  }

  // Unigram-LM tokenizer step (SentencePiece-style) — the OTHER half of
  // subword tokenization next to the BPE pair above: BPE grows its vocab
  // bottom-up by merging; the unigram model starts from all candidate
  // substrings (len ≤ 4), scores them as 1e-6-fixed integer
  // log-probabilities, Viterbi-segments every distinct word under those
  // scores (exact BIGINT path costs, segmentation-string tiebreak), and
  // re-counts pieces from the chosen segmentations — one full E+M step,
  // reported as the top-20 pieces by re-estimated count. The oracle is
  // the same DP unrolled into one CTE block per character position
  // (UnigramOracle, the BpeOracle device). Corpus pays one word-count
  // aggregate; the DP runs on the 31-word vocab frame.
  q("llm_unigram_lm_step", UnigramOracle.sql(8, 4, 20)) { (s, dir) =>
    TextOps.unigramLmStep(Tables(s, dir, "documents"), "text")
  }

  // Linear-classifier quality gate — the fastText/DCLM-style model gate as
  // an operator: a fixed-weight linear score over the same three features
  // the heuristic quality score uses, squashed by a HARD sigmoid
  // (clamp(0.5 + z/4)) instead of exp so the score is pure rational
  // arithmetic — bit-deterministic across engines with no libm seam at
  // all. Swapping in trained weights (or a real model via a scorer UDF) is
  // a parameter change, not a plan change. Per-row codegen'd math —
  // embarrassingly parallel at any scale.
  q("llm_quality_gate",
    s"""SELECT doc_id, score FROM (
      |  SELECT doc_id,
      |    round(least(greatest(0.5 + (
      |      2.0 * least(CAST(length(text) AS DOUBLE) / 200, 1.0)
      |      - 0.5 * (1.0 - CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
      |               / length(text))
      |      + 8.0 * (CAST(len(list_intersect(string_split(lower(text), ' '),
      |           [$oracleStopList])) AS DOUBLE) / len(string_split(text, ' ')))
      |      - 1.6) / 4, 0.0), 1.0), 4) AS score
      |  FROM documents)
      |WHERE score >= 0.5
      |ORDER BY doc_id""") { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    val toks = TextOps.tokens(lower(col("text")))
    val lenSat = least(length(col("text")).cast("double") / 200, lit(1.0))
    val alpha = lit(1.0) -
      length(regexp_replace(col("text"), "[A-Za-z0-9 ]", "")).cast("double") /
        length(col("text"))
    val stop = size(array_intersect(toks,
      array(TextOps.stopwords.values.flatten.toSeq.distinct.sorted.map(lit): _*)))
      .cast("double") / size(TextOps.tokens(col("text")))
    val z = lit(2.0) * lenSat - lit(0.5) * alpha + lit(8.0) * stop - lit(1.6)
    docs.select(col("doc_id"),
        round(least(greatest(lit(0.5) + z / 4, lit(0.0)), lit(1.0)), 4).as("score"))
      .filter(col("score") >= 0.5)
      .orderBy("doc_id")
  }

  // Benford first-digit audit — the classic fabricated-data / corrupted-
  // feed detector for financial columns. The first significant digit is
  // taken from the INTEGER cents via string math (BIGINT→VARCHAR is
  // identical in both engines; ×100 shifts the decimal point without
  // touching the leading digit for these ≥ $1 prices), never from
  // floor(log10(x)) — a power-of-ten boundary there turns a last-ulp log
  // difference into an off-by-one digit. Expected Benford mass and the
  // χ² contribution are per-row closed-form doubles over the 9 digit
  // rows. One partial-aggregated shuffle on a 9-value key.
  // Class-balance report over the embedding labels — the first check
  // before any classifier/retrieval eval: per-class counts, the
  // imbalance ratio max/min, and the effective number of classes
  // exp(H) (Shannon-entropy based — 10 balanced classes → 10.0, one
  // dominant class → toward 1.0). Entropy uses the integer-argument
  // lnFix device over class counts, so the sum is exact and exp runs
  // once on a bounded argument.
  q("dq_class_balance",
    """WITH c AS (
      |  SELECT label, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM embeddings GROUP BY label
      |), m AS (
      |  SELECT CAST(SUM(n) AS BIGINT) AS nt,
      |    CAST(COUNT(*) AS BIGINT) AS n_classes,
      |    CAST(MAX(n) AS BIGINT) AS max_n, CAST(MIN(n) AS BIGINT) AS min_n,
      |    SUM(CAST(n AS HUGEINT)
      |      * CAST(floor(ln(CAST(n AS DOUBLE)) * 100000000 + 0.5) AS BIGINT))
      |      AS slnn
      |  FROM c
      |)
      |SELECT nt AS n_vectors, n_classes, max_n, min_n,
      |  CAST(floor(CAST(max_n AS DOUBLE) / min_n * 10000 + 0.5) AS DOUBLE)
      |    / 10000 AS imbalance_ratio,
      |  CAST(floor(exp(CAST(floor(ln(CAST(nt AS DOUBLE)) * 100000000 + 0.5)
      |      AS DOUBLE) / 100000000
      |    - CAST(slnn AS DOUBLE) / 100000000 / nt) * 10000 + 0.5) AS DOUBLE)
      |    / 10000 AS effective_classes
      |FROM m""") { (s, dir) =>
    val c = Tables(s, dir, "embeddings").groupBy("label")
      .agg(count(lit(1)).cast("long").as("n"))
    val m = c.agg(sum("n").cast("long").as("nt"),
      count(lit(1)).cast("long").as("n_classes"),
      max("n").cast("long").as("max_n"), min("n").cast("long").as("min_n"),
      sum(Det.wide(col("n")) * Det.lnFix(col("n"), 8)).as("slnn"))
    val h = (Det.lnFix(col("nt"), 8).cast("double") / 100000000L
      - col("slnn").cast("double") / 100000000L / col("nt"))
    m.select(col("nt").as("n_vectors"), col("n_classes"), col("max_n"),
      col("min_n"),
      Det.quant(col("max_n").cast("double") / col("min_n"), 4).as("imbalance_ratio"),
      Det.quant(exp(h), 4)
        .as("effective_classes"))
  }

  q("dq_benford",
    """WITH c AS (
      |  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      |  FROM orders
      |), d AS (
      |  SELECT substr(CAST(cents AS VARCHAR), 1, 1) AS digit, COUNT(*) AS cnt
      |  FROM c GROUP BY substr(CAST(cents AS VARCHAR), 1, 1)
      |), t AS (SELECT SUM(cnt) AS n FROM d)
      |SELECT digit, CAST(cnt AS BIGINT) AS n_obs,
      |  floor(CAST(cnt AS DOUBLE) / n * 10000 + 0.5) / 10000 AS obs_frac,
      |  floor(log10(1 + 1 / CAST(CAST(digit AS INT) AS DOUBLE)) * 10000 + 0.5)
      |    / 10000 AS exp_frac
      |FROM d, t
      |ORDER BY digit""") { (s, dir) =>
    val d = Tables(s, dir, "orders")
      .select(substring(Det.cents(col("o_totalprice")).cast("string"), 1, 1)
        .as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("cnt"))
    val t = d.groupBy().agg(sum(col("cnt")).as("n"))
    d.crossJoin(broadcast(t))
      .select(col("digit"), col("cnt").cast("long").as("n_obs"),
        Det.quant(col("cnt").cast("double") / col("n"), 4)
          .as("obs_frac"),
        Det.quant(log10(lit(1) + lit(1) / col("digit").cast("int").cast("double")),
          4).as("exp_frac"))
      .orderBy("digit")
  }

  // RAG-style chunking: overlapping token windows (size 32, stride 24 →
  // 8-token overlap) per document, the retrieval-index preprocessing step.
  // Chunk count is exact integer math (1 + ⌈(n-32)/24⌉ via integer
  // division), the window slice is engine-native list slicing, and the
  // whole operator is a per-row explode — embarrassingly parallel, no
  // shuffle until the final presentation sort.
  q("llm_chunk_overlap",
    """WITH t AS (
      |  SELECT doc_id, string_split(text, ' ') AS tk,
      |    len(string_split(text, ' ')) AS n
      |  FROM documents
      |), k AS (
      |  SELECT doc_id, tk, n, unnest(range(0,
      |    CASE WHEN n <= 32 THEN 1 ELSE (n - 9) // 24 + 1 END)) AS chunk_id
      |  FROM t
      |)
      |SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
      |  CAST(len(list_slice(tk, chunk_id * 24 + 1, chunk_id * 24 + 32)) AS INT)
      |    AS n_tok,
      |  array_to_string(list_slice(tk, chunk_id * 24 + 1, chunk_id * 24 + 32), ' ')
      |    AS chunk
      |FROM k
      |ORDER BY doc_id, chunk_id""") { (s, dir) =>
    val t = Tables(s, dir, "documents")
      .select(col("doc_id"), TextOps.tokens(col("text")).as("tk"))
      .withColumn("n", size(col("tk")))
    val k = t.withColumn("chunk_id", explode(sequence(lit(0),
      when(col("n") <= 32, lit(1))
        .otherwise(expr("(n - 9) div 24").cast("int") + 1) - 1)))
    val sl = slice(col("tk"), col("chunk_id") * 24 + 1, lit(32))
    k.select(col("doc_id"), col("chunk_id").cast("int").as("chunk_id"),
        size(sl).cast("int").as("n_tok"),
        array_join(sl, " ").as("chunk"))
      .orderBy("doc_id", "chunk_id")
  }

  // Crawl-frontier URL dedup: canonicalize (lowercase scheme+host, strip
  // default port / www / fragment / tracking params, sort surviving query
  // params) then collapse to one keeper per canonical URL. The URL is
  // synthesized deterministically from the documents fixture (no URL
  // column exists) with deliberate case/port/utm noise; canonicalization
  // itself is the real operator — pure per-row string/array built-ins
  // (split_part / higher-order filter / array_sort), no regex backrefs
  // (Java `$1` vs RE2 `\1` would fork the engines). Group-by on the
  // canonical key is the only shuffle.
  q("llm_url_dedup",
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
      |)
      |SELECT base || CASE WHEN cq = '' THEN '' ELSE '?' || cq END AS canon,
      |  CAST(COUNT(*) AS BIGINT) AS n_urls, min(doc_id) AS keeper
      |FROM c
      |GROUP BY base || CASE WHEN cq = '' THEN '' ELSE '?' || cq END
      |ORDER BY canon""") { (s, dir) =>
    val u = Tables(s, dir, "documents")
      .select(col("doc_id"), concat(lit("HTTPS://WWW."), col("source"),
        lit(".Example.COM:443/d/"), (col("doc_id") % 7).cast("string"),
        lit("?utm_campaign=c"), (col("doc_id") % 3).cast("string"),
        lit("&id="), (col("doc_id") % 50).cast("string"),
        lit("&ref=feed#top")).as("url"))
    u.select(TextOps.urlCanon(col("url")).as("canon"), col("doc_id"))
      .groupBy("canon")
      .agg(count(lit(1)).cast("long").as("n_urls"), min("doc_id").as("keeper"))
      .orderBy("canon")
  }

  // Lloyd k-means (k = 8, 3 iterations) over the embeddings — semantic
  // clustering for corpus curation (SemDeDup-style pruning buckets). Fully
  // ORACLE-BACKED, which iterative float clustering normally can't be:
  //  - distances are Σ floor((e-m)²·10⁸) — exact BIGINT sums, so argmin
  //    (with cid tiebreak) is integer-deterministic in both engines;
  //  - recomputed centroids quantize to 6 dp via integer means, so the
  //    next iteration's inputs are bit-identical cross-engine;
  //  - seeds = the k lowest vec_ids (no RNG).
  // The oracle unrolls the 3 iterations as CTE blocks; Spark loops,
  // re-broadcasting the k×d centroid frame each round (512 rows — the
  // same tiny-frame BSP shape as PageRank). The per-dim explode is
  // persisted once and reused by all three assignment joins; the argmin
  // window partitions on the high-cardinality vec_id, never globally.
  // At 100 TB: each iteration is one broadcast join + two shuffles
  // (vec-level argmin, (cid,dim)-level means) — no all-pairs anything.
  // Shared CTE chain for the k-means family (emb_kmeans,
  // emb_centroid_outliers): seeds → 3 unrolled assign/recompute rounds →
  // final assignment p3. One string so the two oracles cannot drift.
  private val kmeansCtes: String =
    """WITH dims AS (
      |  SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
      |    unnest(CAST(embedding AS DOUBLE[])) AS e
      |  FROM embeddings
      |), c0 AS (
      |  SELECT vec_id AS cid, dim, e AS m FROM dims
      |  WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 8)
      |), a1 AS (
      |  SELECT d.vec_id, c.cid,
      |    SUM(CAST(floor((d.e - c.m) * (d.e - c.m) * 100000000 + 0.5) AS BIGINT)) AS d2
      |  FROM dims d JOIN c0 c ON d.dim = c.dim GROUP BY d.vec_id, c.cid
      |), p1 AS (
      |  SELECT vec_id, cid, d2 FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      |    FROM a1) WHERE rn = 1
      |), c1 AS (
      |  SELECT p.cid, d.dim,
      |    floor(CAST(SUM(CAST(floor(d.e * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
      |          / COUNT(*) + 0.5) / 1000000 AS m
      |  FROM p1 p JOIN dims d ON p.vec_id = d.vec_id GROUP BY p.cid, d.dim
      |), a2 AS (
      |  SELECT d.vec_id, c.cid,
      |    SUM(CAST(floor((d.e - c.m) * (d.e - c.m) * 100000000 + 0.5) AS BIGINT)) AS d2
      |  FROM dims d JOIN c1 c ON d.dim = c.dim GROUP BY d.vec_id, c.cid
      |), p2 AS (
      |  SELECT vec_id, cid, d2 FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      |    FROM a2) WHERE rn = 1
      |), c2 AS (
      |  SELECT p.cid, d.dim,
      |    floor(CAST(SUM(CAST(floor(d.e * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
      |          / COUNT(*) + 0.5) / 1000000 AS m
      |  FROM p2 p JOIN dims d ON p.vec_id = d.vec_id GROUP BY p.cid, d.dim
      |), a3 AS (
      |  SELECT d.vec_id, c.cid,
      |    SUM(CAST(floor((d.e - c.m) * (d.e - c.m) * 100000000 + 0.5) AS BIGINT)) AS d2
      |  FROM dims d JOIN c2 c ON d.dim = c.dim GROUP BY d.vec_id, c.cid
      |), p3 AS (
      |  SELECT vec_id, cid, d2 FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      |    FROM a3) WHERE rn = 1
      |)""".stripMargin

  q("emb_kmeans",
    s"""$kmeansCtes
      |SELECT cid, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(d2) AS DOUBLE) / 100000000 AS inertia
      |FROM p3 GROUP BY cid
      |ORDER BY cid""") { (s, dir) =>
    graft.ops.Linalg
      .kmeansAssign(Tables(s, dir, "embeddings"), "vec_id", "embedding", 8, 3)
      .groupBy("cid")
      .agg(count(lit(1)).cast("long").as("n"),
        (sum("d2").cast("double") / 100000000L).as("inertia"))
      .orderBy("cid")
  }

  // Johnson–Lindenstrauss random projection (64 → 16 dims) with
  // hash-derived ±1 signs — the cheap dimensionality reduction next to
  // the PCA pair: no training pass, the "matrix" is a closed-form sign
  // function s(d,j) = ±1 from integer arithmetic (replayed exactly in
  // the oracle — no RNG state to ship). The graded readout is the JL
  // property itself: the distribution of projected/original pairwise
  // distance ratios (×1/√k) over the 1 770 sample pairs, bucketed at
  // 0.1. Exactness: components fix to 1e-6 BIGINTs so projections and
  // both squared distances are exact integer algebra; the ratio is one
  // closed-form double. At 100 TB the projection is a per-row map (no
  // shuffle); the distortion check stays sample-sized by construction.
  q("emb_random_projection",
    """WITH dims AS (
      |  SELECT vec_id, generate_subscripts(embedding, 1) AS j,
      |    CAST(floor(unnest(CAST(embedding AS DOUBLE[])) * 1000000 + 0.5)
      |      AS BIGINT) AS x6
      |  FROM embeddings WHERE vec_id < 60
      |), proj AS (
      |  SELECT vec_id, d,
      |    CAST(SUM(CASE WHEN ((d * 2654435761 + j * 40503) // 65536) % 2 = 0
      |                  THEN x6 ELSE -x6 END) AS BIGINT) AS y6
      |  FROM dims CROSS JOIN (SELECT unnest(range(0, 16)) AS d)
      |  GROUP BY vec_id, d
      |), po AS (
      |  SELECT a.vec_id AS ia, b.vec_id AS ib,
      |    CAST(SUM((a.x6 - b.x6) * (a.x6 - b.x6)) AS BIGINT) AS do2
      |  FROM dims a JOIN dims b ON a.j = b.j AND a.vec_id < b.vec_id
      |  GROUP BY 1, 2
      |), pp AS (
      |  SELECT a.vec_id AS ia, b.vec_id AS ib,
      |    CAST(SUM((a.y6 - b.y6) * (a.y6 - b.y6)) AS BIGINT) AS dp2
      |  FROM proj a JOIN proj b ON a.d = b.d AND a.vec_id < b.vec_id
      |  GROUP BY 1, 2
      |), r AS (
      |  SELECT po.ia, po.ib,
      |    sqrt(CAST(dp2 AS DOUBLE) / 16 / CAST(do2 AS DOUBLE)) AS ratio
      |  FROM po JOIN pp ON po.ia = pp.ia AND po.ib = pp.ib
      |  WHERE do2 > 0
      |)
      |SELECT CAST(floor(ratio * 10) AS BIGINT) AS bucket,
      |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |  floor(MIN(ratio) * 10000 + 0.5) / 10000 AS min_ratio,
      |  floor(MAX(ratio) * 10000 + 0.5) / 10000 AS max_ratio
      |FROM r GROUP BY 1 ORDER BY 1""") { (s, dir) =>
    val dims = graft.ops.Linalg
      .dims(Tables(s, dir, "embeddings").filter(col("vec_id") < 60),
        "vec_id", "embedding")
      .select(col("vec_id"), col("dim").as("j"),
        Det.fix(col("e"), 6).cast("long").as("x6"))
    // sign = a HIGH bit of the mixed product: taking the low bit of
    // (odd*d + odd*j) degenerates to parity(d + j) — a stripe pattern,
    // not a random matrix (caught by the JL-concentration spec)
    val sign = when(floor((col("d") * lit(2654435761L)
      + col("j") * lit(40503L)) / 65536) % 2 === 0, col("x6"))
      .otherwise(-col("x6"))
    val proj = dims
      .crossJoin(broadcast(
        s.range(0, 16).select(col("id").cast("long").as("d"))))
      .groupBy("vec_id", "d").agg(sum(sign).cast("long").as("y6"))
    def pairDist(df: org.apache.spark.sql.DataFrame,
                 key: String, v: String, out: String) = {
      val a = df.select(col("vec_id").as("ia"), col(key).as("k"),
        col(v).as("va"))
      val b = df.select(col("vec_id").as("ib"), col(key).as("k"),
        col(v).as("vb"))
      a.join(b, Seq("k")).filter(col("ia") < col("ib"))
        .groupBy("ia", "ib")
        .agg(sum((col("va") - col("vb")) * (col("va") - col("vb")))
          .cast("long").as(out))
    }
    val po = pairDist(dims, "j", "x6", "do2")
    val pp = pairDist(proj, "d", "y6", "dp2")
    val r = po.join(pp, Seq("ia", "ib")).filter(col("do2") > 0)
      .select(sqrt(col("dp2").cast("double") / 16
        / col("do2").cast("double")).as("ratio"))
    r.groupBy(floor(col("ratio") * 10).cast("long").as("bucket"))
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        Det.quant(min("ratio"), 4).as("min_ratio"),
        Det.quant(max("ratio"), 4).as("max_ratio"))
      .orderBy("bucket")
  }

  // Matryoshka (MRL) truncation eval: recall@10 of first-16-dims cosine
  // search against the full-64-dim ground truth, per probe — the
  // measurement that decides "search at d/4, rerank at d" for
  // nested-representation embeddings. Both rankings reuse the
  // sim_cosine_topk device (left-fold dot replayed by the oracle's
  // list_reduce, 4-dp-fixed sims, id tiebreak), the truncated side over
  // slice(embedding, 1, 16). Scale: truncation is a per-row map (and on
  // a d-major layout, a narrower read); the eval is probe-bounded —
  // corpus size only enters through the two top-k scans, which share
  // cosineTopK's LSH/IVF upgrade seam.
  q("emb_matryoshka_recall",
    """WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |), pr AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id < 20),
      |sf AS (
      |  SELECT probe_id, vec_id,
      |    round(
      |      list_reduce(list_prepend(0.0, list_transform(list_zip(pv, v),
      |        z -> z[1] * z[2])), (a, b) -> a + b)
      |      / (sqrt(list_reduce(list_prepend(0.0, list_transform(pv, x -> x*x)), (a, b) -> a + b))
      |       * sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x*x)), (a, b) -> a + b))),
      |    4) AS sim
      |  FROM pr CROSS JOIN e WHERE probe_id <> vec_id
      |), tf AS (
      |  SELECT probe_id, vec_id FROM (
      |    SELECT *, row_number() OVER (PARTITION BY probe_id
      |                                 ORDER BY sim DESC, vec_id) AS rn FROM sf)
      |  WHERE rn <= 10
      |), st AS (
      |  SELECT probe_id, vec_id,
      |    round(
      |      list_reduce(list_prepend(0.0, list_transform(list_zip(pv[1:16], v[1:16]),
      |        z -> z[1] * z[2])), (a, b) -> a + b)
      |      / (sqrt(list_reduce(list_prepend(0.0, list_transform(pv[1:16], x -> x*x)), (a, b) -> a + b))
      |       * sqrt(list_reduce(list_prepend(0.0, list_transform(v[1:16], x -> x*x)), (a, b) -> a + b))),
      |    4) AS sim
      |  FROM pr CROSS JOIN e WHERE probe_id <> vec_id
      |), tt AS (
      |  SELECT probe_id, vec_id FROM (
      |    SELECT *, row_number() OVER (PARTITION BY probe_id
      |                                 ORDER BY sim DESC, vec_id) AS rn FROM st)
      |  WHERE rn <= 10
      |), ov AS (
      |  SELECT probe_id, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM tf JOIN tt USING (probe_id, vec_id) GROUP BY probe_id
      |)
      |SELECT pr.probe_id, COALESCE(ov.n, 0) AS n_overlap,
      |  CAST(COALESCE(ov.n, 0) AS DOUBLE) / 10 AS recall_at_10
      |FROM pr LEFT JOIN ov USING (probe_id)
      |ORDER BY probe_id""") { (s, dir) =>
    val emb = Tables(s, dir, "embeddings")
    val embT = emb.select(col("vec_id"),
      slice(col("embedding"), 1, 16).as("embedding"))
    val full = Sim.cosineTopK(emb.filter(col("vec_id") < 20), emb, k = 10)
      .select("probe_id", "vec_id")
    val trunc = Sim.cosineTopK(embT.filter(col("vec_id") < 20), embT, k = 10)
      .select("probe_id", "vec_id")
    val ov = full.join(trunc, Seq("probe_id", "vec_id"))
      .groupBy("probe_id").agg(count(lit(1)).cast("long").as("n"))
    emb.filter(col("vec_id") < 20).select(col("vec_id").as("probe_id"))
      .join(ov, Seq("probe_id"), "left")
      .select(col("probe_id"),
        coalesce(col("n"), lit(0L)).as("n_overlap"),
        (coalesce(col("n"), lit(0L)).cast("double") / 10).as("recall_at_10"))
      .orderBy("probe_id")
  }

  // PQ sub-codebook TRAINING (Lloyd, per-subspace): the trained-codebook
  // upgrade seam Sim.pqEncode documents for its stride seeds, graded as a
  // per-(iter, subspace) convergence curve — occupied codes + mean
  // quantization distortion. Same integer-exact devices as emb_kmeans
  // (BIGINT 1e-8 distances, 6-dp integer-mean centroid updates, lowest-id
  // seeds), applied with (subq, code) keys; the oracle unrolls both
  // rounds. m=8 subspaces × k=16 codes over the 64-dim fixtures.
  q("emb_pq_train_kmeans",
    """WITH dims AS (
      |  SELECT vec_id, dim, ((dim - 1) // 8) AS subq, e FROM (
      |    SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
      |      unnest(CAST(embedding AS DOUBLE[])) AS e
      |    FROM embeddings)
      |), seeds AS (
      |  SELECT vec_id AS sid, CAST(row_number() OVER (ORDER BY vec_id) AS INT) AS code
      |  FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 16)
      |), c0 AS (
      |  SELECT d.subq, s.code, d.dim, d.e AS mm
      |  FROM dims d JOIN seeds s ON d.vec_id = s.sid
      |), a1 AS (
      |  SELECT d.vec_id, d.subq, c.code,
      |    SUM(CAST(floor((d.e - c.mm) * (d.e - c.mm) * 100000000 + 0.5) AS BIGINT)) AS d2
      |  FROM dims d JOIN c0 c ON d.subq = c.subq AND d.dim = c.dim
      |  GROUP BY 1, 2, 3
      |), p1 AS (
      |  SELECT vec_id, subq, code, d2 FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id, subq
      |                                 ORDER BY d2, code) AS rn
      |    FROM a1) WHERE rn = 1
      |), c1 AS (
      |  SELECT p.subq, p.code, d.dim,
      |    floor(CAST(SUM(CAST(floor(d.e * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
      |          / COUNT(*) + 0.5) / 1000000 AS mm
      |  FROM p1 p JOIN dims d ON p.vec_id = d.vec_id AND p.subq = d.subq
      |  GROUP BY 1, 2, 3
      |), a2 AS (
      |  SELECT d.vec_id, d.subq, c.code,
      |    SUM(CAST(floor((d.e - c.mm) * (d.e - c.mm) * 100000000 + 0.5) AS BIGINT)) AS d2
      |  FROM dims d JOIN c1 c ON d.subq = c.subq AND d.dim = c.dim
      |  GROUP BY 1, 2, 3
      |), p2 AS (
      |  SELECT vec_id, subq, code, d2 FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id, subq
      |                                 ORDER BY d2, code) AS rn
      |    FROM a2) WHERE rn = 1
      |), r AS (
      |  SELECT 1 AS iter, subq, COUNT(DISTINCT code) AS n_codes,
      |    CAST(SUM(d2) AS DOUBLE) / 100000000 / COUNT(*) AS mse
      |  FROM p1 GROUP BY subq
      |  UNION ALL
      |  SELECT 2 AS iter, subq, COUNT(DISTINCT code) AS n_codes,
      |    CAST(SUM(d2) AS DOUBLE) / 100000000 / COUNT(*) AS mse
      |  FROM p2 GROUP BY subq
      |)
      |SELECT CAST(iter AS INT) AS iter, CAST(subq AS INT) AS subq,
      |  n_codes, mse
      |FROM r ORDER BY iter, subq""") { (s, dir) =>
    graft.ops.Linalg
      .pqTrainKmeans(Tables(s, dir, "embeddings"), "vec_id", "embedding",
        m = 8, k = 16, iters = 2)
      .select(col("iter"), col("subq").cast("int").as("subq"),
        col("n_codes"), col("mse"))
      .orderBy("iter", "subq")
  }

  // Topic-proxy cluster profile: k-means clusters of the embedding space
  // joined back to the documents they index (vec_id ≡ doc_id in the
  // fixtures — the standard "embedding row per document" layout), with
  // each cluster's top-2 sources and their share. The SemDeDup-style
  // "what IS this cluster" readout. Rides the memoized assignment; the
  // profile is two hash aggregates + a WindowGroupLimit-prunable top-2.
  q("llm_topic_report",
    s"""$kmeansCtes,
      |j AS (
      |  SELECT p3.cid, d.source FROM p3
      |  JOIN documents d ON p3.vec_id = d.doc_id
      |), cs AS (
      |  SELECT cid, source, COUNT(*) AS n FROM j GROUP BY cid, source
      |), tot AS (SELECT cid, SUM(n) AS cn FROM cs GROUP BY cid),
      |rk AS (
      |  SELECT cs.cid, cs.source, cs.n, tot.cn,
      |    row_number() OVER (PARTITION BY cs.cid
      |                       ORDER BY cs.n DESC, cs.source) AS rn
      |  FROM cs JOIN tot ON cs.cid = tot.cid
      |)
      |SELECT cid, CAST(rn AS BIGINT) AS rank, source,
      |  CAST(n AS BIGINT) AS n_docs,
      |  floor(CAST(n AS DOUBLE) / cn * 1000000 + 0.5) / 1000000 AS share
      |FROM rk WHERE rn <= 2 ORDER BY cid, rank""") { (s, dir) =>
    val asg = graft.ops.Linalg
      .kmeansAssign(Tables(s, dir, "embeddings"), "vec_id", "embedding", 8, 3)
    val j = asg.join(Tables(s, dir, "documents"),
        col("vec_id") === col("doc_id"))
      .select(col("cid"), col("source"))
    val cs = j.groupBy("cid", "source").agg(count(lit(1)).as("n"))
    val tot = cs.groupBy("cid").agg(sum("n").as("cn"))
    val w = Window.partitionBy("cid").orderBy(col("n").desc, col("source"))
    cs.join(broadcast(tot), "cid")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .select(col("cid"), col("rn").cast("long").as("rank"), col("source"),
        col("n").cast("long").as("n_docs"),
        Det.quant(col("n").cast("double") / col("cn"), 6).as("share"))
      .orderBy("cid", "rank")
  }

  // Semantic outliers: vectors unusually FAR from their own k-means
  // centroid — the curation pass that flags noise/garbled docs after
  // SemDeDup-style clustering. Rides the memoized assignment (d2 is
  // already an exact BIGINT in 1e-8 units); per-cluster moments accumulate
  // as DECIMAL(38,0) / HUGEINT (d2² ≈ 4e16 per row — an int64 SUM wraps
  // within ~200 rows, P16's exactness note), z is one closed-form double,
  // filtered UNQUANTIZED on both engines (P14). One broadcast join of the
  // 8-row moment frame back onto the assignment.
  q("emb_centroid_outliers",
    s"""$kmeansCtes,
      |st AS (
      |  SELECT cid, COUNT(*) AS n, SUM(d2) AS s, SUM(d2 * d2) AS s2
      |  FROM p3 GROUP BY cid
      |)
      |SELECT vec_id, p3.cid, CAST(d2 AS DOUBLE) / 100000000 AS dist2,
      |  floor((d2 - CAST(s AS DOUBLE) / n)
      |        / sqrt((CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
      |               / (n - 1)) * 10000 + 0.5) / 10000 AS z
      |FROM p3 JOIN st ON p3.cid = st.cid
      |WHERE (d2 - CAST(s AS DOUBLE) / n)
      |      / sqrt((CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
      |             / (n - 1)) > 2
      |ORDER BY vec_id""") { (s, dir) =>
    val a = graft.ops.Linalg
      .kmeansAssign(Tables(s, dir, "embeddings"), "vec_id", "embedding", 8, 3)
    val st = a.groupBy("cid")
      .agg(count(lit(1)).as("n"), sum(Det.wide(col("d2"))).as("s"),
        sum(Det.wide(col("d2") * col("d2"))).as("s2"))
    val z = (col("d2") - col("s").cast("double") / col("n")) /
      sqrt((col("s2").cast("double")
        - col("s").cast("double") * col("s").cast("double") / col("n"))
        / (col("n") - 1))
    a.join(broadcast(st), "cid")
      .filter(z > 2)
      .select(col("vec_id"), col("cid"),
        (col("d2").cast("double") / 100000000L).as("dist2"),
        Det.quant(z, 4).as("z"))
      .orderBy("vec_id")
  }

  // Simplified silhouette (Hruschka's centroid variant) of the k-means
  // clustering — the cluster-quality readout that separates "8 real
  // clusters" from "8 arbitrary cells": per vector, a = distance to its
  // OWN cluster's centroid, b = distance to the nearest OTHER centroid,
  // s = (b−a)/max(a,b) ∈ [−1, 1]. Centroids are recomputed FROM the
  // final assignment by the same quantized integer-mean formula (so the
  // metric scores the clustering itself, independent of k-means round
  // internals); distances reuse the exact 1e-8-unit integer d2 form, √
  // is IEEE correctly-rounded, and per-vector s quantizes at 1e-6 before
  // the per-cluster integer-mean (P2/P12). Singleton clusters score ~1
  // by construction (a ≈ 0) — the standard simplified-variant behavior.
  // Scale: rides the memoized assignment + dims explode; ONE extra
  // broadcast of the k·d centroid frame and one (vec, cid) aggregate —
  // the same per-iteration shape as k-means itself; k-row output.
  q("emb_silhouette",
    s"""$kmeansCtes,
      |c3 AS (
      |  SELECT p.cid, d.dim,
      |    floor(CAST(SUM(CAST(floor(d.e * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
      |          / COUNT(*) + 0.5) / 1000000 AS m
      |  FROM p3 p JOIN dims d ON p.vec_id = d.vec_id GROUP BY p.cid, d.dim
      |), a4 AS (
      |  SELECT d.vec_id, c.cid,
      |    SUM(CAST(floor((d.e - c.m) * (d.e - c.m) * 100000000 + 0.5) AS BIGINT)) AS d2
      |  FROM dims d JOIN c3 c ON d.dim = c.dim GROUP BY d.vec_id, c.cid
      |), ab AS (
      |  SELECT a4.vec_id, p3.cid,
      |    MAX(CASE WHEN a4.cid = p3.cid THEN a4.d2 END) AS a,
      |    MIN(CASE WHEN a4.cid <> p3.cid THEN a4.d2 END) AS b
      |  FROM a4 JOIN p3 ON a4.vec_id = p3.vec_id
      |  GROUP BY a4.vec_id, p3.cid
      |), sil AS (
      |  SELECT cid,
      |    CASE WHEN greatest(a, b) = 0 THEN 0 ELSE
      |      CAST(floor((sqrt(CAST(b AS DOUBLE)) - sqrt(CAST(a AS DOUBLE)))
      |        / greatest(sqrt(CAST(a AS DOUBLE)), sqrt(CAST(b AS DOUBLE)))
      |        * 1000000 + 0.5) AS BIGINT) END AS s6
      |  FROM ab
      |)
      |SELECT cid, CAST(COUNT(*) AS BIGINT) AS n,
      |  floor(CAST(SUM(s6) AS DOUBLE) / COUNT(*) + 0.5) / 1000000
      |    AS mean_silhouette
      |FROM sil GROUP BY cid ORDER BY cid""") { (s, dir) =>
    val emb = Tables(s, dir, "embeddings")
    val asg = graft.ops.Linalg.kmeansAssign(emb, "vec_id", "embedding", 8, 3)
    val dims = graft.ops.Linalg.dims(emb, "vec_id", "embedding")
    val c3 = asg.select(col("vec_id"), col("cid")).join(dims, "vec_id")
      .groupBy("cid", "dim")
      .agg((Det.half(sum(Det.fix(col("e"), 6)).cast("double")
        / count(lit(1))) / 1000000).as("m"))
    val a4 = dims.join(broadcast(c3.withColumnRenamed("cid", "acid")), "dim")
      .select(col("vec_id"), col("acid"),
        Det.fix((col("e") - col("m")) * (col("e") - col("m")), 8).as("dd"))
      .groupBy("vec_id", "acid").agg(sum("dd").as("d2"))
    val ab = a4.join(asg.select(col("vec_id"), col("cid")), "vec_id")
      .groupBy("vec_id", "cid")
      .agg(max(when(col("acid") === col("cid"), col("d2"))).as("a"),
        min(when(col("acid") =!= col("cid"), col("d2"))).as("b"))
    val sil = ab.select(col("cid"),
      when(greatest(col("a"), col("b")) === 0, lit(0L))
        .otherwise(Det.fix((sqrt(col("b").cast("double"))
          - sqrt(col("a").cast("double")))
          / greatest(sqrt(col("a").cast("double")),
            sqrt(col("b").cast("double"))), 6).cast("long")).as("s6"))
    sil.groupBy("cid")
      .agg(count(lit(1)).cast("long").as("n"),
        (Det.half(sum("s6").cast("double") / count(lit(1)))
          / 1000000).as("mean_silhouette"))
      .orderBy("cid")
  }

  // Referential-integrity audit across the star schema — the ETL
  // builder's classic post-load gate: for every FK edge, how many child
  // rows, how many NULL keys, how many orphans (no matching parent). One
  // left join against the DISTINCT parent keys per edge; no broadcast
  // hint — parent key sets range from 5 rows (region) to fact-scale, so
  // the plan must let AQE pick broadcast vs shuffle per edge. int32/int64
  // key-width mixes (SURVEY §1.2) widen identically in both engines.
  q("dq_referential_integrity",
    """WITH edges AS (
      |  SELECT 'customer.nation' AS rel, COUNT(*) AS n_rows,
      |    COUNT(*) FILTER (WHERE c_nationkey IS NULL) AS n_null_fk,
      |    COUNT(*) FILTER (WHERE c_nationkey IS NOT NULL AND n.n_nationkey IS NULL)
      |      AS n_orphans
      |  FROM customer c LEFT JOIN (SELECT DISTINCT n_nationkey FROM nation) n
      |    ON c.c_nationkey = n.n_nationkey
      |  UNION ALL
      |  SELECT 'lineitem.orders', COUNT(*),
      |    COUNT(*) FILTER (WHERE l_orderkey IS NULL),
      |    COUNT(*) FILTER (WHERE l_orderkey IS NOT NULL AND o.o_orderkey IS NULL)
      |  FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
      |    ON l.l_orderkey = o.o_orderkey
      |  UNION ALL
      |  SELECT 'lineitem.part', COUNT(*),
      |    COUNT(*) FILTER (WHERE l_partkey IS NULL),
      |    COUNT(*) FILTER (WHERE l_partkey IS NOT NULL AND p.p_partkey IS NULL)
      |  FROM lineitem l LEFT JOIN (SELECT DISTINCT p_partkey FROM part) p
      |    ON l.l_partkey = p.p_partkey
      |  UNION ALL
      |  SELECT 'lineitem.supplier', COUNT(*),
      |    COUNT(*) FILTER (WHERE l_suppkey IS NULL),
      |    COUNT(*) FILTER (WHERE l_suppkey IS NOT NULL AND s.s_suppkey IS NULL)
      |  FROM lineitem l LEFT JOIN (SELECT DISTINCT s_suppkey FROM supplier) s
      |    ON l.l_suppkey = s.s_suppkey
      |  UNION ALL
      |  SELECT 'nation.region', COUNT(*),
      |    COUNT(*) FILTER (WHERE n_regionkey IS NULL),
      |    COUNT(*) FILTER (WHERE n_regionkey IS NOT NULL AND r.r_regionkey IS NULL)
      |  FROM nation n LEFT JOIN (SELECT DISTINCT r_regionkey FROM region) r
      |    ON n.n_regionkey = r.r_regionkey
      |  UNION ALL
      |  SELECT 'orders.customer', COUNT(*),
      |    COUNT(*) FILTER (WHERE o_custkey IS NULL),
      |    COUNT(*) FILTER (WHERE o_custkey IS NOT NULL AND c.c_custkey IS NULL)
      |  FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
      |    ON o.o_custkey = c.c_custkey
      |  UNION ALL
      |  SELECT 'supplier.nation', COUNT(*),
      |    COUNT(*) FILTER (WHERE s_nationkey IS NULL),
      |    COUNT(*) FILTER (WHERE s_nationkey IS NOT NULL AND n.n_nationkey IS NULL)
      |  FROM supplier s LEFT JOIN (SELECT DISTINCT n_nationkey FROM nation) n
      |    ON s.s_nationkey = n.n_nationkey
      |)
      |SELECT rel, CAST(n_rows AS BIGINT) AS n_rows,
      |  CAST(n_null_fk AS BIGINT) AS n_null_fk,
      |  CAST(n_orphans AS BIGINT) AS n_orphans
      |FROM edges ORDER BY rel""") { (s, dir) =>
    def edge(rel: String, child: String, fk: String,
             parent: String, pk: String) = {
      val p = Tables(s, dir, parent).select(col(pk)).distinct()
        .withColumnRenamed(pk, "__pk")
      Tables(s, dir, child)
        .join(p, col(fk) === col("__pk"), "left")
        .agg(count(lit(1)).as("n_rows"),
          count(when(col(fk).isNull, 1)).as("n_null_fk"),
          count(when(col(fk).isNotNull && col("__pk").isNull, 1)).as("n_orphans"))
        .select(lit(rel).as("rel"), col("n_rows").cast("long").as("n_rows"),
          col("n_null_fk").cast("long").as("n_null_fk"),
          col("n_orphans").cast("long").as("n_orphans"))
    }
    Seq(
      edge("customer.nation", "customer", "c_nationkey", "nation", "n_nationkey"),
      edge("lineitem.orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      edge("lineitem.part", "lineitem", "l_partkey", "part", "p_partkey"),
      edge("lineitem.supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      edge("nation.region", "nation", "n_regionkey", "region", "r_regionkey"),
      edge("orders.customer", "orders", "o_custkey", "customer", "c_custkey"),
      edge("supplier.nation", "supplier", "s_nationkey", "nation", "n_nationkey"))
      .reduce(_ unionByName _)
      .orderBy("rel")
  }

  // Functional-dependency audit — the other half of the post-load DQ gate:
  // for each CLAIMED dependency X → Y, how many distinct X keys exist, how
  // many have more than one Y (violations), and the worst key's distinct-Y
  // count. One groupBy(X) per check with a distinct-count on Y — at 100 TB
  // each check is a single key-shuffle (partial agg first), and the checks
  // union into one artifact like dq_referential_integrity's edges. The mix
  // includes dependencies that HOLD (nation.region) and ones that are
  // deliberately false on the fixture (documents source→lang, orders
  // cust→status) so both report paths are exercised.
  q("dq_functional_dependency",
    """WITH checks AS (
      |  SELECT 'documents: source->lang' AS fd, COUNT(*) AS n_keys,
      |    COUNT(*) FILTER (WHERE nd > 1) AS n_violating, MAX(nd) AS max_rhs
      |  FROM (SELECT source, COUNT(DISTINCT lang) AS nd
      |        FROM documents GROUP BY source)
      |  UNION ALL
      |  SELECT 'nation: nationkey->regionkey', COUNT(*),
      |    COUNT(*) FILTER (WHERE nd > 1), MAX(nd)
      |  FROM (SELECT n_nationkey, COUNT(DISTINCT n_regionkey) AS nd
      |        FROM nation GROUP BY n_nationkey)
      |  UNION ALL
      |  SELECT 'orders: custkey->orderstatus', COUNT(*),
      |    COUNT(*) FILTER (WHERE nd > 1), MAX(nd)
      |  FROM (SELECT o_custkey, COUNT(DISTINCT o_orderstatus) AS nd
      |        FROM orders GROUP BY o_custkey)
      |  UNION ALL
      |  SELECT 'lineitem: orderkey->returnflag', COUNT(*),
      |    COUNT(*) FILTER (WHERE nd > 1), MAX(nd)
      |  FROM (SELECT l_orderkey, COUNT(DISTINCT l_returnflag) AS nd
      |        FROM lineitem GROUP BY l_orderkey)
      |)
      |SELECT fd, CAST(n_keys AS BIGINT) AS n_keys,
      |  CAST(n_violating AS BIGINT) AS n_violating,
      |  CAST(max_rhs AS BIGINT) AS max_rhs
      |FROM checks ORDER BY fd""") { (s, dir) =>
    def check(name: String, table: String, lhs: String, rhs: String) =
      Tables(s, dir, table)
        .groupBy(col(lhs)).agg(countDistinct(col(rhs)).as("nd"))
        .agg(count(lit(1)).as("n_keys"),
          count(when(col("nd") > 1, 1)).as("n_violating"),
          max("nd").as("max_rhs"))
        .select(lit(name).as("fd"), col("n_keys").cast("long").as("n_keys"),
          col("n_violating").cast("long").as("n_violating"),
          col("max_rhs").cast("long").as("max_rhs"))
    Seq(
      check("documents: source->lang", "documents", "source", "lang"),
      check("nation: nationkey->regionkey", "nation", "n_nationkey", "n_regionkey"),
      check("orders: custkey->orderstatus", "orders", "o_custkey", "o_orderstatus"),
      check("lineitem: orderkey->returnflag", "lineitem", "l_orderkey", "l_returnflag"))
      .reduce(_ unionByName _)
      .orderBy("fd")
  }

  // Cross-environment table checksum — the reconciliation fingerprint you
  // compare after a migration/backfill: row count plus one
  // order-independent content checksum per audited column. Each row
  // contributes the integer value of its md5 prefix (the established
  // hex→BIGINT idiom), and the SUM of those integers is exact and
  // commutative, so the checksum is independent of partitioning, task
  // order, and engine — a row-level diff anywhere flips it with
  // probability 1-2⁻³². Money goes through integer cents BEFORE the
  // string rendering (double→string formatting differs across engines).
  // One aggregate scan, embarrassingly parallel.
  q("dq_checksum_table",
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT))
      |    AS BIGINT) AS ck_orderkey,
      |  CAST(SUM(CAST(('0x' || substr(md5(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
      |    AS VARCHAR)), 1, 8)) AS BIGINT)) AS BIGINT) AS ck_totalprice,
      |  CAST(SUM(CAST(('0x' || substr(md5(o_orderstatus), 1, 8)) AS BIGINT)) AS BIGINT)
      |    AS ck_status
      |FROM orders""") { (s, dir) =>
    def ck(c: org.apache.spark.sql.Column) =
      sum(conv(substring(md5(c.cast("string").cast("binary")), 1, 8), 16, 10)
        .cast("long"))
    Tables(s, dir, "orders")
      .agg(count(lit(1)).cast("long").as("n_rows"),
        ck(col("o_orderkey")).as("ck_orderkey"),
        ck(Det.cents(col("o_totalprice"))).as("ck_totalprice"),
        ck(col("o_orderstatus")).as("ck_status"))
  }

  // Shared CTE chain for the power-iteration family (emb_pca_power,
  // emb_whiten): per-dim explode → 8-dp quantized moment matrix → three
  // matvec+renormalize rounds. One string so the two oracles cannot
  // drift apart.
  private val pcaCtes: String =
    """WITH dims AS (
      |  SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
      |    unnest(CAST(embedding AS DOUBLE[])) AS e
      |  FROM embeddings
      |), C AS (
      |  SELECT d1.dim AS i, d2.dim AS j,
      |    floor(CAST(SUM(CAST(floor(d1.e * d2.e * 100000000 + 0.5) AS BIGINT)) AS DOUBLE)
      |          / (SELECT COUNT(*) FROM embeddings) + 0.5) / 100000000 AS c
      |  FROM dims d1 JOIN dims d2 ON d1.vec_id = d2.vec_id
      |  GROUP BY d1.dim, d2.dim
      |), v0 AS (
      |  SELECT DISTINCT dim AS j, CAST(0.125 AS DOUBLE) AS v FROM dims
      |), w1 AS (
      |  SELECT C.i AS i, SUM(CAST(floor(C.c * v0.v * 1000000000000 + 0.5) AS BIGINT)) AS sw
      |  FROM C JOIN v0 ON C.j = v0.j GROUP BY C.i
      |), n1 AS (
      |  SELECT sqrt(CAST(SUM(CAST(floor((CAST(sw AS DOUBLE) / 1000000000000)
      |    * (CAST(sw AS DOUBLE) / 1000000000000) * 100000000000000 + 0.5) AS BIGINT)) AS DOUBLE)
      |    / 100000000000000) AS nrm FROM w1
      |), v1 AS (
      |  SELECT i AS j, floor(CAST(sw AS DOUBLE) / 1000000000000 / nrm * 1000000 + 0.5)
      |    / 1000000 AS v FROM w1, n1
      |), w2 AS (
      |  SELECT C.i AS i, SUM(CAST(floor(C.c * v1.v * 1000000000000 + 0.5) AS BIGINT)) AS sw
      |  FROM C JOIN v1 ON C.j = v1.j GROUP BY C.i
      |), n2 AS (
      |  SELECT sqrt(CAST(SUM(CAST(floor((CAST(sw AS DOUBLE) / 1000000000000)
      |    * (CAST(sw AS DOUBLE) / 1000000000000) * 100000000000000 + 0.5) AS BIGINT)) AS DOUBLE)
      |    / 100000000000000) AS nrm FROM w2
      |), v2 AS (
      |  SELECT i AS j, floor(CAST(sw AS DOUBLE) / 1000000000000 / nrm * 1000000 + 0.5)
      |    / 1000000 AS v FROM w2, n2
      |), w3 AS (
      |  SELECT C.i AS i, SUM(CAST(floor(C.c * v2.v * 1000000000000 + 0.5) AS BIGINT)) AS sw
      |  FROM C JOIN v2 ON C.j = v2.j GROUP BY C.i
      |), n3 AS (
      |  SELECT sqrt(CAST(SUM(CAST(floor((CAST(sw AS DOUBLE) / 1000000000000)
      |    * (CAST(sw AS DOUBLE) / 1000000000000) * 100000000000000 + 0.5) AS BIGINT)) AS DOUBLE)
      |    / 100000000000000) AS nrm FROM w3
      |), v3 AS (
      |  SELECT i AS j, floor(CAST(sw AS DOUBLE) / 1000000000000 / nrm * 1000000 + 0.5)
      |    / 1000000 AS v FROM w3, n3
      |)""".stripMargin

  // Top principal component of the embedding cloud via 3 power-iteration
  // rounds over the (uncentered) second-moment matrix — the dominant-
  // direction probe behind whitening / anisotropy diagnostics. Same
  // determinism recipe as emb_kmeans, which is what makes an ITERATIVE
  // float linear-algebra op oracle-backed at all: the 64×64 moment matrix
  // is 8-dp quantized means of exact BIGINT product sums; each matvec
  // accumulates 12-dp fixed-point terms (exact, order-independent); the
  // norm squares through 14-dp fixed point (|w|≲3 → terms ≤1e15, 64 of
  // them — no BIGINT overflow); the renormalized vector re-quantizes to
  // 6 dp before the next round. Start vector = uniform 1/8 (no RNG; 0.125
  // is exactly representable). Scale shape: the moment matrix is one
  // self-join on vec_id grouped to k²=4096 rows — after that every round
  // touches only 4096-row × 64-row broadcast joins, independent of corpus
  // size; the oracle unrolls the rounds as CTEs.
  q("emb_pca_power",
    s"""$pcaCtes
      |SELECT CAST(v3.j AS INT) AS dim, v3.v AS loading,
      |  floor(n3.nrm * 1000000 + 0.5) / 1000000 AS eigenvalue
      |FROM v3, n3
      |ORDER BY dim""") { (s, dir) =>
    val (v, lastNrm, _) = graft.ops.Linalg
      .pcaTop(Tables(s, dir, "embeddings"), "vec_id", "embedding", 3)
    v.crossJoin(broadcast(lastNrm))
      .select(col("j").cast("int").as("dim"), col("v").as("loading"),
        Det.quant(col("nrm"), 6)
          .as("eigenvalue"))
      .orderBy("dim")
  }

  // Second principal component via Hotelling deflation
  // (Linalg.pcaSecond): subtract the rank-1 term λ₁v₁v₁ᵀ (λ₁ at the
  // 6-dp output quantum, each deflated cell re-quantized to the moment's
  // 8 dp) and rerun the identical 3-round power loop. The oracle extends
  // the shared pcaCtes chain with the deflation and three more unrolled
  // rounds generated from the same template, so the two engines' round
  // arithmetic cannot drift. Memo seams make this a d²-frame-only
  // computation when emb_pca_power already ran this session.
  q("emb_pca_deflate", {
    def round(k: Int): String = {
      val prev = if (k == 1) "v0" else s"x${k - 1}"
      s"""u$k AS (
         |  SELECT C2.i AS i,
         |    SUM(CAST(floor(C2.c * $prev.v * 1000000000000 + 0.5) AS BIGINT)) AS sw
         |  FROM C2 JOIN $prev ON C2.j = $prev.j GROUP BY C2.i
         |), m$k AS (
         |  SELECT sqrt(CAST(SUM(CAST(floor((CAST(sw AS DOUBLE) / 1000000000000)
         |    * (CAST(sw AS DOUBLE) / 1000000000000) * 100000000000000 + 0.5) AS BIGINT)) AS DOUBLE)
         |    / 100000000000000) AS nrm FROM u$k
         |), x$k AS (
         |  SELECT i AS j, floor(CAST(sw AS DOUBLE) / 1000000000000 / nrm * 1000000 + 0.5)
         |    / 1000000 AS v FROM u$k, m$k
         |)""".stripMargin
    }
    s"""$pcaCtes,
       |lam AS (SELECT floor(nrm * 1000000 + 0.5) / 1000000 AS l FROM n3),
       |C2 AS (
       |  SELECT C.i AS i, C.j AS j,
       |    C.c - floor(l * a.v * b.v * 100000000 + 0.5) / 100000000 AS c
       |  FROM C JOIN v3 a ON C.i = a.j JOIN v3 b ON C.j = b.j, lam
       |),
       |${(1 to 3).map(round).mkString(",\n")}
       |SELECT CAST(x3.j AS INT) AS dim, x3.v AS loading,
       |  floor(m3.nrm * 1000000 + 0.5) / 1000000 AS eigenvalue2
       |FROM x3, m3
       |ORDER BY dim""".stripMargin
  }) { (s, dir) =>
    val (v2, n2) = graft.ops.Linalg
      .pcaSecond(Tables(s, dir, "embeddings"), "vec_id", "embedding", 3)
    v2.crossJoin(broadcast(n2))
      .select(col("j").cast("int").as("dim"), col("v").as("loading"),
        Det.quant(col("nrm"), 6)
          .as("eigenvalue2"))
      .orderBy("dim")
  }

  // All-but-the-top whitening (Mu & Viswanath-style anisotropy fix): drop
  // each embedding's projection onto the dominant component. Per vector:
  // p = Σ eᵢvᵢ through 12-dp fixed point (exact sum), quantized to 6 dp;
  // residual norm² = Σ(eᵢ - p·vᵢ)² the same way. The loading broadcasts
  // (64 rows), so the projection pass is one shuffle-free scan over the
  // corpus + one group-by on vec_id — linear at any corpus size, and the
  // norm reduction per vector is exact integer math (no aggregation-order
  // seam). Demonstrates composing the iterative PCA output back onto the
  // data inside one declarative plan.
  q("emb_whiten",
    s"""$pcaCtes, pr AS (
      |  SELECT d.vec_id,
      |    floor(CAST(SUM(CAST(floor(d.e * v3.v * 1000000000000 + 0.5) AS BIGINT)) AS DOUBLE)
      |          / 1000000000000 * 1000000 + 0.5) / 1000000 AS p
      |  FROM dims d JOIN v3 ON d.dim = v3.j GROUP BY d.vec_id
      |)
      |SELECT d.vec_id,
      |  pr.p AS proj,
      |  floor(sqrt(CAST(SUM(CAST(floor(d.e * d.e * 1000000000000 + 0.5) AS BIGINT)) AS DOUBLE)
      |             / 1000000000000) * 10000 + 0.5) / 10000 AS norm_before,
      |  floor(sqrt(CAST(SUM(CAST(floor((d.e - pr.p * v3.v) * (d.e - pr.p * v3.v)
      |             * 1000000000000 + 0.5) AS BIGINT)) AS DOUBLE)
      |             / 1000000000000) * 10000 + 0.5) / 10000 AS norm_after
      |FROM dims d JOIN v3 ON d.dim = v3.j JOIN pr ON d.vec_id = pr.vec_id
      |GROUP BY d.vec_id, pr.p
      |ORDER BY d.vec_id""") { (s, dir) =>
    val (v, _, dims) = graft.ops.Linalg // dims persist shared with the PCA pass
      .pcaTop(Tables(s, dir, "embeddings"), "vec_id", "embedding", 3)
    val withV = dims.join(broadcast(v.select(col("j").as("dim"), col("v"))), "dim")
    val pr = withV
      .select(col("vec_id"),
        Det.fix(col("e") * col("v"), 12).as("t"))
      .groupBy("vec_id")
      .agg(Det.quant(sum("t").cast("double") / lit(1000000000000L), 6).as("p"))
    withV.join(pr, "vec_id")
      .select(col("vec_id"), col("p"),
        Det.fix(col("e") * col("e"), 12).as("nb"),
        Det.fix((col("e") - col("p") * col("v")) * (col("e") - col("p") * col("v")), 12).as("na"))
      .groupBy("vec_id", "p")
      .agg(
        Det.quant(sqrt(sum("nb").cast("double") / lit(1000000000000L)), 4).as("norm_before"),
        Det.quant(sqrt(sum("na").cast("double") / lit(1000000000000L)), 4).as("norm_after"))
      .select(col("vec_id"), col("p").as("proj"),
        col("norm_before"), col("norm_after"))
      .orderBy("vec_id")
  }

  // Temporal distribution drift per event_type: two-sample KS D between
  // the first 45 days and the rest — the shape-sensitive companion to
  // dq_drift_psi's binned divergence (PSI misses tail shifts that keep
  // bin masses; KS is bin-free). Same never-rank-rows device as
  // events_ks_test, partitioned by type: cent-value histograms + ordered
  // cumsum windows, exact 128-bit numerator, argmax via row_number.
  q("dq_drift_ks",
    """WITH mn AS (SELECT MIN(ts) AS t0 FROM events),
      |b AS (
      |  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v,
      |    CASE WHEN ts < t0 + INTERVAL 45 DAY THEN 1 ELSE 0 END AS early
      |  FROM events CROSS JOIN mn
      |), hist AS (
      |  SELECT event_type, v,
      |    SUM(early) AS c1, SUM(1 - early) AS c2
      |  FROM b GROUP BY event_type, v
      |), h2 AS (
      |  SELECT event_type, v,
      |    SUM(c1) OVER w AS cum1, SUM(c2) OVER w AS cum2,
      |    SUM(c1) OVER p AS tot1, SUM(c2) OVER p AS tot2
      |  FROM hist
      |  WINDOW w AS (PARTITION BY event_type ORDER BY v
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |  p AS (PARTITION BY event_type)
      |), sc AS (
      |  SELECT event_type, v, tot1, tot2,
      |    ABS(CAST(cum1 AS HUGEINT) * tot2 - CAST(cum2 AS HUGEINT) * tot1) AS num,
      |    row_number() OVER (PARTITION BY event_type ORDER BY
      |      ABS(CAST(cum1 AS HUGEINT) * tot2 - CAST(cum2 AS HUGEINT) * tot1) DESC,
      |      v) AS rn
      |  FROM h2
      |)
      |SELECT event_type, CAST(tot1 AS BIGINT) AS n_early,
      |  CAST(tot2 AS BIGINT) AS n_late,
      |  CAST(floor(CAST(num AS DOUBLE)
      |    / (CAST(tot1 AS DOUBLE) * CAST(tot2 AS DOUBLE)) * 1000000 + 0.5)
      |    AS DOUBLE) / 1000000 AS ks_d,
      |  CAST(CASE WHEN CAST(floor(CAST(num AS DOUBLE)
      |    / (CAST(tot1 AS DOUBLE) * CAST(tot2 AS DOUBLE)) * 1000000 + 0.5)
      |    AS DOUBLE) / 1000000 > 0.1 THEN 1 ELSE 0 END AS INT) AS drifted
      |FROM sc WHERE rn = 1 AND tot1 > 0 AND tot2 > 0
      |ORDER BY event_type""") { (s, dir) =>
    val ev = Tables(s, dir, "events")
    val mn = ev.agg(min("ts").as("t0"))
    val b = ev.crossJoin(broadcast(mn))
      .select(col("event_type"), Det.cents(col("value")).cast("long").as("v"),
        when(col("ts") < col("t0") + expr("INTERVAL 45 DAY"), 1L)
          .otherwise(0L).as("early"))
    val hist = b.groupBy("event_type", "v")
      .agg(sum("early").as("c1"), sum(lit(1L) - col("early")).as("c2"))
    val p = Window.partitionBy("event_type")
    val w = p.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val h2 = hist
      .withColumn("cum1", sum("c1").over(w))
      .withColumn("cum2", sum("c2").over(w))
      .withColumn("tot1", sum("c1").over(p))
      .withColumn("tot2", sum("c2").over(p))
      .withColumn("num",
        abs(Det.wide(col("cum1")) * col("tot2") - Det.wide(col("cum2")) * col("tot1")))
    val ksd = Det.quant(col("num").cast("double")
      / (col("tot1").cast("double") * col("tot2").cast("double")), 6)
    h2.withColumn("rn",
        row_number().over(p.orderBy(col("num").desc, col("v"))))
      // a type living entirely on one side of the split has no two-sample
      // question to ask (and tot1·tot2 = 0 divides by zero under ANSI)
      .filter(col("rn") === 1 && col("tot1") > 0 && col("tot2") > 0)
      .select(col("event_type"),
        col("tot1").cast("long").as("n_early"),
        col("tot2").cast("long").as("n_late"),
        ksd.as("ks_d"),
        when(ksd > 0.1, 1).otherwise(0).cast("int").as("drifted"))
      .orderBy("event_type")
  }

  // Multi-key entity resolution: records link if they share EITHER the
  // canonical URL (llm_url_dedup's synthesis + canonicalization) OR the
  // exact content fingerprint (md5), and linkage is transitive across key
  // types — the record-linkage step exact-single-key dedup can't express.
  // Scale design: per key group we emit STAR edges to the min-doc (|group|
  // edges, never the quadratic within-group pairs), then one min-label CC
  // over the union; the oracle re-derives components with the recursive
  // transitive-closure CTE (llm_dedup_cluster's device). Singleton records
  // resolve to themselves via the left join.
  q("llm_entity_resolution",
    """WITH RECURSIVE u AS (
      |  SELECT doc_id,
      |    'HTTPS://WWW.' || source || '.Example.COM:443/d/'
      |      || CAST(doc_id % 7 AS VARCHAR) || '?utm_campaign=c'
      |      || CAST(doc_id % 3 AS VARCHAR) || '&id='
      |      || CAST(doc_id % 50 AS VARCHAR) || '&ref=feed#top' AS url
      |  FROM documents
      |), cu AS (
      |  SELECT doc_id,
      |    replace(replace(lower(split_part(split_part(url, '#', 1), '?', 1)),
      |      ':443/', '/'), '://www.', '://') AS base,
      |    array_to_string(list_sort(list_filter(
      |      string_split(split_part(split_part(url, '#', 1), '?', 2), '&'),
      |      p -> NOT (p LIKE 'utm!_%' ESCAPE '!' OR p LIKE 'ref=%'))), '&') AS cq
      |  FROM u
      |), ck AS (
      |  SELECT doc_id, 'u:' || base
      |    || CASE WHEN cq = '' THEN '' ELSE '?' || cq END AS k
      |  FROM cu
      |  UNION ALL
      |  SELECT doc_id, 'm:' || md5(text) AS k FROM documents
      |), roots AS (
      |  SELECT k, MIN(doc_id) AS root FROM ck GROUP BY k
      |), pairs AS (
      |  SELECT ck.doc_id AS id_a, root AS id_b
      |  FROM ck JOIN roots ON ck.k = roots.k WHERE ck.doc_id <> root
      |), ed AS (
      |  SELECT DISTINCT id_a AS s, id_b AS d FROM pairs
      |  UNION SELECT id_b, id_a FROM pairs
      |), reach AS (
      |  SELECT s AS id, d AS r FROM ed
      |  UNION
      |  SELECT reach.id, ed.d AS r FROM reach JOIN ed ON reach.r = ed.s
      |), cl AS (
      |  SELECT id, least(id, MIN(r)) AS cluster FROM reach GROUP BY id
      |)
      |SELECT d.doc_id, COALESCE(cl.cluster, d.doc_id) AS entity_id,
      |  CAST(COUNT(*) OVER (PARTITION BY COALESCE(cl.cluster, d.doc_id))
      |    AS BIGINT) AS entity_size
      |FROM documents d LEFT JOIN cl ON d.doc_id = cl.id
      |ORDER BY d.doc_id""") { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    val u = docs.select(col("doc_id"), concat(lit("HTTPS://WWW."), col("source"),
      lit(".Example.COM:443/d/"), (col("doc_id") % 7).cast("string"),
      lit("?utm_campaign=c"), (col("doc_id") % 3).cast("string"),
      lit("&id="), (col("doc_id") % 50).cast("string"),
      lit("&ref=feed#top")).as("url"))
    val ck = u.select(col("doc_id"),
        concat(lit("u:"), TextOps.urlCanon(col("url"))).as("k"))
      .union(docs.select(col("doc_id"), concat(lit("m:"), md5(col("text"))).as("k")))
    val roots = ck.groupBy("k").agg(min("doc_id").as("root"))
    val pairs = ck.join(roots, "k").filter(col("doc_id") =!= col("root"))
      .select(col("doc_id").as("id_a"), col("root").as("id_b")).distinct()
    val cl = Dedup.connectedComponents(pairs, "id_a", "id_b")
    val ent = docs.select(col("doc_id"))
      .join(cl, docs("doc_id") === cl("id"), "left")
      .select(col("doc_id"), coalesce(col("cluster"), col("doc_id")).as("entity_id"))
    ent.withColumn("entity_size",
        count(lit(1)).over(Window.partitionBy("entity_id")).cast("long"))
      .orderBy("doc_id")
  }

  // Sequence-gap audit: find holes in a should-be-contiguous id space —
  // the completeness check a CDC/ingestion pipeline runs against its
  // high-watermark. Restricting to one event type guarantees gaps exist
  // (the full id space is dense), and the top-20 cut bounds the report.
  // Scale note: the predecessor id comes from BlockWindow.lag — per-block
  // lag over range partitions plus ONE boundary row handed forward per
  // block — never Spark's unpartitioned lag window, which would move the
  // whole event stream to a single task (the r7 verdict's scale-killer).
  // The report frame after the gap filter is tiny.
  q("dq_sequence_gaps",
    """WITH o AS (
      |  SELECT event_id,
      |    lag(event_id) OVER (ORDER BY event_id) AS prev
      |  FROM events WHERE event_type = 'click'
      |)
      |SELECT prev + 1 AS gap_start, event_id - 1 AS gap_end,
      |  CAST(event_id - prev - 1 AS BIGINT) AS missing
      |FROM o WHERE prev IS NOT NULL AND event_id - prev > 1
      |ORDER BY missing DESC, gap_start LIMIT 20""") { (s, dir) =>
    val ev = Tables(s, dir, "events")
      .filter(col("event_type") === "click")
      .select("event_id")
    val o = BlockWindow.lag(ev, Nil, Seq("event_id"), col("event_id"), "prev")
    o.filter(col("prev").isNotNull && col("event_id") - col("prev") > 1)
      .select((col("prev") + 1).as("gap_start"),
        (col("event_id") - 1).as("gap_end"),
        (col("event_id") - col("prev") - 1).cast("long").as("missing"))
      .orderBy(col("missing").desc, col("gap_start"))
      .limit(20)
  }

  // k-anonymity audit over the (nation, market-segment) quasi-identifier:
  // the privacy gate a dataset must pass before release — every row's
  // quasi-group size k is its re-identification protection, and the
  // report is the k distribution plus the share of rows below the k=5 /
  // k=10 thresholds. Two shuffles: one groupBy(quasi) to size the groups,
  // one single-row rollup; the per-row double ratios quantize at 6 dp.
  q("dq_k_anonymity",
    """WITH g AS (
      |  SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS k
      |  FROM customer GROUP BY 1, 2
      |)
      |SELECT CAST(SUM(k) AS BIGINT) AS n_rows,
      |  CAST(COUNT(*) AS BIGINT) AS n_groups,
      |  CAST(MIN(k) AS BIGINT) AS min_k,
      |  CAST(floor(CAST(SUM(CASE WHEN k < 5 THEN k ELSE 0 END) AS DOUBLE)
      |    / CAST(SUM(k) AS DOUBLE) * 1000000 + 0.5) AS DOUBLE) / 1000000
      |    AS pct_rows_k_lt5,
      |  CAST(floor(CAST(SUM(CASE WHEN k < 10 THEN k ELSE 0 END) AS DOUBLE)
      |    / CAST(SUM(k) AS DOUBLE) * 1000000 + 0.5) AS DOUBLE) / 1000000
      |    AS pct_rows_k_lt10,
      |  CAST(floor(CAST(SUM(k) AS DOUBLE) / COUNT(*) * 10000 + 0.5)
      |    AS DOUBLE) / 10000 AS avg_k
      |FROM g""") { (s, dir) =>
    val g = Tables(s, dir, "customer")
      .groupBy("c_nationkey", "c_mktsegment")
      .agg(count(lit(1)).cast("long").as("k"))
    g.agg(sum("k").cast("long").as("n_rows"),
        count(lit(1)).cast("long").as("n_groups"),
        min("k").cast("long").as("min_k"),
        Det.quant(sum(when(col("k") < 5, col("k")).otherwise(0L)).cast("double")
          / sum("k").cast("double"), 6).as("pct_rows_k_lt5"),
        Det.quant(sum(when(col("k") < 10, col("k")).otherwise(0L)).cast("double")
          / sum("k").cast("double"), 6).as("pct_rows_k_lt10"),
        Det.quant(sum("k").cast("double") / count(lit(1)), 4).as("avg_k"))
  }

  // l-diversity companion to the k-anonymity audit: within each
  // quasi-group, how many DISTINCT sensitive values (account-balance
  // $1000 band) appear — a group where everyone shares one sensitive
  // value leaks it even at high k. Banding is exact integer math on
  // cents (floor division keeps negative balances in their own band).
  q("dq_l_diversity",
    """WITH b AS (
      |  SELECT c_nationkey, c_mktsegment,
      |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) // 100000 AS sband
      |  FROM customer
      |), g AS (
      |  SELECT c_nationkey, c_mktsegment,
      |    CAST(COUNT(DISTINCT sband) AS BIGINT) AS l
      |  FROM b GROUP BY 1, 2
      |)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
      |  CAST(MIN(l) AS BIGINT) AS min_l,
      |  CAST(SUM(CASE WHEN l < 2 THEN 1 ELSE 0 END) AS BIGINT) AS groups_l_lt2,
      |  CAST(SUM(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT) AS groups_l_lt3,
      |  CAST(floor(CAST(SUM(l) AS DOUBLE) / COUNT(*) * 10000 + 0.5)
      |    AS DOUBLE) / 10000 AS avg_l
      |FROM g""") { (s, dir) =>
    val b = Tables(s, dir, "customer")
      .select(col("c_nationkey"), col("c_mktsegment"),
        expr("cast(floor(c_acctbal * 100 + 0.5) as bigint) div 100000")
          .as("sband"))
    val g = b.groupBy("c_nationkey", "c_mktsegment")
      .agg(countDistinct("sband").cast("long").as("l"))
    g.agg(count(lit(1)).cast("long").as("n_groups"),
        min("l").cast("long").as("min_l"),
        sum(when(col("l") < 2, 1L).otherwise(0L)).cast("long").as("groups_l_lt2"),
        sum(when(col("l") < 3, 1L).otherwise(0L)).cast("long").as("groups_l_lt3"),
        Det.quant(sum("l").cast("double") / count(lit(1)), 4).as("avg_l"))
  }

  // Cross-TABLE expectation rules — the consistency checks single-table
  // dq_expectations cannot express: temporal ordering across the
  // order⋈lineitem join and orphan detection in both directions. Each
  // rule is one aggregate over one join; the join keys are the natural
  // shuffle keys and the orders side of the orphan checks uses the
  // existing-key semi/anti shape (no row multiplication). At 100 TB each
  // rule is a single key-partitioned pass — rules over the same join
  // could further share one scan, kept separate here for per-rule
  // provenance in the report.
  q("dq_cross_table_rules",
    """WITH r1 AS (
      |  SELECT 'lineitem_ship_after_order' AS rule_id,
      |    CAST(COUNT(*) AS BIGINT) AS n_checked,
      |    CAST(SUM(CASE WHEN l.l_shipdate >= o.o_orderdate THEN 0 ELSE 1 END)
      |      AS BIGINT) AS violations
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |), r2 AS (
      |  SELECT 'order_has_lineitems' AS rule_id,
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_checked,
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
      |     WHERE NOT EXISTS (SELECT 1 FROM lineitem l
      |                       WHERE l.l_orderkey = o.o_orderkey)) AS violations
      |), r3 AS (
      |  SELECT 'lineitem_has_order' AS rule_id,
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS n_checked,
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
      |     WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                       WHERE o.o_orderkey = l.l_orderkey)) AS violations
      |)
      |SELECT rule_id, n_checked, violations, violations = 0 AS pass FROM r1
      |UNION ALL SELECT rule_id, n_checked, violations, violations = 0 FROM r2
      |UNION ALL SELECT rule_id, n_checked, violations, violations = 0 FROM r3
      |ORDER BY rule_id""") { (s, dir) =>
    val li = Tables(s, dir, "lineitem")
    val o = Tables(s, dir, "orders")
    val r1 = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .agg(count(lit(1)).cast("long").as("n_checked"),
        sum(when(col("l_shipdate") >= col("o_orderdate"), 0L).otherwise(1L))
          .cast("long").as("violations"))
      .select(lit("lineitem_ship_after_order").as("rule_id"),
        col("n_checked"), col("violations"))
    val r2 = o.join(li.select(col("l_orderkey")).distinct(),
        col("o_orderkey") === col("l_orderkey"), "left_anti")
      .agg(count(lit(1)).cast("long").as("violations"))
      .crossJoin(broadcast(o.agg(count(lit(1)).cast("long").as("n_checked"))))
      .select(lit("order_has_lineitems").as("rule_id"),
        col("n_checked"), col("violations"))
    val r3 = li.join(o.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).cast("long").as("violations"))
      .crossJoin(broadcast(li.agg(count(lit(1)).cast("long").as("n_checked"))))
      .select(lit("lineitem_has_order").as("rule_id"),
        col("n_checked"), col("violations"))
    r1.unionAll(r2).unionAll(r3)
      .select(col("rule_id"), col("n_checked"), col("violations"),
        (col("violations") === 0).as("pass"))
      .orderBy("rule_id")
  }

  // Adjusted Rand index between a deterministic sign-bit partition of the
  // embedding space (bucket = 8 sign bits of the first 8 dims — the
  // random-hyperplane-LSH cell with axis-aligned planes, expressible in
  // BOTH engines) and the ground-truth label column — "does cheap
  // geometric hashing recover the labeled clusters", the standard
  // external cluster-validity readout. ARI needs only the contingency
  // table: with S2 = Σᵢⱼ nᵢⱼ(nᵢⱼ−1), A2/B2 the same over the two
  // marginals and T2 = n(n−1), ARI = (S2 − A2·B2/T2) /
  // ((A2+B2)/2 − A2·B2/T2) — the pair-count form doubled throughout so
  // no integer halving is needed. All counts are exact (128-bit products
  // per P16); the final expression is one IEEE double tree. Scale: one
  // aggregate to the |buckets|·|labels| grid; marginals re-aggregate the
  // grid, never the corpus.
  q("emb_cluster_ari",
    """WITH v AS (
      |  SELECT label,
      |    (CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END)
      |    + (CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END)
      |    + (CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END)
      |    + (CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END)
      |    + (CASE WHEN embedding[5] >= 0 THEN 16 ELSE 0 END)
      |    + (CASE WHEN embedding[6] >= 0 THEN 32 ELSE 0 END)
      |    + (CASE WHEN embedding[7] >= 0 THEN 64 ELSE 0 END)
      |    + (CASE WHEN embedding[8] >= 0 THEN 128 ELSE 0 END) AS bucket
      |  FROM embeddings
      |), ct AS (
      |  SELECT bucket, label, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM v GROUP BY bucket, label
      |), s2 AS (
      |  SELECT CAST(SUM(CAST(c AS HUGEINT) * (c - 1)) AS DOUBLE) AS s2,
      |    CAST(SUM(c) AS BIGINT) AS n,
      |    CAST(COUNT(DISTINCT bucket) AS BIGINT) AS n_buckets,
      |    CAST(COUNT(DISTINCT label) AS BIGINT) AS n_labels
      |  FROM ct
      |), a2 AS (
      |  SELECT CAST(SUM(CAST(a AS HUGEINT) * (a - 1)) AS DOUBLE) AS a2
      |  FROM (SELECT SUM(c) AS a FROM ct GROUP BY bucket)
      |), b2 AS (
      |  SELECT CAST(SUM(CAST(b AS HUGEINT) * (b - 1)) AS DOUBLE) AS b2
      |  FROM (SELECT SUM(c) AS b FROM ct GROUP BY label)
      |)
      |SELECT n, n_buckets, n_labels,
      |  floor((s2 - a2 * b2 / (CAST(n AS DOUBLE) * (n - 1)))
      |    / ((a2 + b2) / 2 - a2 * b2 / (CAST(n AS DOUBLE) * (n - 1)))
      |    * 1000000 + 0.5) / 1000000 AS ari
      |FROM s2, a2, b2""") { (s, dir) =>
    val e = col("embedding")
    val bucket = (0 until 8).map { i =>
      when(element_at(e, i + 1) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    val v = Tables(s, dir, "embeddings")
      .select(col("label"), bucket.as("bucket"))
    val ct = v.groupBy("bucket", "label").agg(count(lit(1)).as("c"))
    val s2 = ct.agg(
      sum(Det.wide(col("c")) * (col("c") - 1)).cast("double").as("s2"),
      sum("c").cast("long").as("n"),
      countDistinct("bucket").cast("long").as("n_buckets"),
      countDistinct("label").cast("long").as("n_labels"))
    val a2 = ct.groupBy("bucket").agg(sum("c").as("a"))
      .agg(sum(Det.wide(col("a")) * (col("a") - 1)).cast("double").as("a2"))
    val b2 = ct.groupBy("label").agg(sum("c").as("b"))
      .agg(sum(Det.wide(col("b")) * (col("b") - 1)).cast("double").as("b2"))
    val t2 = col("n").cast("double") * (col("n") - 1)
    val exp = col("a2") * col("b2") / t2
    s2.crossJoin(broadcast(a2)).crossJoin(broadcast(b2))
      .select(col("n"), col("n_buckets"), col("n_labels"),
        Det.quant((col("s2") - exp) / ((col("a2") + col("b2")) / 2 - exp), 6).as("ari"))
  }

  // Per-partition (per-day) incremental checksums — dq_checksum_table's
  // scale form: one order-independent digest per day so a re-delivered or
  // silently-mutated partition is localized instead of detected only at
  // table level. Per-row digest = first 8 md5 hex digits as an integer
  // (the table checksum's spelling); the per-day combine promotes to
  // 128-bit BEFORE summing (4.3e9/row × 1e10 rows/day wraps int64 at
  // corpus scale) and emits the sum modulo the Mersenne prime 2^61−1 as
  // BIGINT. One hash aggregate keyed by day — linear, shuffle carries one
  // row per (day × partition).
  q("dq_checksum_partitions",
    """SELECT strftime(CAST(date_trunc('day', ts) AS DATE), '%Y-%m-%d') AS day,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CAST(CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))
      |    AS BIGINT) AS HUGEINT)) % 2305843009213693951 AS BIGINT) AS ck_event,
      |  CAST(SUM(CAST(CAST(('0x' || substr(md5(CAST(CAST(floor(value * 100 + 0.5)
      |    AS BIGINT) AS VARCHAR)), 1, 8)) AS BIGINT) AS HUGEINT))
      |    % 2305843009213693951 AS BIGINT) AS ck_value
      |FROM events GROUP BY 1 ORDER BY day""") { (s, dir) =>
    def h(c: org.apache.spark.sql.Column) =
      conv(substring(md5(c.cast("string").cast("binary")), 1, 8), 16, 10)
        .cast("long")
    Tables(s, dir, "events")
      .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).cast("long").as("n_rows"),
        (sum(Det.wide(h(col("event_id")))) % lit(2305843009213693951L))
          .cast("long").as("ck_event"),
        (sum(Det.wide(h(Det.cents(col("value")).cast("long"))))
          % lit(2305843009213693951L)).cast("long").as("ck_value"))
      .orderBy("day")
  }

  // Bot/abuse scoring over the event stream: per-user volume, burstiness
  // (minimum inter-event gap), activity span, and a rule-based flag —
  // the pre-training-pipeline "drop synthetic traffic" gate. Everything
  // is exact integer arithmetic on microsecond timestamps (the min gap
  // comes from one lag window inside the user partition, the same
  // partition the aggregate shuffles on — one shuffle total, fully
  // parallel across users at any scale). Flag rule: >= 50 events AND
  // min gap under 60 s AND events-per-active-day >= 20.
  q("events_bot_score",
    """WITH g AS (
      |  SELECT user_id, epoch_us(ts) AS us,
      |    epoch_us(ts) - lag(epoch_us(ts)) OVER (
      |      PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap
      |  FROM events
      |), u AS (
      |  SELECT user_id, COUNT(*) AS n, MIN(gap) AS min_gap_us,
      |    COUNT(DISTINCT us // 86400000000) AS active_days
      |  FROM g GROUP BY user_id
      |)
      |SELECT user_id, CAST(n AS BIGINT) AS n_events,
      |  CAST(min_gap_us AS BIGINT) AS min_gap_us,
      |  CAST(active_days AS BIGINT) AS active_days,
      |  CAST(n >= 50 AND min_gap_us < 60000000
      |       AND n >= 20 * active_days AS INT) AS bot_flag
      |FROM u WHERE n >= 10
      |ORDER BY user_id""") { (s, dir) =>
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    val g = Tables(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("gap", col("us") - lag(col("us"), 1).over(w))
    g.groupBy("user_id")
      .agg(count(lit(1)).as("n"), min("gap").as("min_gap_us"),
        countDistinct(expr("us div 86400000000")).as("active_days"))
      .filter(col("n") >= 10)
      .select(col("user_id"), col("n").cast("long").as("n_events"),
        col("min_gap_us").cast("long").as("min_gap_us"),
        col("active_days").cast("long").as("active_days"),
        (col("n") >= 50 && col("min_gap_us") < 60000000L
          && col("n") >= col("active_days") * 20).cast("int").as("bot_flag"))
      .orderBy("user_id")
  }

  // Leave-one-source-out bigram cross-entropy: how well does an LM
  // trained on EVERY OTHER source predict each source's text — the
  // cross-source generalization readout next to text_lm_bigram's
  // in-corpus score. The trick is relational leave-one-out: the held-out
  // model's counts for source s are (global − s's own) per bigram and
  // per head word, so ALL 20 held-out models come from ONE counting pass
  // plus a self-aggregation — no per-source re-scan. Smoothing is
  // add-one with the GLOBAL vocabulary V (constant across models, so
  // scores are comparable). Fixed-point integer-argument logs (P12/P17):
  // every ln argument is an integer count (c1g−cs1+V ≥ V ≥ 1,
  // c12g−cs12+1 ≥ 1); the Σ count·lnFix products stay int64 per row and
  // promote 128-bit in the sum (P16). Shuffles: on bigram hash and head
  // hash — token-count-bounded, never doc-pair-shaped.
  q("text_lm_crossent_loso",
    s"""WITH t AS (
      |  SELECT source, string_split(lower(text), ' ') AS tk FROM documents
      |  WHERE len(string_split(text, ' ')) >= 2
      |), bg AS (
      |  SELECT source, unnest(list_transform(range(1, len(tk)),
      |    i -> tk[i] || ' ' || tk[i+1])) AS b
      |  FROM t
      |), sb AS (SELECT source, b, COUNT(*) AS cs12 FROM bg GROUP BY 1, 2),
      |gb AS (SELECT b, CAST(SUM(cs12) AS BIGINT) AS c12g FROM sb GROUP BY 1),
      |sw AS (SELECT source, string_split(b, ' ')[1] AS w1, COUNT(*) AS cs1
      |       FROM bg GROUP BY 1, 2),
      |gw AS (SELECT w1, CAST(SUM(cs1) AS BIGINT) AS c1g FROM sw GROUP BY 1),
      |vv AS (SELECT COUNT(DISTINCT w) AS v
      |       FROM (SELECT unnest(tk) AS w FROM t)),
      |j AS (
      |  SELECT sb.source, sb.cs12, gb.c12g, sw.cs1, gw.c1g, vv.v
      |  FROM sb JOIN gb USING (b)
      |  JOIN sw ON sb.source = sw.source AND string_split(sb.b, ' ')[1] = sw.w1
      |  JOIN gw ON sw.w1 = gw.w1 CROSS JOIN vv
      |)
      |SELECT source, CAST(SUM(cs12) AS BIGINT) AS n_bigrams,
      |  CAST(floor(CAST(SUM(cs12 * (${Det.oLnFix("c1g - cs1 + v", 6)}
      |      - ${Det.oLnFix("c12g - cs12 + 1", 6)})) AS DOUBLE)
      |    / 1000000 / SUM(cs12) * 10000 + 0.5) AS DOUBLE) / 10000 AS heldout_nll
      |FROM j GROUP BY source
      |ORDER BY source""") { (s, dir) =>
    val t = fan(Tables(s, dir, "documents").select(col("source"), col("text")))
      .select(col("source"), TextOps.tokens(lower(col("text"))).as("tk"))
      .filter(size(col("tk")) >= 2)
      .transform(PlanMemo.pin) // reused: bigrams + vocab
    // strings die here: only (source, hash(bigram), hash(head)) shuffles
    val bg = t.select(col("source"), explode(TextOps.shingles(col("tk"), 2)).as("b"))
      .select(col("source"), xxhash64(col("b")).as("hb"),
        xxhash64(element_at(split(col("b"), " "), 1)).as("hw"))
    val sb = bg.groupBy("source", "hb", "hw").agg(count(lit(1)).as("cs12"))
      .transform(PlanMemo.pin) // reused: global rollup + join
    val gb = sb.groupBy("hb").agg(sum("cs12").cast("long").as("c12g"))
    val sw = bg.groupBy("source", "hw").agg(count(lit(1)).as("cs1"))
      .transform(PlanMemo.pin)
    val gw = sw.groupBy("hw").agg(sum("cs1").cast("long").as("c1g"))
    val v = t.select(explode(col("tk")).as("w"))
      .agg(countDistinct(xxhash64(col("w"))).as("v"))
    val term = Det.wide(col("cs12") * (Det.lnFix(col("c1g") - col("cs1") + col("v"), 6)
      - Det.lnFix(col("c12g") - col("cs12") + 1, 6)))
    sb.join(gb, "hb")
      .join(sw, Seq("source", "hw"))
      .join(gw, "hw")
      .crossJoin(broadcast(v))
      .groupBy("source")
      .agg(sum("cs12").cast("long").as("n_bigrams"),
        Det.quant(sum(term).cast("double") / 1000000 / sum("cs12"), 4).as("heldout_nll"))
      .orderBy("source")
  }

  // Type-token-ratio growth curve — lexical diversity by document-length
  // bucket: TTR falls predictably with length (Heaps' law), so a per-doc
  // TTR is only comparable WITHIN a length band, and a band whose TTR
  // sits below its neighbors flags templated/repetitive text the way
  // text_repetition does at the shingle level. Per-doc TTR is quantized
  // to a 1e-6 integer BEFORE the bucket average, so the reduction is an
  // exact integer sum (order-independent) and the average divides once.
  // One tokenize pass, one bucket aggregate. Audit row:
  // formula_audit.audit_ttr.
  q("text_ttr_curve",
    """WITH d AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents
      |), t AS (
      |  SELECT doc_id, len(tk) AS n_tok,
      |    len(list_distinct(tk)) AS n_types,
      |    len(tk) // 50 AS bucket,
      |    CAST(floor(CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk)
      |      * 1000000 + 0.5) AS BIGINT) AS ttr6
      |  FROM d WHERE len(tk) > 0
      |)
      |SELECT CAST(bucket AS BIGINT) AS len_bucket,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
      |  floor(CAST(SUM(ttr6) AS DOUBLE) / COUNT(*) + 0.5) / 1000000
      |    AS avg_ttr
      |FROM t GROUP BY bucket ORDER BY len_bucket""") { (s, dir) =>
    import graft.engine.Tables.fan
    val d = fan(Tables(s, dir, "documents").select(col("doc_id"), col("text")))
      .select(col("doc_id"), split(lower(col("text")), " ").as("tk"))
      .filter(size(col("tk")) > 0)
    val t = d.select(size(col("tk")).cast("long").as("n_tok"),
      size(array_distinct(col("tk"))).cast("long").as("n_types"),
      expr("size(tk) div 50").cast("long").as("bucket"),
      Det.fix(size(array_distinct(col("tk"))).cast("double") / size(col("tk")),
        6).cast("long").as("ttr6"))
    t.groupBy(col("bucket").as("len_bucket"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum("n_tok").cast("long").as("n_tokens"),
        (Det.half(sum("ttr6").cast("double") / count(lit(1)))
          / 1000000).as("avg_ttr"))
      .orderBy("len_bucket")
  }
}
