package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.reflect.io.Directory

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkEntry
import graft.builder.Pipeline
import graft.engine.Tables

/** What an op or a check needs from the current pass. */
final case class Ctx(spark: SparkSession, data: String, work: String,
                     tr: Tracer, lis: Option[Listeners], verify: Boolean) {
  def sink(name: String): String = s"$work/sinks/$name"
  def jobs: Double = lis.map(_.jobs).getOrElse(0.0)
  def layer(k: String, v: Double): Unit = lis.foreach(l => l.synchronized(l.c(k) += v))
}

/** One operation of a pass: built by its call and timed until its full
  * result has been materialized. */
final case class Op(name: String, run: Ctx => Unit)

/** A correctness check perfbench/run.py makes after the JVM exits: the rows
  * under `output` against DuckDB running `sql` over the same inputs, or
  * against the generator's ground truth. `mode` names the comparison. */
final case class Check(op: String, output: String, sql: String, mode: String)

trait Workload {
  /** Input tables first touched during set-up. */
  def tables: Seq[String]
  def ops(seed: Long): Seq[Op]
  /** The checks of the outputs the warm-up pass (`ctx.verify`) wrote. */
  def checks(ctx: Ctx): Seq[Check]
  /** Layer measurements that only the traced run makes, and the checks of
    * the outputs they write. */
  def traceExtras(ctx: Ctx): Seq[Check] = Nil
  /** Measured passes a run makes at least; each op's latency is its median
    * over them. */
  def minMeasured: Int = 1

  protected def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}

object Workloads {
  def apply(name: String, approx: Set[String]): Workload = name match {
    case "query_mix" => new QueryMix(approx)
    case "llm_curation" => LlmCuration
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }
}

/** A sample of the read-only graded queries over the generated tables. */
final class QueryMix(approx: Set[String]) extends Workload {
  val tables: Seq[String] = Tables.all

  /** One key from each of eight query families (the name's first word):
    * the six with the most keys that have a DuckDB oracle, plus `win` and
    * `join` (an as-of key), whose full-result cost `count()` hides. A
    * survey of all 551 such keys at sf0.01 (every read-only key whose
    * builder writes nowhere outside the run directory) sorted the eight
    * families by their median latency, and the j-th family gave the key
    * nearest the survey's (2j + 1) / 16 latency quantile, so the sample's
    * latency spread follows the inventory's. `llm`'s key is taken among
    * those that start jobs while the query is built, as 10 % of the
    * inventory does. perfbench/README.md compares the two. */
  val sample: Seq[String] = Seq("fn_null_coalesce", "agg_hll_sketch",
    "join_asof_forward", "win_percent_cume", "stats_anderson_darling",
    "llm_pack_bfd", "events_retention_decay_fit", "ts_theil_sen")

  /** The middle latencies of eight short ops lie close together, so with
    * one pass `op_p50_s` moved more between runs than `wall_s` did. */
  override val minMeasured = 2

  def ops(seed: Long): Seq[Op] = {
    val all = SparkEntry.queries
    new scala.util.Random(seed).shuffle(sample.sorted).map { key =>
      val fn = all(key)
      Op(key, ctx => {
        val before = ctx.jobs
        val df = ctx.tr("queries.build") { fn(ctx.spark, ctx.data) }
        ctx.layer("queries.build_jobs", ctx.jobs - before)
        ctx.tr("exec.write") {
          // the warm-up pass writes the result the oracle compare reads
          if (ctx.verify) df.coalesce(1).write.mode("overwrite").parquet(verifyDir(ctx, key))
          else noop(df)
        }
      })
    }
  }

  def checks(ctx: Ctx): Seq[Check] = sample.sorted.map { key =>
    Check(key, verifyDir(ctx, key), SparkEntry.oracleSql.getOrElse(key, ""),
      if (approx(key)) "approx" else "oracle")
  }

  private def verifyDir(ctx: Ctx, key: String) = s"${ctx.work}/verify/$key"
}

/** The curation pipeline and vector near-duplicate search over the planted
  * corpus. */
object LlmCuration extends Workload {
  val tables: Seq[String] = Seq("documents", "embeddings")
  val embTau = 0.95

  val steps: Seq[(String, String)] = Seq(
    "lang_filter" -> """{"op": "langFilter", "textCol": "text", "lang": "en"}""",
    "quality_gate" -> """{"op": "qualityGate", "textCol": "text", "minScore": 0.5}""",
    "pii_scrub" -> """{"op": "piiScrub", "col": "text"}""",
    "chunk_dedup" -> """{"op": "chunkDedup", "textCol": "text", "idCol": "doc_id", "width": 16}""",
    "dedup_near" -> """{"op": "dedupNear", "textCol": "text_dedup", "idCol": "doc_id", "k": 3, "tau": 0.5}""")

  private def config(ss: Seq[String]) =
    s"""{"source": "documents", "steps": [${ss.mkString(", ")}]}"""

  def ops(seed: Long): Seq[Op] = Seq(
    Op("curate", ctx => {
      val p = ctx.tr("builder.parse") { Pipeline.fromJson(config(steps.map(_._2))) }
      val df = ctx.tr("builder.run") { p.run(ctx.spark, ctx.data) }
      ctx.tr("builder.sink") { df.write.mode("overwrite").parquet(ctx.sink("curate")) }
    }),
    Op("emb_near_dup", ctx => {
      val df = ctx.tr("ops.build") {
        graft.ops.Sim.nearDupPairsBlocked(Tables(ctx.spark, ctx.data, "embeddings"), embTau)
      }
      ctx.tr("exec.write") { df.write.mode("overwrite").parquet(ctx.sink("emb_near_dup")) }
    }))

  def checks(ctx: Ctx): Seq[Check] = Seq(
    Check("curate", ctx.sink("curate"), "", "truth_docs"),
    Check("emb_near_dup", ctx.sink("emb_near_dup"), "", "truth_pairs"))

  /** An AvailableNow drain of `sdf` into a parquet sink, with a fresh
    * checkpoint. */
  private def drain(ctx: Ctx, name: String, sdf: DataFrame): Unit = {
    val out = ctx.sink(name)
    val chk = s"${ctx.work}/checkpoints/$name"
    new Directory(new File(chk)).deleteRecursively()
    new Directory(new File(out)).deleteRecursively()
    ctx.tr("streaming.drain") {
      sdf.writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", chk).trigger(Trigger.AvailableNow())
        .start().awaitTermination()
    }
  }

  /** Per-step and per-kernel timings (traced run only): each curation step
    * runs alone over the previous step's output, persisted as parquet. */
  override def traceExtras(ctx: Ctx): Seq[Check] = {
    val s = ctx.spark
    var in = ctx.data
    var rowsIn = Tables(s, in, "documents").count().toDouble
    steps.zipWithIndex.foreach { case ((name, step), i) =>
      val df = Pipeline.fromJson(config(Seq(step))).run(s, in)
      val t0 = System.nanoTime()
      ctx.tr(s"ops.$name") { noop(df) }
      ctx.layer(s"ops.$name.s", (System.nanoTime() - t0) / 1e9)
      val out = s"${ctx.work}/stages/$i"
      Files.createDirectories(Paths.get(out))
      df.write.mode("overwrite").parquet(s"$out/documents.parquet")
      val rowsOut = Tables(s, out, "documents").count().toDouble
      ctx.layer(s"ops.$name.keep_frac", rowsOut / math.max(rowsIn, 1.0))
      in = out
      rowsIn = rowsOut
    }
    val emb = Tables(s, ctx.data, "embeddings")
    val nVec = emb.count().toDouble
    val t0 = System.nanoTime()
    val losers = ctx.tr("ops.emb_near_dup") {
      graft.ops.Sim.nearDupPairsBlocked(emb, embTau).select("id_b").distinct().count()
    }
    ctx.layer("ops.emb_near_dup.s", (System.nanoTime() - t0) / 1e9)
    ctx.layer("ops.emb_near_dup.keep_frac", 1.0 - losers / nVec)

    graft.functions.DamerauLevenshtein.register(s)
    val docs = Tables(s, ctx.data, "documents")
      .select(col("doc_id"), col("text"), split(col("text"), " ").as("tk"),
        substring(col("text"), 1, 24).as("l"), substring(col("text"), 25, 24).as("r"))
      .persist()
    val vecs = emb.select(transform(col("embedding"), x => x.cast("double")).as("e")).persist()
    val nDocs = docs.count().toDouble
    vecs.count()
    Seq(
      ("graft_shingles", docs, "graft_shingles(tk, 3)", nDocs),
      ("graft_shingle_hashes", docs, "graft_shingle_hashes(tk, 3)", nDocs),
      ("graft_nfc", docs, "graft_nfc(text)", nDocs),
      ("graft_jw", docs, "graft_jw(l, r)", nDocs),
      ("graft_dl", docs, "graft_dl(l, r)", nDocs),
      ("graft_lsh_bands", vecs, "graft_lsh_bands(e, 32, 8)", nVec),
      ("graft_dot", vecs, "graft_dot(e, e)", nVec),
    ).foreach { case (fn, df, e, n) =>
      val t0 = System.nanoTime()
      ctx.tr(s"functions.$fn") { noop(df.selectExpr(e)) }
      ctx.layer(s"functions.$fn.rows_per_s", n / ((System.nanoTime() - t0) / 1e9))
    }
    docs.unpersist(true)
    vecs.unpersist(true)

    // streaming: the stream_near_dedup query as a real stream — minhash band
    // rows land in two files in doc_id order (one micro-batch each) and
    // NearDedup.bucketHits keeps each bucket's anchor in the state store
    val corpus = Tables(s, ctx.data, "documents")
    val staged = s"${ctx.work}/stages/bands"
    val bands = graft.ops.Dedup.minhashBands(corpus, "text", "doc_id", k = 3, numHashes = 32,
      bands = 8).select(col("id").as("doc_id"), col("band").cast("int").as("band"), col("bucket"))
    val half = corpus.count() / 2
    Seq(col("doc_id") < half, col("doc_id") >= half).foreach { part =>
      bands.filter(part).coalesce(1).write.mode("append").parquet(staged)
    }
    import s.implicits._
    val rows = s.readStream.schema(bands.schema).option("maxFilesPerTrigger", "1")
      .parquet(staged).as[graft.streaming.NearDedup.BandRow]
    drain(ctx, "stream_near_dedup", graft.streaming.NearDedup.bucketHits(rows).toDF())
    Seq(Check("stream_near_dedup", ctx.sink("stream_near_dedup"),
      SparkEntry.oracleSql("stream_near_dedup"), "anchors"))
  }
}
