package graft

import graft.streaming.{Funnel, Streams}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("funnel emits conversion incrementally across micro-batches, exactly once") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Funnel.Ev]
    val q = Funnel.conversions(in.toDS())
      .writeStream.format("memory").queryName("funnel_test")
      .outputMode("append").start()
    try {
      in.addData(Funnel.Ev(1L, 100L, "signup"), Funnel.Ev(1L, 50L, "purchase"))
      q.processAllAvailable()
      assert(spark.table("funnel_test").count() == 0) // purchase before signup
      in.addData(Funnel.Ev(1L, 200L, "purchase"), Funnel.Ev(2L, 10L, "view"))
      q.processAllAvailable()
      val rows = spark.table("funnel_test").as[Funnel.Conversion].collect()
      assert(rows.toSeq == Seq(Funnel.Conversion(1L, 100L, 200L)))
      in.addData(Funnel.Ev(1L, 300L, "purchase")) // after emission → ignored
      q.processAllAvailable()
      assert(spark.table("funnel_test").count() == 1)
    } finally q.stop()
  }

  test("same-timestamp signup and purchase converts (batch mode)") {
    val ds = Seq(Funnel.Ev(7L, 100L, "purchase"), Funnel.Ev(7L, 100L, "signup")).toDS()
    val out = Funnel.conversions(ds).collect()
    assert(out.toSeq == Seq(Funnel.Conversion(7L, 100L, 100L)))
  }

  test("crossings detector carries prev-sample state across micro-batches") {
    import graft.streaming.Crossings
    import graft.streaming.Crossings.{Crossing, Sample}
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Sample]
    val q = Crossings.crossings(in.toDS(), thresholdCents = 100L)
      .writeStream.format("memory").queryName("crossings_test")
      .outputMode("append").start()
    try {
      // batch 1: first sample never fires (no prev); then below threshold
      in.addData(Sample(1L, 1000000L, 1L, 150L), Sample(1L, 2000000L, 2L, 80L))
      q.processAllAvailable()
      assert(spark.table("crossings_test").count() == 0)
      // batch 2: prev=80 (from the PREVIOUS micro-batch) → up-crossing
      in.addData(Sample(1L, 3000000L, 3L, 120L))
      q.processAllAvailable()
      val rows = spark.table("crossings_test").as[Crossing].collect()
      assert(rows.toSeq == Seq(Crossing(1L, 3L, 3L, 120L)))
      // batch 3: stays above → debounced, no re-fire
      in.addData(Sample(1L, 4000000L, 4L, 200L))
      q.processAllAvailable()
      assert(spark.table("crossings_test").count() == 1)
    } finally q.stop()
  }

  test("cdc upsert resolves last-writer-wins by event time across micro-batches") {
    import graft.streaming.{CdcUpsert, Ttl}
    import graft.streaming.CdcUpsert.{Op, Upsert}
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Op]
    val q = CdcUpsert.upserts(in.toDS())
      .writeStream.format("memory").queryName("cdc_test")
      .outputMode("append").start()
    try {
      // batch 1: two upserts for key 1, event time decides (id 2 wins)
      in.addData(Op(1L, 1000L, 1L, 500L, del = false),
        Op(1L, 2000L, 2L, 600L, del = false))
      q.processAllAvailable()
      def latest(): Map[Long, Upsert] =
        spark.table("cdc_test").as[Upsert].collect()
          .zipWithIndex.sortBy(_._2).map(_._1)
          .groupBy(_.user_id).view.mapValues(_.last).toMap
      assert(latest()(1L) == Upsert(1L, 2000L, 600L, 0))
      // batch 2: an OLDER event arrives late — state must NOT regress
      in.addData(Op(1L, 1500L, 9L, 999L, del = false))
      q.processAllAvailable()
      assert(latest()(1L) == Upsert(1L, 2000L, 600L, 0))
      // batch 3: a newer DELETE tombstones the key
      in.addData(Op(1L, 3000L, 10L, 0L, del = true))
      q.processAllAvailable()
      assert(latest()(1L) == Upsert(1L, 3000L, 0L, 1))
    } finally q.stop()
  }

  test("watermark drops late rows in append-mode windowed aggregation") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, Long)]
    val agg = in.toDF().toDF("ts", "v")
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "10 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp($"window.start").as("ws"), $"n")
    val q = agg.writeStream.format("memory").queryName("wm_test")
      .outputMode("append").start()
    def ts(min: Int) = new java.sql.Timestamp(min * 60000L)
    try {
      in.addData((ts(1), 1L), (ts(2), 2L))
      q.processAllAvailable()
      // advance watermark far past the first window
      in.addData((ts(60), 3L))
      q.processAllAvailable()
      val afterClose = spark.table("wm_test").as[(Long, Long)].collect().toMap
      assert(afterClose.get(0L).contains(2L)) // first window finalized with 2 rows
      // this row belongs to the closed window → must be DROPPED
      in.addData((ts(3), 99L))
      q.processAllAvailable()
      val fin = spark.table("wm_test").as[(Long, Long)].collect().toMap
      assert(fin.get(0L).contains(2L), "late row leaked into closed window")
    } finally q.stop()
  }

  test("two-stream interval join equals the batch-graded form") {
    val clicks = Streams.eventsStream(spark, sf)
      .filter($"event_type" === "click")
      .select($"user_id", $"ts".as("c_ts"))
      .withWatermark("c_ts", "10 minutes")
    val purchases = Streams.eventsStream(spark, sf)
      .filter($"event_type" === "purchase")
      .select($"user_id".as("p_uid"), $"ts".as("p_ts"))
      .withWatermark("p_ts", "10 minutes")
    val joined = clicks.join(purchases,
        $"user_id" === $"p_uid" &&
        $"p_ts" > $"c_ts" &&
        $"p_ts" <= $"c_ts" + expr("INTERVAL 10 MINUTES"))
      .select($"user_id", unix_micros($"c_ts").as("click_us"),
        unix_micros($"p_ts").as("purchase_us"))
    val streamed = Streams.toMemory(joined, "ssj_test",
        spark.conf.get("spark.sql.shuffle.partitions").toInt)
      .orderBy("user_id", "click_us", "purchase_us")
      .as[(Long, Long, Long)].collect().toSeq
    val batch = SparkEntry.queries("stream_stream_join")(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("rate-source stream ingests message-bus-shaped unbounded input") {
    // No Kafka broker exists offline; rate-micro-batch is Spark's built-in
    // unbounded source with the same shape (per-batch offsets, monotone
    // values) — it stands in for the message-bus ingestion path. The
    // memory sink commits whole batches, so after stop() the table must
    // hold an exact contiguous prefix 0..n-1 of the generated values:
    // any loss, dup, or torn batch breaks the set equality.
    val q = spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", 100)
      .option("numPartitions", 4)
      .load()
      .select($"timestamp", $"value")
      .writeStream.format("memory").queryName("rate_test")
      .outputMode("append").start()
    try {
      val deadline = System.currentTimeMillis() + 30000
      while (spark.table("rate_test").count() < 300
             && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
    } finally q.stop()
    val values = spark.table("rate_test").select($"value").as[Long].collect()
    assert(values.length >= 300, s"only ${values.length} rows after 30 s")
    assert(values.length % 100 == 0, "memory sink committed a torn batch")
    assert(values.toSet == (0L until values.length).toSet,
      "rate stream lost or duplicated values")
  }

  test("checkpointed sink restart is exactly-once: no loss, no replay") {
    // Kill-and-restart recovery drill for the checkpointed parquet sink:
    // drain wave 1, "crash" (query fully stopped), drop wave 2 into the
    // source, restart the SAME query against the SAME checkpoint. The
    // file-source offset log must make the restarted run process ONLY the
    // new files — wave-1 rows appear exactly once in the sink. This is
    // the recovery semantics a 100 TB deployment leans on after an
    // executor/driver loss; deterministic here because the "crash" falls
    // on a batch boundary (AvailableNow drains wave 1 completely).
    import java.nio.file.Paths
    import scala.reflect.io.Directory
    val base = "/tmp/graft_io/recovery_test"
    for (d <- Seq("src", "out", "chk"))
      new Directory(new java.io.File(s"$base/$d")).deleteRecursively()
    val events = engine.Tables(spark, sf, "events")
      .select("event_id", "user_id", "event_type", "value")
    val total = events.count()
    val wave1N = events.filter($"event_id" % 2 === 0).count()
    events.filter($"event_id" % 2 === 0)
      .write.mode("overwrite").parquet(s"$base/src")
    def drain(): Unit = {
      val q = spark.readStream
        .schema(events.schema)
        .parquet(s"$base/src")
        .writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/chk")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()
    assert(spark.read.parquet(s"$base/out").count() == wave1N)
    assert(java.nio.file.Files.exists(Paths.get(s"$base/chk/offsets")),
      "no offset log written — restart would reprocess from scratch")
    events.filter($"event_id" % 2 =!= 0)
      .write.mode("append").parquet(s"$base/src")
    drain() // restart from the surviving checkpoint
    val sunk = spark.read.parquet(s"$base/out")
    assert(sunk.count() == total, "restart lost or replayed rows")
    assert(sunk.select(countDistinct($"event_id")).as[Long].head() == total,
      "restart wrote duplicate events — offset recovery failed")
  }

  test("Streams.drain picks RocksDB from a transformWithState plan and " +
    "leaves the session's state store provider as it found it") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val hdfs = "org.apache.spark.sql.execution.streaming.state." +
      "HDFSBackedStateStoreProvider"
    implicit val sqlCtx = spark.sqlContext
    engine.Confs.withConfs(spark)(key -> hdfs) {
      // building a tws op writes no session conf
      graft.streaming.TwsCounts.counts(
        MemoryStream[graft.streaming.TwsCounts.Ev].toDS())
      assert(spark.conf.get(key) == hdfs)
      // transformWithState refuses every store but RocksDB, so this drain
      // succeeds only if the runner switched the provider for its run
      assert(SparkEntry.queries("stream_tws_mapstate_counts")(spark, sf)
        .count() > 0)
      assert(spark.conf.get(key) == hdfs)
      assert(SparkEntry.queries("stream_watermark_late")(spark, sf).count() > 0)
      assert(spark.conf.get(key) == hdfs)
    }
  }

  test("file-source streaming tumbling equals batch result") {
    val streamed = Streams.toMemory(Streams.eventsStream(spark, sf)
        .groupBy(window($"ts", "1 hour")).agg(count(lit(1)).as("n"))
        .select(unix_timestamp($"window.start").as("ws"), $"n"),
      "tumbling_test", spark.conf.get("spark.sql.shuffle.partitions").toInt,
      "complete")
      .orderBy("ws").as[(Long, Long)].collect().toSeq
    val batch = engine.Tables(spark, sf, "events")
      .groupBy(window($"ts", "1 hour")).agg(count(lit(1)).as("n"))
      .select(unix_timestamp($"window.start").as("ws"), $"n")
      .orderBy("ws").as[(Long, Long)].collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("rate limiter carries the token bucket across micro-batches") {
    import graft.streaming.RateLimit
    import graft.streaming.RateLimit.{Decision, Ev}
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = RateLimit.decide(in.toDS())
      .writeStream.format("memory").queryName("ratelimit_test")
      .outputMode("append").start()
    def us(sec: Long) = sec * 1000000L
    try {
      // batch 1: burst of 6 at t=0..5s — bucket starts full (5), the
      // 6th is rejected (no refill inside 100 s)
      in.addData((1 to 6).map(i => Ev(1L, us(i.toLong), i.toLong)): _*)
      q.processAllAvailable()
      val b1 = spark.table("ratelimit_test").as[Decision].collect()
        .sortBy(_.event_id)
      assert(b1.map(_.admitted).toSeq == Seq(1, 1, 1, 1, 1, 0))
      assert(b1.last.tokens_after == 0L)
      // batch 2: 250 s later — bucket refilled by exactly 2 tokens OF THE
      // PREVIOUS batch's state; both admitted, second drains it again
      in.addData(Ev(1L, us(255L), 7L), Ev(1L, us(256L), 8L))
      q.processAllAvailable()
      val b2 = spark.table("ratelimit_test").as[Decision].collect()
        .sortBy(_.event_id).drop(6)
      assert(b2.map(_.admitted).toSeq == Seq(1, 1))
      assert(b2.last.tokens_after == 0L)
    } finally q.stop()
  }

  test("events_markov_steady conserves probability mass and matches the " +
    "transition structure") {
    val r = SparkEntry.queries("events_markov_steady")(spark, sf).collect()
    assert(r.nonEmpty)
    // 16 floor-divisions lose at most (k rows x 16 iters) / 1e12 of mass
    val mass = r.map(_.getAs[Double]("steady_prob")).sum
    assert(mass <= 1.0 + 1e-9 && mass > 1.0 - 1e-6, s"mass = $mass")
    // every type with observed outgoing transitions keeps positive mass
    // in an irreducible-ish session chain; none may go negative
    assert(r.forall(_.getAs[Double]("steady_prob") >= 0.0))
    assert(r.map(_.getAs[String]("event_type")).distinct.length == r.length)
  }

  test("near-dedup bucket anchors carry across micro-batches and match batch") {
    import graft.streaming.NearDedup
    import graft.streaming.NearDedup.{BandRow, Hit}
    implicit val sqlCtx = spark.sqlContext
    val batch1 = Seq(BandRow(1L, 0, 100L), BandRow(5L, 0, 100L),
      BandRow(5L, 1, 200L))
    val batch2 = Seq(BandRow(9L, 0, 100L), BandRow(9L, 1, 200L),
      BandRow(12L, 2, 300L))
    def finalAnchors(hits: Seq[Hit]): Map[Long, Long] =
      hits.groupBy(_.doc_id).view.mapValues(_.map(_.anchor).min).toMap
    val in = MemoryStream[BandRow]
    val q = NearDedup.bucketHits(in.toDS())
      .writeStream.format("memory").queryName("neardedup_test")
      .outputMode("append").start()
    try {
      in.addData(batch1: _*)
      q.processAllAvailable()
      // batch 2 doc 9 must see bucket (0,100)'s anchor=1 FROM STATE (doc 1
      // is not in this micro-batch) and (1,200)'s anchor=5
      in.addData(batch2: _*)
      q.processAllAvailable()
      val streamed = finalAnchors(
        spark.table("neardedup_test").as[Hit].collect().toSeq)
      assert(streamed == Map(1L -> 1L, 5L -> 1L, 9L -> 1L, 12L -> 12L))
      // in-order arrival == the graded batch path (one group invocation)
      val batched = finalAnchors(
        NearDedup.bucketHits((batch1 ++ batch2).toDS()).collect().toSeq)
      assert(batched == streamed)
    } finally q.stop()
  }

  test("TTL: timed-out groups are evicted and emit nothing (all five state fns)") {
    // the timeout path can't be driven through a real stream without clock
    // control, so exercise each op's named state fn through TestGroupState
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    def timedOut[S](s: S): TestGroupState[S] = TestGroupState.create[S](
      Optional.of(s), GroupStateTimeout.ProcessingTimeTimeout,
      1000L, Optional.empty(), true)
    import graft.streaming._
    val s1 = timedOut(NearDedup.Anchor(7L))
    assert(NearDedup.stateFn(Ttl.ProcessingTime(60000L))((0, 1L), Iterator.empty, s1).isEmpty)
    assert(s1.isRemoved, "near-dedup anchor not evicted on timeout")
    val s2 = timedOut(CdcUpsert.Winner(1L, 1L, 1L, del = false))
    assert(CdcUpsert.stateFn(Ttl.ProcessingTime(60000L))(1L, Iterator.empty, s2).isEmpty)
    assert(s2.isRemoved)
    val s3 = timedOut(Crossings.PrevState(50L))
    assert(Crossings.stateFn(100L, Ttl.ProcessingTime(60000L))(1L, Iterator.empty, s3).isEmpty)
    assert(s3.isRemoved)
    val s4 = timedOut(Funnel.FunnelState(Some(10L), emitted = false))
    assert(Funnel.stateFn(Ttl.ProcessingTime(60000L))(1L, Iterator.empty, s4).isEmpty)
    assert(s4.isRemoved)
    val s5 = timedOut(RateLimit.Bucket(3L, 100L))
    assert(RateLimit.stateFn(Ttl.ProcessingTime(60000L))(1L, Iterator.empty, s5).isEmpty)
    assert(s5.isRemoved)
  }

  test("TTL: a live update arms the processing-time timeout; ttl=0 does not") {
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import graft.streaming.{NearDedup, Ttl}
    val armed = TestGroupState.create[NearDedup.Anchor](
      Optional.empty(), GroupStateTimeout.ProcessingTimeTimeout,
      5000L, Optional.empty(), false)
    val hits = NearDedup.stateFn(Ttl.ProcessingTime(60000L))((0, 1L),
      Iterator(NearDedup.BandRow(42L, 0, 1L)), armed).toSeq
    assert(hits == Seq(NearDedup.Hit(42L, 0, 42L)))
    assert(armed.getTimeoutTimestampMs.get() == 65000L,
      "timeout must arm at batchProcessingTime + ttl")
    // Ttl.Off routes through NoTimeout and must never call setTimeoutDuration
    // (which would throw under NoTimeout) — the graded batch path
    val plain = TestGroupState.create[NearDedup.Anchor](
      Optional.empty(), GroupStateTimeout.NoTimeout,
      5000L, Optional.empty(), false)
    val hits0 = NearDedup.stateFn(Ttl.Off)((0, 1L),
      Iterator(NearDedup.BandRow(42L, 0, 1L)), plain).toSeq
    assert(hits0 == Seq(NearDedup.Hit(42L, 0, 42L)))
    assert(!plain.getTimeoutTimestampMs.isPresent)
  }

  test("TTL: a non-positive Ttl duration is rejected when built, naming it") {
    import graft.streaming.Ttl
    val zero = intercept[IllegalArgumentException](Ttl.ProcessingTime(0L))
    assert(zero.getMessage.contains("Ttl.ProcessingTime") &&
      zero.getMessage.contains("got 0 ms"), zero.getMessage)
    val negative = intercept[IllegalArgumentException](Ttl.EventTime(-1L))
    assert(negative.getMessage.contains("Ttl.EventTime") &&
      negative.getMessage.contains("got -1 ms"), negative.getMessage)
  }

  // A ProcessingTimeTimeout query NEVER reaches noNewData (the state op
  // reports shouldRunAnotherBatch=true every trigger so the engine keeps
  // scheduling timeout-sweep batches), so processAllAvailable would block
  // forever — TTL tests poll the memory sink with a deadline instead, and
  // throttle the trigger so the sweep loop isn't a hot spin.
  private def awaitRows(table: String, n: Long, timeoutMs: Long = 60000L): Unit = {
    val deadline = System.currentTimeMillis + timeoutMs
    while (spark.table(table).count() < n) {
      assert(System.currentTimeMillis < deadline,
        s"timed out waiting for $n rows in $table " +
          s"(have ${spark.table(table).count()})")
      Thread.sleep(100L)
    }
  }

  test("TTL parity: near-dedup with a wide TTL matches the unbounded run") {
    // within the TTL window (here 1 h ≫ test wall-time) the TTL run's
    // emissions are IDENTICAL to ttl=0 — eviction is the only divergence
    import graft.streaming.NearDedup
    import graft.streaming.NearDedup.{BandRow, Hit}
    implicit val sqlCtx = spark.sqlContext
    val batch1 = Seq(BandRow(1L, 0, 100L), BandRow(5L, 0, 100L),
      BandRow(5L, 1, 200L))
    val batch2 = Seq(BandRow(9L, 0, 100L), BandRow(9L, 1, 200L),
      BandRow(12L, 2, 300L))
    val in = MemoryStream[BandRow]
    val q = NearDedup.bucketHits(in.toDS(), ttlMs = 3600L * 1000L)
      .writeStream.format("memory").queryName("neardedup_ttl_parity")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime("100 milliseconds")).start()
    try {
      in.addData(batch1: _*); awaitRows("neardedup_ttl_parity", 3)
      in.addData(batch2: _*); awaitRows("neardedup_ttl_parity", 6)
      val streamed = spark.table("neardedup_ttl_parity").as[Hit].collect()
        .groupBy(_.doc_id).view.mapValues(_.map(_.anchor).min).toMap
      assert(streamed == Map(1L -> 1L, 5L -> 1L, 9L -> 1L, 12L -> 12L))
    } finally q.stop()
  }

  test("TTL expiry end-to-end: an idle bucket's anchor is forgotten") {
    // short TTL + real wall-clock idle: bucket (0,100) anchored at doc 1
    // must be EVICTED by the engine's timeout-sweep batches during the
    // idle window, so doc 200 later becomes its own anchor (not flagged) —
    // the documented one-sided recall trade.
    import graft.streaming.NearDedup
    import graft.streaming.NearDedup.{BandRow, Hit}
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[BandRow]
    val q = NearDedup.bucketHits(in.toDS(), ttlMs = 600L)
      .writeStream.format("memory").queryName("neardedup_ttl_expiry")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime("100 milliseconds")).start()
    try {
      in.addData(BandRow(1L, 0, 100L))
      awaitRows("neardedup_ttl_expiry", 1)
      Thread.sleep(2000L) // ≫ ttl: the sweep evicts bucket (0,100)
      in.addData(BandRow(200L, 0, 100L))
      awaitRows("neardedup_ttl_expiry", 2)
      val anchors = spark.table("neardedup_ttl_expiry").as[Hit].collect()
        .groupBy(_.doc_id).view.mapValues(_.map(_.anchor).min).toMap
      assert(anchors(200L) == 200L,
        s"bucket anchor survived past the TTL: ${anchors(200L)}")
      // the evicted bucket is out of the store: ≤ 1 live bucket remains
      // (poll — progress reporting lags the sink by up to a trigger)
      val deadline = System.currentTimeMillis + 15000L
      def stateRows: Long = Option(q.lastProgress)
        .flatMap(_.stateOperators.headOption).map(_.numRowsTotal)
        .getOrElse(Long.MaxValue)
      while (stateRows > 1L && System.currentTimeMillis < deadline)
        Thread.sleep(200L)
      assert(stateRows <= 1L, s"expired bucket still in state: $stateRows rows")
    } finally q.stop()
  }

  test("event-time TTL: all five fns arm the timeout at max event time + " +
    "horizon, clamped past the watermark (r13)") {
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import graft.streaming._
    def st[S](wmMs: Long): TestGroupState[S] = TestGroupState.create[S](
      Optional.empty(), GroupStateTimeout.EventTimeTimeout,
      1000L, Optional.of(wmMs), false)
    val h = 60000L // horizon
    // max event time 7 s → timeout at 7 000 + 60 000 = 67 000 ms
    val s1 = st[CdcUpsert.Winner](5000L)
    CdcUpsert.stateFn(Ttl.EventTime(h))(1L,
      Iterator(CdcUpsert.Op(1L, 7000000L, 1L, 100L, del = false)), s1)
    assert(s1.getTimeoutTimestampMs.get() == 67000L)
    val s2 = st[Crossings.PrevState](5000L)
    Crossings.stateFn(100L, Ttl.EventTime(h))(1L,
      Iterator(Crossings.Sample(1L, 7000000L, 1L, 50L)), s2)
    assert(s2.getTimeoutTimestampMs.get() == 67000L)
    val s3 = st[Funnel.FunnelState](5000L)
    Funnel.stateFn(Ttl.EventTime(h))(1L,
      Iterator(Funnel.Ev(1L, 7000000L, "signup")), s3)
    assert(s3.getTimeoutTimestampMs.get() == 67000L)
    val s4 = st[RateLimit.Bucket](5000L)
    RateLimit.stateFn(Ttl.EventTime(h))(1L,
      Iterator(RateLimit.Ev(1L, 7000000L, 1L)), s4)
    assert(s4.getTimeoutTimestampMs.get() == 67000L)
    val s5 = st[NearDedup.Anchor](5000L)
    NearDedup.tsStateFn(Ttl.EventTime(h))((0, 1L),
      Iterator(NearDedup.TsBandRow(42L, 0, 1L, 7000000L)), s5)
    assert(s5.getTimeoutTimestampMs.get() == 67000L)
    // a key whose whole horizon is already behind the watermark cannot
    // arm in the past (Spark rejects that) — it clamps to wm + 1 and is
    // swept at the next timeout batch
    val s6 = st[CdcUpsert.Winner](500000L)
    CdcUpsert.stateFn(Ttl.EventTime(h))(1L,
      Iterator(CdcUpsert.Op(1L, 7000000L, 1L, 100L, del = false)), s6)
    assert(s6.getTimeoutTimestampMs.get() == 500001L)
    // and the timed-out path still evicts
    val s7 = TestGroupState.create[NearDedup.Anchor](
      Optional.of(NearDedup.Anchor(7L)), GroupStateTimeout.EventTimeTimeout,
      1000L, Optional.of(999999L), true)
    assert(NearDedup.tsStateFn(Ttl.EventTime(h))((0, 1L), Iterator.empty, s7).isEmpty)
    assert(s7.isRemoved)
  }

  test("event-time TTL end-to-end: eviction keyed to the watermark, no " +
    "wall clock anywhere (r13)") {
    // the whole point of the event-time clock: this test has NO sleeps
    // and NO deadline polls — the data alone decides what is evicted,
    // exactly as it would on a backfill replay.
    import graft.streaming.NearDedup
    import graft.streaming.NearDedup.{TsBandRow, Hit}
    implicit val sqlCtx = spark.sqlContext
    def us(sec: Long) = sec * 1000000L
    val in = MemoryStream[TsBandRow]
    val src = in.toDS()
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "0 seconds")
      .as[TsBandRow]
    val q = NearDedup.bucketHitsEventTtl(src, eventTtlMs = 100000L) // 100 s
      .writeStream.format("memory").queryName("neardedup_ev_ttl")
      .outputMode("append").start()
    try {
      // t=10 s: bucket (0,100) anchored at doc 1
      in.addData(TsBandRow(1L, 0, 100L, us(10)))
      q.processAllAvailable()
      // t=20 s (within horizon): doc 5 is flagged against anchor 1
      in.addData(TsBandRow(5L, 0, 100L, us(20)))
      q.processAllAvailable()
      // t=1000 s in an unrelated bucket: watermark sails past the
      // bucket's 20 s + 100 s deadline → (0,100) evicted by the sweep
      in.addData(TsBandRow(999L, 0, 777L, us(1000)))
      q.processAllAvailable()
      // t=1010 s: the bucket is fresh — doc 200 anchors itself (the
      // documented one-sided recall trade, now on the data clock)
      in.addData(TsBandRow(200L, 0, 100L, us(1010)))
      q.processAllAvailable()
      val anchors = spark.table("neardedup_ev_ttl").as[Hit].collect()
        .groupBy(_.doc_id).view.mapValues(_.map(_.anchor).min).toMap
      assert(anchors == Map(1L -> 1L, 5L -> 1L, 999L -> 999L, 200L -> 200L),
        s"got $anchors")
    } finally q.stop()
  }

  test("event-time TTL parity: within the horizon the CDC upsert equals " +
    "the unbounded run; a stale op past it is DROPPED, never re-wins (r13)") {
    import graft.streaming.{CdcUpsert, Ttl}
    import graft.streaming.CdcUpsert.{Op, Upsert}
    implicit val sqlCtx = spark.sqlContext
    def us(sec: Long) = sec * 1000000L
    def run(name: String, horizonMs: Long)(batches: Seq[Op]*): Map[Long, Upsert] = {
      val in = MemoryStream[Op]
      val src = in.toDS()
        .withColumn("ts", timestamp_micros(col("ts_us")))
        .withWatermark("ts", "0 seconds")
        .as[Op]
      val q = CdcUpsert.upserts(src, Ttl.EventTime(horizonMs))
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
        // LAST emission per key = the key's current winner
        spark.table(name).as[Upsert].collect().zipWithIndex
          .groupBy(_._1.user_id).view
          .mapValues(v => v.maxBy(_._2)._1).toMap
      } finally q.stop()
    }
    val b1 = Seq(Op(1L, us(10), 100L, 500L, del = false))
    val b2 = Seq(Op(1L, us(20), 101L, 700L, del = false))
    // stale op: event time BEFORE the current winner's
    val b3 = Seq(Op(1L, us(15), 102L, 999L, del = false))
    // wm driver rows on an unrelated key, far in the future
    val far = Seq(Op(9L, us(5000), 900L, 1L, del = false))
    // WIDE horizon (1e9 s): the stale op loses — exact LWW, parity with
    // the unbounded run. (wm is still ≤ 15 s when b3 arrives, so the op
    // reaches the fn and loses on the (ts, event_id) max.)
    val wide = run("cdc_ev_wide", 1000000000L)(b1, b2, b3)
    assert(wide(1L).cents == 700L, s"stale op re-won under wide horizon: $wide")
    // NARROW horizon (100 s): the wm jump evicts key 1's state — and the
    // SAME watermark drops the stale op before the fn ever sees it
    // (EventTimeTimeout's late-data filter). This is the event-time
    // clock's structural advantage over the processing-time TTL, where
    // eviction and lateness run on DIFFERENT clocks and a stale op can
    // re-win against an evicted key: here one horizon governs both, so
    // LWW-within-horizon is exact — a late op can never be applied as
    // first. Key 1's winner must remain the pre-eviction emission.
    val narrow = run("cdc_ev_narrow", 100000L)(b1, b2, far, b3)
    assert(narrow(1L).cents == 700L,
      s"late op was not dropped after eviction: $narrow")
  }

  test("tws interval join: multi-batch emissions equal the one-batch join, " +
    "each pair exactly once (r13)") {
    import graft.streaming.TwsIntervalJoin
    import graft.streaming.TwsIntervalJoin.{Pair, Tagged}
    implicit val sqlCtx = spark.sqlContext
    def us(sec: Long) = sec * 1000000L
    // window 60 s. u1: click@10 pairs with purchases @20 and @65 (not
    // @80); u2: click@30 never pairs (purchase @95 misses 30+60).
    // Batches split so event time is non-decreasing across them (rows
    // behind the watermark are dropped at the door by design).
    val b1 = Seq(Tagged(1L, us(10), 1L, 0), Tagged(1L, us(20), 2L, 1))
    val b2 = Seq(Tagged(2L, us(30), 5L, 0), Tagged(1L, us(65), 3L, 1))
    val b3 = Seq(Tagged(1L, us(80), 4L, 1), Tagged(2L, us(95), 6L, 1))
    val expected = Set(
      Pair(1L, 1L, us(10), 2L, us(20)), Pair(1L, 1L, us(10), 3L, us(65)))
    def run(name: String)(batches: Seq[Tagged]*): Set[Pair] = {
      val in = MemoryStream[Tagged]
      val src = in.toDS()
        .withColumn("ts", timestamp_micros(col("ts_us")))
        .withWatermark("ts", "0 seconds")
        .as[Tagged]
      engine.Confs.withConfs(spark)(Streams.rocksDbStore) {
        val q = TwsIntervalJoin.pairs(src, us(60))
          .writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try {
          batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
          spark.table(name).as[Pair].collect().toSet
        } finally q.stop()
      }
    }
    val one = run("tws_ij_one")(b1 ++ b2 ++ b3)
    val multi = run("tws_ij_multi")(b1, b2, b3)
    assert(one == expected, s"one-batch: $one")
    assert(multi == expected, s"multi-batch: $multi")
  }

  test("tws interval join: the pruning timer bounds buffers to the live " +
    "window horizon (r13)") {
    import graft.streaming.TwsIntervalJoin
    import graft.streaming.TwsIntervalJoin.{Pair, Tagged}
    implicit val sqlCtx = spark.sqlContext
    def us(sec: Long) = sec * 1000000L
    val in = MemoryStream[Tagged]
    val src = in.toDS()
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "0 seconds")
      .as[Tagged]
    engine.Confs.withConfs(spark)(Streams.rocksDbStore) {
      val q = TwsIntervalJoin.pairs(src, us(60))
        .writeStream.format("memory").queryName("tws_ij_prune")
        .outputMode("append").start()
      try {
        in.addData(Tagged(1L, us(10), 1L, 0), Tagged(1L, us(20), 2L, 1))
        q.processAllAvailable()
        // watermark jump to 1000 s: the batch-1 timer (81 s) fires; the
        // click@10 (dead past 70 s) and purchase@20 (dead past its own ts)
        // are pruned; only the fresh @1000 row may remain buffered
        in.addData(Tagged(1L, us(1000), 9L, 1))
        q.processAllAvailable()
        in.addData(Tagged(2L, us(2000), 10L, 0)) // push wm again → sweep runs
        q.processAllAvailable()
        assert(spark.table("tws_ij_prune").as[Pair].collect().toSet ==
          Set(Pair(1L, 1L, us(10), 2L, us(20))))
        val deadline = System.currentTimeMillis + 15000L
        def stateRows: Long = Option(q.lastProgress)
          .flatMap(_.stateOperators.headOption).map(_.numRowsTotal)
          .getOrElse(Long.MaxValue)
        while (stateRows > 2L && System.currentTimeMillis < deadline)
          Thread.sleep(200L)
        // unpruned this would be ≥ 4 buffered rows (2 dead + 2 live)
        assert(stateRows <= 2L, s"buffers not pruned: $stateRows state rows")
      } finally q.stop()
    }
  }

  test("tws MapState counters: last emission per (user, type) equals the " +
    "batch group-by across any batch split (r13)") {
    import graft.streaming.TwsCounts
    import graft.streaming.TwsCounts.{Ev, TypeCount}
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(Ev(1L, "click"), Ev(1L, "view"), Ev(1L, "click"),
      Ev(2L, "view"), Ev(1L, "click"), Ev(2L, "view"))
    val expected = Map((1L, "click") -> 3L, (1L, "view") -> 1L,
      (2L, "view") -> 2L)
    def run(name: String)(batches: Seq[Ev]*): Map[(Long, String), Long] = {
      val in = MemoryStream[Ev]
      engine.Confs.withConfs(spark)(Streams.rocksDbStore) {
        val q = TwsCounts.counts(in.toDS())
          .writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        try {
          batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
          spark.table(name).as[TypeCount].collect().zipWithIndex
            .groupBy(r => (r._1.user_id, r._1.event_type)).view
            .mapValues(v => v.maxBy(_._2)._1.n).toMap
        } finally q.stop()
      }
    }
    assert(run("tws_counts_one")(rows) == expected)
    assert(run("tws_counts_multi")(rows.take(2), rows.slice(2, 4),
      rows.drop(4)) == expected)
  }

  test("tws initial state: seeds fold under streamed increments, unseeded " +
    "keys start at zero, idle seeds stay silent (r13)") {
    import graft.streaming.TwsSeeded
    import graft.streaming.TwsSeeded.{Ev, Seed, Total}
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val seeds = Seq(Seed(1L, 100L), Seed(2L, 200L), Seed(9L, 900L)).toDS()
    val in = MemoryStream[Ev]
    engine.Confs.withConfs(spark)(Streams.rocksDbStore) {
      val q = TwsSeeded.totals(in.toDS(), seeds)
        .writeStream.format("memory").queryName("tws_seeded")
        .outputMode("append").start()
      try {
        in.addData(Ev(1L, 5L), Ev(3L, 7L)) // 1 seeded, 3 not
        q.processAllAvailable()
        in.addData(Ev(1L, 2L), Ev(2L, 4L)) // seed 2 first touched in batch 2
        q.processAllAvailable()
        val last = spark.table("tws_seeded").as[Total].collect().zipWithIndex
          .groupBy(_._1.user_id).view.mapValues(_.maxBy(_._2)._1.lifetime_cents)
          .toMap
        assert(last == Map(1L -> 107L, 2L -> 204L, 3L -> 7L), s"got $last")
        // user 9 is seeded but never streamed — no emission, state waits
        assert(!last.contains(9L))
      } finally q.stop()
    }
  }

  test("stream_near_dedup anchors are consistent with verified minhash pairs") {
    // every VERIFIED near-dup pair (id_a < id_b, jaccard >= tau) came from
    // a shared bucket, so its id_b must be flagged with anchor <= id_a
    val flags = SparkEntry.queries("stream_near_dedup")(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("anchor"), r.getAs[Int]("is_dup"))).toMap
    val pairs = SparkEntry.queries("llm_dedup_minhash")(spark, sf).collect()
    assert(flags.nonEmpty)
    pairs.foreach { p =>
      val (a, b) = (p.getAs[Long]("id_a"), p.getAs[Long]("id_b"))
      val (anchor, dup) = flags(b)
      assert(dup == 1 && anchor <= a,
        s"verified pair ($a,$b) not flagged at ingest: anchor=$anchor")
    }
    // anchors are always real earlier docs (or self)
    flags.foreach { case (d, (anchor, dup)) =>
      assert(anchor <= d && (dup == 1) == (anchor < d))
    }
  }

  test("dropDuplicatesWithinWatermark: in-window dup dropped, state expires " +
    "past the watermark and the key re-emits") {
    // the semantics the batch-graded stream_dedup_within_wm key set cannot
    // show: a duplicate arriving within (first ts + delay) is DROPPED even
    // across micro-batches; once the watermark passes expiry the key's
    // state is gone and a later duplicate is a fresh emission — bounded
    // state traded for exactly-once-per-window, not forever
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, Long)]
    val dd = in.toDF().toDF("ts", "k")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("k")
    val q = dd.writeStream.format("memory").queryName("ddwm_test")
      .outputMode("append").start()
    def ts(min: Int) = new java.sql.Timestamp(min * 60000L)
    def emitted(): Long = spark.table("ddwm_test").count()
    try {
      in.addData((ts(1), 7L)); q.processAllAvailable()
      assert(emitted() == 1L)
      // same key, 2 min later, different batch — within the window: dropped
      in.addData((ts(3), 7L)); q.processAllAvailable()
      assert(emitted() == 1L, "in-window duplicate leaked")
      // advance the watermark far past expiry (1 + 10 < 60 - 10)
      in.addData((ts(60), 8L)); q.processAllAvailable()
      // the key's state is expired → this is a FRESH first occurrence
      in.addData((ts(61), 7L)); q.processAllAvailable()
      val ks = spark.table("ddwm_test").select("k")
        .collect().map(_.getLong(0)).toSeq
      assert(ks.count(_ == 7L) == 2L,
        s"expired key must re-emit (got $ks)")
      assert(emitted() == 3L)
    } finally q.stop()
  }

  test("foreachBatch upsert sink: a replayed batchId is skipped and " +
    "multi-batch merges equal the one-batch merge (r14)") {
    import graft.streaming.UpsertSink
    val b1 = Seq((1L, 100L), (2L, 50L), (1L, 10L)).toDF("user_id", "c")
    val b2 = Seq((1L, 25L), (3L, 7L)).toDF("user_id", "c")
    def table(name: String, merges: (org.apache.spark.sql.DataFrame, Long)*)
        : Set[(Long, Long, Long)] = {
      val tbl = s"/tmp/graft_io/upsert_spec_$name"
      UpsertSink.reset(tbl)
      merges.foreach { case (df, id) => UpsertSink.merge(df, tbl, id) }
      UpsertSink.read(spark, tbl)
        .select("user_id", "n_events", "cents").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    val expected = Set((1L, 3L, 135L), (2L, 1L, 50L), (3L, 1L, 7L))
    assert(table("one", (b1.unionByName(b2), 0L)) == expected)
    assert(table("multi", (b1, 0L), (b2, 1L)) == expected)
    // at-least-once retry: the same batchId re-delivered must be a no-op
    val tbl = "/tmp/graft_io/upsert_spec_retry"
    UpsertSink.reset(tbl)
    assert(UpsertSink.merge(b1, tbl, 0L))
    val manifestAfterB0 = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$tbl/_manifest"))
    assert(UpsertSink.merge(b2, tbl, 1L))
    assert(!UpsertSink.merge(b2, tbl, 1L), "replayed batch was applied")
    val got = UpsertSink.read(spark, tbl)
      .select("user_id", "n_events", "cents").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected, s"retry double-counted: $got")
    // crash window (r14 review, r15 manifest layout): bucket version
    // dirs written but the manifest swap never happened — the replay
    // must RE-APPLY, not skip (the manifest, not a side marker, is the
    // commit record). Simulated by rolling the manifest back to its
    // batch-0 content: retention keeps each bucket's previous version
    // dir, so the rolled-back manifest still resolves, exactly the
    // reader-protection the retain-2 contract promises.
    val p = java.nio.file.Paths.get(s"$tbl/_manifest")
    assert(!UpsertSink.merge(b2, tbl, 1L)) // still committed: no-op
    val m1 = UpsertSink.readManifest(tbl).get
    // restore the exact batch-0 manifest: what a crash between the
    // bucket-dir moves and the swap leaves on disk (batch-1 orphan
    // v-dirs present, manifest still at batch 0)
    java.nio.file.Files.writeString(p, manifestAfterB0)
    assert(UpsertSink.merge(b2, tbl, 1L),
      "replay after a pre-swap crash was skipped - batch lost")
    assert(UpsertSink.readManifest(tbl).get == m1,
      "crash replay converged to a different manifest")
    val got2 = UpsertSink.read(spark, tbl)
      .select("user_id", "n_events", "cents").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got2 == expected, s"crash replay diverged: $got2")
  }

  test("observe() metrics ride the streaming micro-batches: per-batch " +
    "observedMetrics fold to the stream total") {
    // the streaming face of etl_observe_metrics: the same zero-extra-scan
    // accumulator aggregates, harvested per micro-batch from
    // StreamingQueryProgress instead of Observation.get (which is
    // batch-only); the fold across batches must equal the totals
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Double)]
    val q = in.toDF().toDF("k", "v")
      .observe("graft_stream_obs", count(lit(1)).as("n"),
        sum(graft.engine.Det.cents(col("v")).cast("long")).as("cents"))
      .writeStream.format("memory").queryName("obs_test")
      .outputMode("append").start()
    try {
      in.addData((1L, 1.10), (2L, 2.20)); q.processAllAvailable()
      in.addData((3L, 3.30)); q.processAllAvailable()
      // null-safe unbox (r13 advice): a no-data micro-batch reports
      // n=0 with a NULL sum — getAs[Long] would NPE on the primitive
      // unbox, failing the test spuriously on a version-dependent
      // noDataMicroBatches quirk rather than a real metrics bug
      def longOr0(r: org.apache.spark.sql.Row, f: String): Long =
        Option(r.get(r.fieldIndex(f))).map(_.asInstanceOf[Long]).getOrElse(0L)
      val folded = q.recentProgress.toSeq
        .flatMap(p => Option(p.observedMetrics.get("graft_stream_obs")))
        .map(r => (longOr0(r, "n"), longOr0(r, "cents")))
      assert(folded.map(_._1).sum == 3L,
        s"observed row counts wrong: $folded")
      assert(folded.map(_._2).sum == 660L,
        s"observed cents wrong: $folded")
    } finally q.stop()
  }
}
