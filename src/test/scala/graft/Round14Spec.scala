package graft

import org.apache.spark.sql.functions._

/** Round-14 device pins: variant shredding physical layout, State API
  * v2 value TTL. */
class Round14Spec extends SparkSpec {

  test("tws MapState value TTL: an idle counter expires and its next " +
    "event recounts from zero; lifetime mode keeps counting (r14)") {
    import graft.streaming.{Streams, Ttl, TwsCounts}
    import graft.streaming.TwsCounts.{Ev, TypeCount}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def lastN(name: String, ttl: Ttl, idleMs: Long): Long = {
      val in = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[Ev]
      engine.Confs.withConfs(spark)(Streams.rocksDbStore) {
        val q = TwsCounts.counts(in.toDS(), ttl)
          .writeStream.format("memory").queryName(name)
          .outputMode("append").start()
        // processing-time mode + TTL runs continuous no-data maintenance
        // batches, so processAllAvailable never settles — poll the sink
        // for the expected emission count instead
        def awaitRows(n: Long): Unit = {
          val deadline = System.currentTimeMillis + 60000L
          while (spark.table(name).count() < n
                 && System.currentTimeMillis < deadline) Thread.sleep(100L)
          assert(spark.table(name).count() >= n,
            s"$name: sink never reached $n emissions")
        }
        try {
          in.addData(Ev(1L, "click"), Ev(1L, "click"))
          awaitRows(1L)
          Thread.sleep(idleMs)
          in.addData(Ev(1L, "click"))
          awaitRows(2L)
          // last emission for the pair is the operator's current figure
          spark.table(name).as[TypeCount].collect().zipWithIndex
            .filter(r => r._1.user_id == 1L && r._1.event_type == "click")
            .maxBy(_._2)._1.n
        } finally q.stop()
      }
    }
    // TTL 1 s, idle 2.5 s: the value expired, the third click recounts
    assert(lastN("tws_ttl_on", ttl = Ttl.ProcessingTime(1000L), idleMs = 2500L) == 1L,
      "expired MapState value was not evicted")
    // lifetime mode across the same idle gap: exact count survives
    assert(lastN("tws_ttl_off", ttl = Ttl.Off, idleMs = 1500L) == 3L,
      "lifetime-mode count lost across batches")
    // State API v2 value TTL has no event-time clock: refused when built
    val eventTime = intercept[IllegalArgumentException](TwsCounts.counts(
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Ev].toDS(),
      Ttl.EventTime(1000L)))
    assert(eventTime.getMessage.contains("processing-time only"))
  }

  test("variant writeShredding produces typed_value subcolumns in the " +
    "physical parquet schema, and the typed read-back roundtrips (r14)") {
    // scan_variant_shredded's device: without this footer pin the graded
    // query would pass identically on a PLAIN binary-variant file (the
    // reader reassembles either), so the pin is what proves the fixture
    // is genuinely shredded
    val out = "/tmp/graft_io/variant_shred_spec"
    import scala.reflect.io.Directory
    new Directory(new java.io.File(out)).deleteRecursively()
    graft.engine.Confs.withConfs(spark)(
      "spark.sql.variant.writeShredding.enabled" -> "true",
      "spark.sql.variant.inferShreddingSchema" -> "true",
      "spark.sql.variant.allowReadingShredded" -> "true") {
      spark.range(100).select(col("id"),
          parse_json(concat(lit("{\"k\": "), col("id").cast("string"),
            lit(", \"tag\": \"t\"}"))).as("v"))
        .coalesce(1).write.mode("overwrite").parquet(out)
      val f = new java.io.File(out).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getAbsolutePath),
        new org.apache.hadoop.conf.Configuration())
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      val schema =
        try reader.getFooter.getFileMetaData.getSchema.toString
        finally reader.close()
      assert(schema.contains("typed_value"),
        s"no typed_value group in the physical schema — file is not " +
          s"shredded:\n$schema")
      val got = spark.read.parquet(out)
        .select(col("id"), variant_get(col("v"), "$.k", "long").as("k"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert((0 until 100).forall(i => got(i.toLong) == i.toLong),
        "typed read-back of the shredded column diverged")
    }
  }
}
