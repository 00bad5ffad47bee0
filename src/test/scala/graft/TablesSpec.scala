package graft

import graft.engine.{FooterParquet, Tables}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.reflect.io.Directory

/** `Tables.parquet` resolves a parquet schema from one footer on the
  * driver: a first touch starts no Spark job, and the frame it returns is
  * the one `spark.read.parquet` returns — schema, rows and executed plan. */
class TablesSpec extends SparkSpec {

  private val jobs = new AtomicInteger(0)
  private val counter = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  }
  private lazy val tmp = java.nio.file.Files.createTempDirectory("tables-spec").toString

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.addSparkListener(counter)
  }

  override def afterAll(): Unit = {
    spark.sparkContext.removeSparkListener(counter)
    new Directory(new java.io.File(tmp)).deleteRecursively()
    super.afterAll()
  }

  /** Spark jobs started while `f` runs (the listener bus drained). */
  private def jobsOf[T](f: => T): (Int, T) = {
    ListenerBus.drain(spark.sparkContext)
    val before = jobs.get
    val out = f
    ListenerBus.drain(spark.sparkContext)
    (jobs.get - before, out)
  }

  /** Executed plan without expression ids and plan ids. */
  private def planText(df: DataFrame): String =
    df.queryExecution.executedPlan.toString
      .replaceAll("#\\d+L?", "#").replaceAll("plan_id=\\d+", "plan_id")

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** `Tables.parquet` on `paths` equals Spark's own read of them, and its
    * schema resolution starts no job. */
  private def assertSameAsSpark(s: SparkSession, paths: String*): DataFrame = {
    val (n, ours) = jobsOf(Tables.parquet(s, paths: _*))
    assert(n == 0, s"${paths.mkString(",")}: $n jobs")
    val theirs = s.read.parquet(paths: _*)
    assert(ours.schema == theirs.schema, paths)
    assert(rows(ours) == rows(theirs), paths)
    assert(planText(ours) == planText(theirs), paths)
    ours
  }

  test("spark.read.parquet starts one footer job per read (the counter " +
    "sees it)") {
    val (n, _) = jobsOf(spark.read.parquet(s"$sf/region.parquet"))
    assert(n == 1)
  }

  for (table <- Tables.all) test(s"$table: first touch starts no job; " +
    "schema, rows and plan equal spark.read.parquet's") {
    val (n, _) = jobsOf(Tables(spark.newSession(), sf, table))
    assert(n == 0, s"$table: first touch started $n jobs")
    // a fresh session: the touch leaves the session's confs as they were
    assertSameAsSpark(spark.newSession(), s"$sf/$table.parquet")
  }

  private val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  test("reading the timestamp[us] events fixture leaves the session's " +
    "confs unset") {
    val s = spark.newSession()
    Tables(s, sf, "events").collect()
    assert(!s.conf.getAll.contains(nanosAsLong))
  }

  test("a TIMESTAMP(NANOS) events file reads as the µs-floored timestamp") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType("message events " +
      "{ required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val file = s"$tmp/events_nanos.parquet"
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file))
      .withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    Seq(1L -> 1700000000123456789L, 2L -> 999L).foreach { case (id, ns) =>
      w.write(groups.newGroup().append("event_id", id).append("ts", ns)) }
    w.close()
    val s = spark.newSession()
    val df = Tables.eventsTs(s, file)(identity)
    assert(df.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    assert(rows(df.select(col("event_id"), unix_micros(col("ts")))) ==
      Seq("[1,1700000000123456]", "[2,0]"))
    assert(s.conf.get(nanosAsLong) == "true")
  }

  test("a first touch of all tables starts no job") {
    val s = spark.newSession()
    val (n, _) = jobsOf(Tables.all.foreach(Tables(s, sf, _)))
    assert(n == 0)
  }

  test("a Spark-written multi-part directory with _SUCCESS") {
    val out = s"$tmp/multipart"
    Tables(spark, sf, "orders").repartition(3).write.mode("overwrite").parquet(out)
    assert(new java.io.File(s"$out/_SUCCESS").exists)
    assert(new java.io.File(out).list().count(_.endsWith(".parquet")) == 3)
    assertSameAsSpark(spark, out)
  }

  test("a hive-partitioned directory appends the partition column") {
    val out = s"$tmp/hive"
    Tables(spark, sf, "orders").write.mode("overwrite")
      .partitionBy("o_orderstatus").parquet(out)
    val df = assertSameAsSpark(spark, out)
    assert(df.columns.last == "o_orderstatus")
  }

  test("a multi-path read") {
    val o = Tables(spark, sf, "orders")
    o.filter(col("o_orderkey") % 2 === 0).write.mode("overwrite").parquet(s"$tmp/even")
    o.filter(col("o_orderkey") % 2 === 1).write.mode("overwrite").parquet(s"$tmp/odd")
    assert(assertSameAsSpark(spark, s"$tmp/even", s"$tmp/odd").count() == o.count())
  }

  test("a Spark-written TIMESTAMP_NTZ copy of events") {
    val out = s"$tmp/events_ntz"
    Tables(spark, sf, "events").withColumn("ts", col("ts").cast("timestamp_ntz"))
      .write.mode("overwrite").parquet(out)
    val df = assertSameAsSpark(spark, out)
    assert(df.schema("ts").dataType == org.apache.spark.sql.types.TimestampNTZType)
  }

  test("footer choice follows Spark's: _common_metadata, then _metadata, " +
    "then the first data file by sorted path") {
    val o = Tables(spark, sf, "orders")
    def single(df: DataFrame, dir: String, opts: (String, String)*): java.io.File = {
      df.coalesce(1).write.options(opts.toMap).mode("overwrite").parquet(dir)
      new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-")).head
    }
    val narrow = single(o.select("o_orderkey"), s"$tmp/narrow")
    val wide = single(o.select("o_orderkey", "o_orderstatus"), s"$tmp/wide",
      "parquet.summary.metadata.level" -> "ALL")
    def copy(f: java.io.File, dir: String, name: String): Unit = {
      new java.io.File(dir).mkdirs()
      java.nio.file.Files.copy(f.toPath, java.nio.file.Paths.get(dir, name))
    }
    // part files whose schemas differ, in both name orders
    copy(narrow, s"$tmp/mixed_nw", "a.parquet"); copy(wide, s"$tmp/mixed_nw", "b.parquet")
    copy(wide, s"$tmp/mixed_wn", "a.parquet"); copy(narrow, s"$tmp/mixed_wn", "b.parquet")
    assert(assertSameAsSpark(spark, s"$tmp/mixed_nw").columns.length == 1)
    assert(assertSameAsSpark(spark, s"$tmp/mixed_wn").columns.length == 2)
    // a summary file outranks a data file that sorts first
    for (summary <- Seq("_common_metadata", "_metadata")) {
      assert(new java.io.File(s"$tmp/wide/$summary").exists, summary)
      copy(narrow, s"$tmp/summary$summary", "a.parquet")
      copy(new java.io.File(s"$tmp/wide/$summary"), s"$tmp/summary$summary", summary)
      assert(assertSameAsSpark(spark, s"$tmp/summary$summary").columns.length == 2)
    }
  }

  test("mergeSchema (option or session conf) merges exactly like Spark") {
    val o = Tables(spark, sf, "orders").select("o_orderkey", "o_orderstatus")
    o.write.mode("overwrite").parquet(s"$tmp/v1")
    o.withColumn("extra", lit(1)).write.mode("overwrite").parquet(s"$tmp/v2")
    val paths = Seq(s"$tmp/v1", s"$tmp/v2")
    val merged = spark.read.option("mergeSchema", "true").parquet(paths: _*)
    assert(merged.columns.contains("extra"))
    val (n, byOption) = jobsOf(spark.read.format(classOf[FooterParquet].getName)
      .option("mergeSchema", "true").load(paths: _*))
    assert(n == 1, "merging is Spark's own job")
    assert(byOption.schema == merged.schema)
    val s = spark.newSession()
    s.conf.set("spark.sql.parquet.mergeSchema", "true")
    assert(Tables.parquet(s, paths: _*).schema == merged.schema)
  }

  test("ignoreCorruptFiles leaves inference to Spark") {
    val path = s"$sf/orders.parquet"
    val (n, df) = jobsOf(spark.read.format(classOf[FooterParquet].getName)
      .option("ignoreCorruptFiles", "true").load(path))
    assert(n == 1)
    assert(df.schema == spark.read.parquet(path).schema)
  }

  test("a missing path fails with Spark's PATH_NOT_FOUND") {
    val path = s"$tmp/no_such_table.parquet"
    val ours = intercept[AnalysisException](Tables.parquet(spark, path))
    val theirs = intercept[AnalysisException](spark.read.parquet(path))
    assert(ours.getCondition == "PATH_NOT_FOUND")
    assert(ours.getMessage == theirs.getMessage)
  }

  test("an unreadable footer falls back to Spark's inference and its error") {
    val bad = new java.io.File(s"$tmp/corrupt/part-0.parquet")
    bad.getParentFile.mkdirs()
    java.nio.file.Files.write(bad.toPath, "not parquet".getBytes("UTF-8"))
    val ours = intercept[Exception](Tables.parquet(spark, bad.getParent))
    val theirs = intercept[Exception](spark.read.parquet(bad.getParent))
    assert(ours.getClass == theirs.getClass)
    assert(ours.getMessage.contains("CANNOT_READ_FILE_FOOTER"), ours.getMessage)
  }
}
