package graft.queries

import graft.engine.{Det, QueryPack, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Scans / sources / sinks (SURVEY §2.1).
  *
  * CSV/JSON round-trip through a temp dir (the graded tables are parquet-
  * only) — declared rows-only; the partitioned sink reads its own output
  * back so partition pruning is exercised end-to-end.
  */
object Sources extends QueryPack {

  q("scan_parquet",
    """SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey""") { (s, dir) =>
    Tables(s, dir, "region").select("r_regionkey", "r_name").orderBy("r_regionkey")
  }

  // Spark 4 state data source (r13): a streaming checkpoint's state store
  // read back as a BATCH DataFrame — the surface a production operator
  // uses to inspect, audit, or migrate stateful-query state without
  // replaying the stream. Graded end-to-end: a dropDuplicates(user_id)
  // stream drained AvailableNow leaves exactly the distinct key set in
  // its store, so `format("statestore")` over the checkpoint must equal
  // SELECT DISTINCT user_id — an exact SQL oracle for a path that is
  // otherwise pure engine internals. Scale: the reader maps one task per
  // (state partition, store), so inspection parallelism equals the
  // query's shuffle-partition layout — no replay, no single-node dump.
  q("scan_state_store",
    """SELECT DISTINCT user_id FROM events ORDER BY user_id""") { (s, dir) =>
    val tag = math.abs(dir.hashCode).toString
    val chk = s"/tmp/graft_io/state_scan_chk_$tag"
    import scala.reflect.io.Directory
    new Directory(new java.io.File(chk)).deleteRecursively()
    // state layout sized like every other graded drain (r15: this row ran
    // at the session's 32 state partitions — store init/commit dominated,
    // 13.8 s of task time for a distinct-key drain; 4 partitions is the
    // r13-measured bench layout, real deployments size UP per SCALE.md).
    // The statestore READ below maps one task per state partition either
    // way, and the distinct key set is layout-independent.
    graft.streaming.Streams.withTwsConf(s, partitions = 4) {
      val q = graft.streaming.Streams.eventsStream(s, dir)
        .select("user_id").dropDuplicates("user_id")
        .writeStream.format("memory").queryName(s"graft_state_scan_$tag")
        .option("checkpointLocation", chk)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    s.read.format("statestore").load(chk)
      .select(col("key.user_id").as("user_id"))
      .orderBy("user_id")
  }

  // Hidden file-metadata columns (_metadata.row_index / file_path): the
  // row-level provenance a 100 TB pipeline wants WITHOUT materializing a
  // lineage column — exact (file, row) addressing for sample tracing,
  // resumable scans, and blame-the-shard debugging. The fixture file is
  // physically ordered by doc_id (verified; the oracle would loudly
  // mismatch if a fixture generation ever broke it), so row_index has an
  // exact rank oracle and a derived 1000-row shard id shows the
  // row-group-style bucketing a resumable reader keys on.
  q("scan_metadata_cols",
    """SELECT doc_id,
      |  CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS row_idx,
      |  (row_number() OVER (ORDER BY doc_id) - 1) // 1000 AS shard,
      |  'documents.parquet' AS file_name
      |FROM documents ORDER BY doc_id""") { (s, dir) =>
    Tables.parquet(s, s"$dir/documents.parquet")
      .select(col("doc_id"), col("_metadata.row_index").as("row_idx"),
        floor(col("_metadata.row_index") / 1000).cast("long").as("shard"),
        element_at(split(col("_metadata.file_path"), "/"), -1).as("file_name"))
      .orderBy("doc_id")
  }

  // CSV round-trip: the kept columns (int key + delimiter-free strings)
  // are text-lossless, so the ORIGINAL parquet table is the oracle — the
  // same pattern scan_orc uses (upgraded from rows-only in r4)
  q("scan_csv",
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |ORDER BY c_custkey""") { (s, dir) =>
    val out = "/tmp/graft_io/csv_customer"
    Tables(s, dir, "customer").write.mode("overwrite").option("header", "true").csv(out)
    val schema = StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType)))
    s.read.schema(schema).option("header", "true").csv(out)
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")
  }

  // Multi-char CSV delimiter (Spark 3.4+/univocity): "||"-separated
  // export/ingest — the interchange format legacy pipelines actually
  // emit when field text may contain commas. Round-trip through a "||"
  // write + schema'd read; the kept columns are text-lossless so the
  // original table is the oracle (the scan_csv pattern).
  q("scan_csv_multichar_delim",
    """SELECT s_suppkey, s_name, s_nationkey FROM supplier
      |ORDER BY s_suppkey""") { (s, dir) =>
    val out = "/tmp/graft_io/csv_pipe_supplier"
    Tables(s, dir, "supplier")
      .select("s_suppkey", "s_name", "s_nationkey")
      .write.mode("overwrite").option("header", "true")
      .option("delimiter", "||").csv(out)
    val schema = StructType(Seq(
      StructField("s_suppkey", LongType), StructField("s_name", StringType),
      StructField("s_nationkey", IntegerType)))
    s.read.schema(schema).option("header", "true")
      .option("delimiter", "||").csv(out)
      .orderBy("s_suppkey")
  }

  // JSON round-trip: int/string columns are lossless → original table is
  // the oracle (upgraded from rows-only in r4)
  q("scan_json",
    """SELECT n_nationkey, n_name, n_regionkey FROM nation
      |ORDER BY n_nationkey""") { (s, dir) =>
    val out = "/tmp/graft_io/json_nation"
    Tables(s, dir, "nation").write.mode("overwrite").json(out)
    val schema = StructType(Seq(
      StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType)))
    s.read.schema(schema).json(out)
      .orderBy("n_nationkey")
  }

  // Nested JSON-lines round-trip — the conversation/training-record
  // shape every LLM pipeline ingests: one line per order carrying a
  // header struct and an array of item structs. Built by a bounded
  // collect_list per order (≤7 lines each), written as JSONL, read back
  // with an EXPLICIT nested schema (no inference pass over 100 TB), and
  // flattened via dot paths + explode. The oracle is the equivalent
  // flat join — nested encode→decode→flatten must be lossless.
  q("scan_jsonl_nested",
    """SELECT l.l_orderkey AS order_key, o.o_custkey AS cust_key,
      |  o.o_orderstatus AS status, l.l_linenumber AS line_no,
      |  l.l_quantity AS qty
      |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |WHERE o.o_orderkey < 400
      |ORDER BY order_key, line_no, qty""") { (s, dir) =>
    val out = "/tmp/graft_io/jsonl_nested_orders"
    val nested = Tables(s, dir, "orders").filter(col("o_orderkey") < 400)
      .join(Tables(s, dir, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
      .agg(array_sort(collect_list(struct(
        col("l_linenumber").as("line_no"),
        col("l_quantity").as("qty")))).as("items"))
      .select(col("o_orderkey").as("order_key"),
        struct(col("o_custkey").as("cust_key"),
          col("o_orderstatus").as("status")).as("hdr"),
        col("items"))
    nested.write.mode("overwrite").json(out)
    val schema = StructType(Seq(
      StructField("order_key", LongType),
      StructField("hdr", StructType(Seq(
        StructField("cust_key", LongType),
        StructField("status", StringType)))),
      StructField("items", ArrayType(StructType(Seq(
        StructField("line_no", IntegerType),
        StructField("qty", DoubleType)))))))
    s.read.schema(schema).json(out)
      .select(col("order_key"), col("hdr.cust_key").as("cust_key"),
        col("hdr.status").as("status"), explode(col("items")).as("it"))
      .select(col("order_key"), col("cust_key"), col("status"),
        col("it.line_no").as("line_no"), col("it.qty").as("qty"))
      .orderBy("order_key", "line_no", "qty")
  }

  // ORC round-trip: binary-typed columnar format, lossless → the original
  // table is the oracle (unlike CSV, where text round-trips are weaker)
  q("scan_orc",
    """SELECT s_suppkey, s_name, s_nationkey, s_acctbal
      |FROM supplier ORDER BY s_suppkey""") { (s, dir) =>
    val out = "/tmp/graft_io/orc_supplier"
    Tables(s, dir, "supplier")
      .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .write.mode("overwrite").orc(out)
    s.read.orc(out).orderBy("s_suppkey")
  }

  // bucketed sink + co-located join: both sides pre-shuffled into 8 buckets
  // on custkey, so the join itself plans with zero exchanges (the 100 TB
  // fact-join layout; BucketedJoinSpec pins the plan shape)
  q("sink_bucketed_join",
    s"""SELECT c_mktsegment, COUNT(*) AS n_orders,
      |  ${Det.oMoney("o_totalprice")} AS total
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""") { (s, dir) =>
    import graft.ops.Bucketing
    // the two fixture writes are independent: overlap them (guide §2.6)
    Bucketing.bucketizePar(Seq(
      (Tables(s, dir, "orders").select("o_custkey", "o_totalprice"),
        "orders_bkt", "o_custkey", 8),
      (Tables(s, dir, "customer").select("c_custkey", "c_mktsegment"),
        "customer_bkt", "c_custkey", 8)))
    Bucketing.coLocatedJoin(s, "orders_bkt", "customer_bkt", "o_custkey", "c_custkey")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        Det.money(sum(Det.cents(col("o_totalprice")))).as("total"))
      .orderBy("c_mktsegment")
  }

  // native XML source (Spark 4 ships spark-xml in core): write a dimension
  // out as XML, read it back with an explicit schema — lossless for the
  // integer/string columns used, so the original table is the oracle
  q("scan_xml",
    """SELECT s_suppkey, s_name, s_nationkey FROM supplier ORDER BY s_suppkey""") { (s, dir) =>
    val out = "/tmp/graft_io/xml_supplier"
    Tables(s, dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
      .write.mode("overwrite")
      .option("rootTag", "suppliers").option("rowTag", "supplier")
      .format("xml").save(out)
    val schema = StructType(Seq(
      StructField("s_suppkey", LongType), StructField("s_name", StringType),
      StructField("s_nationkey", IntegerType)))
    s.read.schema(schema).option("rowTag", "supplier").format("xml").load(out)
      .orderBy("s_suppkey")
  }

  // line-oriented text source: documents round-trip as "id<TAB>text" lines
  // (corpus text is verified tab/newline-free), split back on first tab.
  // Lossless → the documents table is the oracle.
  q("scan_text",
    """SELECT doc_id, text FROM documents ORDER BY doc_id""") { (s, dir) =>
    val out = "/tmp/graft_io/text_documents"
    Tables(s, dir, "documents")
      .select(concat_ws("\t", col("doc_id"), col("text")).as("value"))
      .write.mode("overwrite").text(out)
    s.read.text(out)
      .select(split(col("value"), "\t", 2).as("p"))
      .select(col("p").getItem(0).cast("long").as("doc_id"),
        col("p").getItem(1).as("text"))
      .orderBy("doc_id")
  }

  // binaryFile source: whole files as opaque binary blobs + metadata — the
  // ingestion shape for multimodal assets (images/audio) at 100 TB, where
  // the blob rides an opaque binary column and only metadata is relational.
  // DuckDB-oracled cell-exact (r10 pool shrink): blobs are staged at a
  // fixed path (the static oracle string can't see the sf dir) and read
  // back by DuckDB's read_blob; the digest is md5 over the UPPERCASE hex
  // encoding because both engines spell that identically (DuckDB 1.x md5
  // only binds VARCHAR), replacing the r9 xxhash64 (JVM-seeded → golden).
  // The staged content is a deterministic LCG byte stream, NOT a copy of
  // the sf-dependent fixtures (the r10 review caught that: a second build
  // for a different sf dir, or a concurrent JVM, would silently change
  // what an earlier lazy DataFrame reads). Constant content makes the
  // staging IDEMPOTENT — any concurrent writer writes identical bytes —
  // and each file lands via temp + ATOMIC_MOVE so readers never observe a
  // partial blob.
  q("scan_binary",
    """SELECT regexp_extract(filename, '([^/]+)\.bin$', 1) AS blob_name,
      |  CAST(size AS BIGINT) AS length, md5(hex(content)) AS content_md5
      |FROM read_blob('/tmp/graft_io/binary_scan/*.bin')
      |ORDER BY blob_name""") { (s, dir) =>
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val stage = Paths.get("/tmp/graft_io/binary_scan")
    Files.createDirectories(stage)
    for (i <- 0 until 12) {
      val bytes = new Array[Byte](512 + 137 * i)
      var st = 0x9E3779B97F4A7C15L * (i + 1)
      for (j <- bytes.indices) {
        st = st * 6364136223846793005L + 1442695040888963407L
        bytes(j) = (st >>> 56).toByte
      }
      val tmp = Files.createTempFile(stage, ".blob", ".tmp")
      try {
        Files.write(tmp, bytes)
        Files.move(tmp, stage.resolve(f"blob_$i%02d.bin"),
          StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      } finally Files.deleteIfExists(tmp) // no-op after a successful move
    }
    s.read.format("binaryFile").load(s"$stage/*.bin")
      .select(regexp_extract(col("path"), "([^/]+)\\.bin$", 1).as("blob_name"),
        col("length"), md5(hex(col("content"))).as("content_md5"))
      .orderBy("blob_name")
  }

  // CSV round-trip under hostile content: fields carrying the delimiter,
  // quotes, and leading/trailing spaces — the quoting/escaping path a real
  // ingestion job lives or dies on. Values are derived deterministically;
  // lossless round-trip → SQL-computable oracle.
  q("scan_csv_quoted",
    """SELECT doc_id,
      |  'pre,fix "' || lang || '" ' || CAST(n_chars AS VARCHAR) AS tricky
      |FROM documents
      |ORDER BY doc_id""") { (s, dir) =>
    val out = "/tmp/graft_io/csv_quoted"
    Tables(s, dir, "documents")
      .select(col("doc_id"),
        concat(lit("pre,fix \""), col("lang"), lit("\" "),
          col("n_chars").cast("string")).as("tricky"))
      .write.mode("overwrite").option("header", "true")
      .option("quoteAll", "true").csv(out)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("tricky", StringType)))
    s.read.schema(schema).option("header", "true").csv(out)
      .orderBy("doc_id")
  }

  // zstd-compressed parquet round-trip: the 100 TB at-rest codec choice
  // (better ratio than snappy at similar scan speed); lossless → the
  // source table is the oracle
  q("scan_parquet_zstd",
    """SELECT p_partkey, p_name, p_retailprice FROM part ORDER BY p_partkey""") { (s, dir) =>
    val out = "/tmp/graft_io/parquet_zstd"
    Tables(s, dir, "part").select("p_partkey", "p_name", "p_retailprice")
      .write.mode("overwrite").option("compression", "zstd").parquet(out)
    Tables.parquet(s, out).orderBy("p_partkey")
  }

  // Row-level error quarantine: PERMISSIVE CSV parse captures malformed
  // rows in _corrupt_record instead of failing the job — at 100 TB one bad
  // row must quarantine, not kill the stage. DuckDB-oracled (r9 ask #4):
  // the oracle reads the SAME file back as raw lines (field-splitting
  // disabled via an out-of-alphabet delimiter) and recomputes the
  // PERMISSIVE contract itself — parse what parses, NULL what doesn't,
  // quarantine on wrong arity or an unparseable cell — so the check pins
  // Spark's partial-result semantics, not just row counts.
  q("scan_csv_corrupt",
    """WITH raw AS (
      |  SELECT line FROM read_csv('/tmp/graft_io/csv_corrupt/data.csv',
      |    header=false, columns={'line': 'VARCHAR'}, delim=chr(1), quote='')
      |), p AS (
      |  SELECT string_split(line, ',') AS f FROM raw WHERE line <> 'id,val'
      |)
      |SELECT CAST(f[1] AS BIGINT) AS id,
      |  try_cast(f[2] AS BIGINT) AS val,
      |  (len(f) <> 2 OR try_cast(f[2] AS BIGINT) IS NULL) AS quarantined
      |FROM p
      |ORDER BY id NULLS LAST, quarantined""") { (s, dir) =>
    val out = "/tmp/graft_io/csv_corrupt/data.csv"
    val rows = Seq("id,val", "1,10", "2,not_a_number", "3,30", "4,4,4,4")
    val p = java.nio.file.Paths.get(out)
    java.nio.file.Files.createDirectories(p.getParent)
    // same idempotent staging as scan_binary (r10 ADVICE): constant
    // content + temp + ATOMIC_MOVE, so a concurrent JVM or a standalone
    // DuckDB oracle replay never observes a truncated file
    val tmp = java.nio.file.Files.createTempFile(p.getParent, ".csv", ".tmp")
    try {
      java.nio.file.Files.write(tmp, String.join("\n", rows: _*).getBytes)
      java.nio.file.Files.move(tmp, p,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally java.nio.file.Files.deleteIfExists(tmp) // no-op after the move
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("val", LongType),
      StructField("_corrupt_record", StringType)))
    s.read.schema(schema).option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv("/tmp/graft_io/csv_corrupt")
      .select(col("id"), col("val"), col("_corrupt_record").isNotNull.as("quarantined"))
      .orderBy(col("id").asc_nulls_last, col("quarantined"))
  }

  // schema evolution across file generations: v1 files lack a column that
  // v2 files carry; mergeSchema unifies the footers and back-fills NULL —
  // how a year of 100 TB daily drops survives adding a column mid-stream
  q("scan_schema_evolution",
    """SELECT o_orderkey, status, CAST(prio AS VARCHAR) AS prio FROM (
      |  SELECT o_orderkey, o_orderstatus AS status, NULL AS prio
      |  FROM orders WHERE o_orderkey % 2 = 0
      |  UNION ALL
      |  SELECT o_orderkey, o_orderstatus AS status, o_orderpriority AS prio
      |  FROM orders WHERE o_orderkey % 2 = 1
      |)
      |ORDER BY o_orderkey""") { (s, dir) =>
    val base = "/tmp/graft_io/schema_evo"
    val o = Tables(s, dir, "orders")
    o.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_orderstatus").as("status"))
      .write.mode("overwrite").parquet(s"$base/v1")
    o.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_orderstatus").as("status"),
        col("o_orderpriority").as("prio"))
      .write.mode("overwrite").parquet(s"$base/v2")
    s.read.option("mergeSchema", "true").parquet(s"$base/v1", s"$base/v2")
      .orderBy("o_orderkey")
  }

  // hive-partitioned write + pruned read-back, oracle-backed: the aggregate
  // over the single read partition must equal the same filter on the source
  // table. PlanShapeSpec pins that the scan's PartitionFilters prune to one
  // directory — the 100 TB layout where a predicate touches 1/k of the data.
  q("scan_partition_pruned",
    s"""SELECT l_linestatus, COUNT(*) AS n,
      |  ${Det.oMoney("l_extendedprice")} AS revenue
      |FROM lineitem WHERE l_returnflag = 'R'
      |GROUP BY l_linestatus
      |ORDER BY l_linestatus""") { (s, dir) =>
    val out = "/tmp/graft_io/part_pruned_lineitem"
    Tables(s, dir, "lineitem")
      .select("l_orderkey", "l_linestatus", "l_extendedprice", "l_returnflag")
      .write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
    Tables.parquet(s, out)
      .filter(col("l_returnflag") === "R")
      .groupBy("l_linestatus")
      .agg(count(lit(1)).as("n"),
        Det.money(sum(Det.cents(col("l_extendedprice")))).as("revenue"))
      .orderBy("l_linestatus")
  }

  // hive-partitioned write, graded by ROW-LEVEL read-back: every row of the
  // pruned partition must hash-match the same filter on the source table —
  // the write path (directory layout, partition-column round-trip through
  // the path string, schema reassembly) is what's actually under test.
  // Ties in the sort are full-row duplicates (lineitem repeats
  // (l_orderkey, l_linenumber) pairs), so any tie order hashes identically.
  q("sink_partitioned",
    """SELECT l_orderkey, l_linenumber, CAST(l_returnflag AS VARCHAR) AS l_returnflag
      |FROM lineitem WHERE l_returnflag = 'R'
      |ORDER BY l_orderkey, l_linenumber""") { (s, dir) =>
    val out = "/tmp/graft_io/part_lineitem"
    Tables(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_returnflag")
      .write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
    // read back ONE partition — the scan must prune to a single directory
    Tables.parquet(s, out)
      .filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_linenumber", "l_returnflag")
      .orderBy("l_orderkey", "l_linenumber")
  }

  // CSV sink → scan roundtrip, graded against the SOURCE table: what goes
  // through the text serialization must come back value-identical. Money
  // travels as integer cents (a double through CSV would re-parse via
  // decimal strings — the exact cross-engine hazard Det exists to avoid);
  // the read-back uses an explicit schema, never inference, so the
  // roundtrip is deterministic.
  q("sink_csv_roundtrip",
    """SELECT o_orderkey, CAST(o_orderstatus AS VARCHAR) AS o_orderstatus,
      |  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      |FROM orders WHERE o_orderstatus = 'F'
      |ORDER BY o_orderkey""") { (s, dir) =>
    val out = "/tmp/graft_io/csv_orders"
    Tables(s, dir, "orders")
      .filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_orderstatus"),
        Det.cents(col("o_totalprice")).cast("long").as("cents"))
      .write.mode("overwrite").option("header", "true").csv(out)
    s.read.option("header", "true")
      .schema("o_orderkey LONG, o_orderstatus STRING, cents LONG")
      .csv(out)
      .orderBy("o_orderkey")
  }

  // JSON-lines sink → scan roundtrip (same contract as the CSV twin, plus
  // a nested struct column to exercise the non-flat JSON path).
  q("sink_json_roundtrip",
    """SELECT o_orderkey, CAST(o_orderstatus AS VARCHAR) AS status,
      |  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      |FROM orders WHERE o_orderstatus = 'P'
      |ORDER BY o_orderkey""") { (s, dir) =>
    val out = "/tmp/graft_io/json_orders"
    Tables(s, dir, "orders")
      .filter(col("o_orderstatus") === "P")
      .select(col("o_orderkey"),
        struct(col("o_orderstatus").as("st"),
          Det.cents(col("o_totalprice")).cast("long").as("c")).as("payload"))
      .write.mode("overwrite").json(out)
    s.read
      .schema("o_orderkey LONG, payload STRUCT<st: STRING, c: LONG>")
      .json(out)
      .select(col("o_orderkey"), col("payload.st").as("status"),
        col("payload.c").as("cents"))
      .orderBy("o_orderkey")
  }

  // Variant SHREDDING (Spark 4.1): with writeShredding on, the parquet
  // writer decomposes each variant value into typed subcolumns per the
  // inferred shredding schema (typed_value groups next to the opaque
  // binary), so typed paths read columnar data instead of re-parsing
  // binary variant per row — the layout that makes semi-structured
  // columns first-class at 100 TB (column pruning + stats on the typed
  // leaves). The graded path writes a shredded fixture from the events
  // JSON, reads it back under allowReadingShredded, and aggregates
  // typed variant_get extracts; VariantShreddingSpec pins the physical
  // footer (a typed_value group exists — i.e. the file is genuinely
  // shredded, this query is not grading a plain binary roundtrip).
  // Oracle replays the same extraction from the raw JSON.
  q("scan_variant_shredded",
    """SELECT event_type AS tag, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
      |    AS cents,
      |  CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
      |    AS sum_k
      |FROM events GROUP BY event_type ORDER BY tag""") { (s, dir) =>
    val out = s"/tmp/graft_io/variant_shred_${math.abs(dir.hashCode)}"
    val e = Tables(s, dir, "events")
    graft.engine.Confs.withConfs(s)(
      "spark.sql.variant.writeShredding.enabled" -> "true",
      "spark.sql.variant.inferShreddingSchema" -> "true") {
      e.select(col("event_id"),
          parse_json(to_json(struct(col("event_type").as("tag"),
            col("value").as("val"),
            get_json_object(col("props"), "$.k").cast("long").as("k"))))
            .as("v"))
        .write.mode("overwrite").parquet(out)
    }
    graft.engine.Confs.withConfs(s)(
      "spark.sql.variant.allowReadingShredded" -> "true",
      // push the typed extracts into the scan schema: measured at 100×
      // (ScaleStress100 §6c) this is a ~2.4× decode win on shredded
      // files (columnar typed_value decode instead of per-row binary
      // re-parse; without it, reassembly makes shredded files SLOWER
      // than unshredded). Note the win is CPU, not I/O — Spark 4.1.2
      // reads the full shredded group either way (measured finding).
      "spark.sql.variant.pushVariantIntoScan" -> "true") {
      // materialize INSIDE the conf window (r14 review): the returned
      // frame executes at harness-collect time, after the restore —
      // today allowReadingShredded defaults true so the lazy form
      // happened to work, but a session or version where it doesn't
      // would silently scan under the wrong conf
      val agg = Tables.parquet(s, out)
        .select(variant_get(col("v"), "$.tag", "string").as("tag"),
          variant_get(col("v"), "$.val", "double").as("val"),
          variant_get(col("v"), "$.k", "long").as("k"))
        .groupBy("tag")
        .agg(count(lit(1)).cast("long").as("n"),
          sum(graft.engine.Det.cents(col("val"))).cast("long").as("cents"),
          sum(col("k")).cast("long").as("sum_k"))
        .orderBy("tag")
        .transform(graft.ops.PlanMemo.pin)
      agg.count()
      agg
    }
  }

  // recursiveFileLookup + pathGlobFilter: the two reader options a data
  // lake with mixed-depth, mixed-format directories forces. The fixture
  // writes parquet at DIFFERENT depths under Hive-style dirs (which
  // breaks default partition discovery with "conflicting directory
  // structures") plus a same-tree JSON decoy (which a naive parquet scan
  // would choke on); recursiveFileLookup flattens the tree, the glob
  // keeps only *.parquet. At 100 TB this is listing-only work — the
  // scan itself is the ordinary pruned parquet read.
  q("scan_glob_options",
    """SELECT o_orderkey, o_orderstatus FROM orders
      |WHERE o_orderstatus IN ('F', 'O')
      |ORDER BY o_orderkey""") { (s, dir) =>
    // staging keyed by dataset dir (r13 advice): two harness processes
    // at different scale factors must not interleave their non-atomic
    // three-write fixture under one shared path — this query's graded
    // output comes from the staged files, unlike the sibling sinks
    val out = s"/tmp/graft_io/glob_orders_${math.abs(dir.hashCode)}"
    val o = Tables(s, dir, "orders").select("o_orderkey", "o_orderstatus")
    o.filter(col("o_orderstatus") === "F")
      .write.mode("overwrite").parquet(s"$out/status=F/deep/inner")
    o.filter(col("o_orderstatus") === "O")
      .write.mode("overwrite").parquet(s"$out/status=O/inner")
    // decoy: a non-parquet file in the same tree must be glob-excluded
    o.filter(col("o_orderstatus") === "P")
      .write.mode("overwrite").json(s"$out/status=P/inner")
    s.read
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "*.parquet")
      .parquet(out)
      .orderBy("o_orderkey")
  }
}
