package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // driver calls with exactly (sfDir, outDir); extra args are a builder
    // convenience that restricts the dump to the named queries
    val Array(sfDir, outDir) = args.take(2)
    val only: Set[String] = args.drop(2).toSet
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${reason(e)}")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** Why a query failed, as Verify's stderr and BENCH_FULL.json say it. */
  def reason(e: Throwable): String = s"${e.getClass.getName}: ${e.getMessage}"

  /** JSON string literal: escapes backslash, quote and ALL control chars
    * (<0x20) — a tab or CR in query-authored SQL would otherwise make
    * json.load of oracle_sql.json fail and lose every oracle compare. */
  def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
