package graft.engine

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetOptions, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import scala.util.control.NonFatal

/** Spark's parquet source, with the schema read on the driver.
  *
  * Without `mergeSchema`, Spark infers a parquet schema from ONE footer,
  * but it reads that footer inside a single-task Spark job
  * (`SchemaMergeUtils.mergeSchemasInParallel`): every `spark.read.parquet`
  * pays a job's scheduling latency for a few KB of metadata. This format
  * picks the same file Spark picks from the same file list — the first
  * `_common_metadata`, else the first `_metadata`, else the first data file
  * by sorted path — and reads its footer here, converting it exactly as
  * Spark's own inference does (a stored Spark schema wins; otherwise the
  * converter gets the same session flags: binary-as-string, INT96,
  * TIMESTAMP_NTZ inference, nanos-as-long, unknown type annotations).
  *
  * Whatever it cannot decide exactly like Spark goes to Spark's inference:
  * merged schemas (`mergeSchema` as an option or in the session conf),
  * `ignoreCorruptFiles`, and a footer that fails to read (Spark then
  * raises its own error). Listing, globbing, partition discovery, the
  * reader, pushdown and plan text are all the parent's; the format keeps
  * the `parquet` short name. */
class FooterParquet extends ParquetFileFormat {
  override def inferSchema(
      spark: SparkSession,
      options: Map[String, String],
      files: Seq[FileStatus]): Option[StructType] = {
    val parquetOptions = new ParquetOptions(options, spark.sessionState.conf)
    lazy val byJob = super.inferSchema(spark, options, files)
    if (parquetOptions.mergeSchema || parquetOptions.ignoreCorruptFiles) byJob
    else {
      val sorted = files.sortBy(_.getPath.toString)
      def named(name: String) = sorted.find(_.getPath.getName == name)
      val summaries = Set(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
        ParquetFileWriter.PARQUET_METADATA_FILE)
      // no file: Spark's job over an empty list yields no schema either
      named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
        .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
        .orElse(sorted.find(f => !summaries(f.getPath.getName)))
        .flatMap { file =>
          try Some(footerSchema(spark, options, file))
          catch { case NonFatal(_) => byJob }
        }
    }
  }

  private def footerSchema(spark: SparkSession, options: Map[String, String],
                           file: FileStatus): StructType = {
    val conf = spark.sessionState.conf
    val hadoopConf = spark.sessionState.newHadoopConfWithOptions(options)
    val footer = new Footer(file.getPath, ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, hadoopConf), SKIP_ROW_GROUPS))
    // the flags Spark's inference passes; the converter's other
    // parameters keep their defaults there too
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation =
        conf.parquetReaderRespectUnknownTypeAnnotation)
    ParquetFileFormat.readSchemaFromFooter(footer, converter)
  }
}

object FooterParquet {

  /** Whether `path` (a parquet file, or a directory's first data file by
    * sorted path) stores `column` as INT64 TIMESTAMP(NANOS). */
  def nanosTimestamp(spark: SparkSession, path: String, column: String): Boolean = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    p.getFileSystem(conf).listStatus(p).filter(f => f.isFile && !f.getPath.getName
        .matches("[_.].*")).sortBy(_.getPath.toString).headOption.exists { file =>
      val schema = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, conf),
        SKIP_ROW_GROUPS).getFileMetaData.getSchema
      schema.containsField(column) && Seq(true, false)
        .map(LogicalTypeAnnotation.timestampType(_, TimeUnit.NANOS))
        .contains(schema.getType(schema.getFieldIndex(column)).getLogicalTypeAnnotation)
    }
  }
}
