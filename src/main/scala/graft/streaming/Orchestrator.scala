package graft.streaming

import java.util.concurrent.TimeUnit

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import Orchestrator.{BatchTrigger, CheckpointManagerKey}
import StreamPipelines._

/** The engine's `main()` equivalent of the reference driver
  * (`IOTSparkStreaming.scala:20-87`): ONE raw multiplexed stream fanned out
  * to every pipeline, each with its own sink and checkpoint, started
  * together. The reference builds exactly this shape — one direct stream,
  * three tag filters, five sinks — with the mapData branch defined but
  * commented out (`IOTSparkStreaming.scala:81`), reproduced here as a
  * config flag (default off, SURVEY.md §2.9.4).
  *
  * Scale: the pipelines do NOT share a source scan. Each is its own
  * streaming query with its own checkpoint, so each keeps its own offset
  * log and lists and reads the source itself: five queries read every
  * event five times (`source.read_amplification` is 5.0 in a traced
  * benchmark run). In exchange one slow sink does not stall the others,
  * unlike the reference's single-context serial schedule.
  *
  * Trigger policy: every query runs on [[Orchestrator.BatchTrigger]], a
  * 100 ms processing-time trigger (the reference batches every 1 s,
  * `IOTSparkStreaming.scala:29`). On Spark's default trigger an idle query
  * re-lists a file source after every 10 ms polling delay. On 4 vCPUs an
  * idle Orchestrator then used 0.89 cores with 10 files watched and 2.4
  * with 350, nearly all of it (by JFR) in the listing of Spark's file
  * source `latestOffset`; on this trigger it uses 0.29 and 0.61. A new
  * chunk waits at most 100 ms for its trigger, against result latency
  * p50s of about 1.3 s in the repo benchmark's steady workload.
  *
  * Checkpoints: each trigger of each query writes three checkpoint files
  * (its file source's `sources/0` log entry, the offset WAL and the commit
  * log; the history sink adds its `_spark_metadata` entries). Without the
  * native `libhadoop`, Hadoop's local filesystem shells out: creating a
  * file and its `.crc` runs two `chmod`s, and Spark's default manager
  * renames through `FileContext`, whose link checks run eight `readlink`s
  * more. That is ten process spawns per checkpoint file, 1,500 of the
  * 2,000 a repo benchmark steady run started (JFR, 4 vCPUs). `startAll`
  * therefore sets `spark.sql.streaming.checkpointFileManagerClass` to
  * Spark's `FileSystemBasedCheckpointFileManager` on the session it runs
  * in, unless that session already names a manager. The setting is
  * session-wide, because Spark reads it from the session as each query
  * starts, so queries started later in the same session use it too. That
  * manager renames with `FileSystem.rename`, one `rename(2)` and no
  * `readlink`; it is atomic on a local disk, the condition Spark states
  * for it. It keeps the checksummed on-disk format, so older checkpoints
  * stay readable, and with it the two `chmod`s per file.
  *
  * Restarts: each instance checkpoints under a fresh run id, so it cannot
  * resume another instance's run. A second instance on the same
  * checkpoint root and sink paths would restart batch ids at 0, and the
  * registers' batch markers and the history sink's `_spark_metadata` would
  * then drop its first batch as already applied, without an error.
  * `startAll` therefore refuses a checkpoint root that holds another run.
  */
final class Orchestrator(
    locationSink: TableSink,
    profileSink: TableSink,
    salesSink: TableSink,
    historyPath: String,
    checkpointRoot: String,
    mapDataEnabled: Boolean = false) {

  private val runId = java.util.UUID.randomUUID().toString.replace("-", "")
  // One run per checkpoint root: startAll refuses a root holding another.
  private val ckpt = s"$checkpointRoot/$runId"
  /** Memory-sink table holding the alert stream's output (unique per
    * orchestrator instance, so concurrent orchestrators never collide). */
  val alertsTable: String = s"orchestrated_alerts_$runId"
  /** Memory-sink table for the flag-gated mapData branch. */
  val mapDataTable: String = s"orchestrated_mapdata_$runId"

  /** Start every pipeline on a [[StreamSource]] — the config-selected
    * broker seam the reference builds its driver around
    * (`IOTSparkStreaming.scala:33-44`). */
  def startAll(spark: SparkSession, source: StreamSource): Seq[StreamingQuery] =
    startAll(source.open(spark))

  /** Start every pipeline on the raw-line stream; returns the running
    * queries (callers drain with `processAllAvailable`/`stop`). Throws
    * `IllegalStateException` if `checkpointRoot` holds another run, and
    * sets the session's checkpoint manager if it names none (see the class
    * doc). */
  def startAll(raw: DataFrame): Seq[StreamingQuery] = {
    val root = new Path(checkpointRoot)
    val fs = root.getFileSystem(raw.sparkSession.sparkContext.hadoopConfiguration)
    val others = (if (fs.exists(root)) fs.listStatus(root).toSeq else Nil)
      .map(_.getPath.getName).filterNot(_ == runId)
    if (others.nonEmpty) throw new IllegalStateException(
      s"checkpoint root $checkpointRoot already holds run(s) ${others.mkString(", ")}; " +
        "an Orchestrator cannot resume another run, and its first batches would be " +
        "dropped as already applied: use fresh sink and checkpoint paths")
    val conf = raw.sparkSession.conf
    if (conf.getOption(CheckpointManagerKey).isEmpty)
      conf.set(CheckpointManagerKey, classOf[FileSystemBasedCheckpointFileManager].getName)
    val fitbit = parseFitbit(raw)

    val alerts = warningAlerts(fitbit)
      .select(col("user_id"), col("warning"), col("machine_ts"))
      .writeStream.format("memory").queryName(alertsTable)
      .option("checkpointLocation", s"$ckpt/alerts")
      .outputMode("append").trigger(BatchTrigger).start()

    val location = locations(fitbit)
      .writeStream
      .option("checkpointLocation", s"$ckpt/location")
      .foreachBatch { (b: DataFrame, id: Long) => locationSink.upsert(b, id) }
      .trigger(BatchTrigger).start()

    val history = StreamPipelines.history(fitbit)
      .writeStream.format("parquet")
      .option("path", historyPath)
      .option("checkpointLocation", s"$ckpt/history")
      .partitionBy("dt").outputMode("append").trigger(BatchTrigger).start()

    val profiles = parseNewUser(raw)
      .filter(col("_corrupt").isNull).drop("_corrupt", "rtype")
      .withColumn("ver", col("bmi")) // monotone per-user version in the feed
      .writeStream
      .option("checkpointLocation", s"$ckpt/profiles")
      .foreachBatch { (b: DataFrame, id: Long) => profileSink.upsert(b, id) }
      .trigger(BatchTrigger).start()

    val sales = parseSales(raw)
      .filter(col("_corrupt").isNull).select(col("date"), col("count"))
      .writeStream
      .option("checkpointLocation", s"$ckpt/sales")
      .foreachBatch { (b: DataFrame, id: Long) => salesSink.upsert(b, id) }
      .trigger(BatchTrigger).start()

    val base = Seq(alerts, location, history, profiles, sales)
    if (!mapDataEnabled) base
    else base :+ mapData(fitbit)
      .select(renderTuple(col("user_id"), col("lat"), col("long"),
        col("pulse"), col("temp")).as("rendered"))
      .writeStream.format("memory").queryName(mapDataTable)
      .option("checkpointLocation", s"$ckpt/mapdata")
      .outputMode("append").trigger(BatchTrigger).start()
  }
}

object Orchestrator {
  /** The one trigger of every query [[Orchestrator.startAll]] starts. */
  val BatchTrigger: Trigger = Trigger.ProcessingTime(100, TimeUnit.MILLISECONDS)

  private val CheckpointManagerKey = "spark.sql.streaming.checkpointFileManagerClass"
}
