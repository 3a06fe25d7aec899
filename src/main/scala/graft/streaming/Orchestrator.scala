package graft.streaming

import java.util.concurrent.TimeUnit

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import Orchestrator.BatchTrigger
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
  */
final class Orchestrator(
    locationSink: TableSink,
    profileSink: TableSink,
    salesSink: TableSink,
    historyPath: String,
    checkpointRoot: String,
    mapDataEnabled: Boolean = false) {

  private val runId = java.util.UUID.randomUUID().toString.replace("-", "")
  // Checkpoints must be unique per query TOO — two orchestrators sharing a
  // checkpointRoot would otherwise corrupt each other's offset logs.
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
    * queries (callers drain with `processAllAvailable`/`stop`). */
  def startAll(raw: DataFrame): Seq[StreamingQuery] = {
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
}
