package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stateful-streaming scale probes (VERDICT r13 #1): the x100 bench
  * artifact excludes the s-series on the claim that streaming cost is
  * per-batch machinery, not data volume — but the committed stateless
  * measurement (`stream_scale.json`) exercised the one pipeline that
  * carries NO state. These probes drive the two expensive STATEFUL shapes —
  * the s05-shaped watermarked windowed aggregation and the s10-shaped
  * watermark-bounded stream-stream join — over a synthetic wire feed whose
  * rows/batch and key cardinality are controlled axes, and return each
  * batch's trigger time together with its state-store row count. Two claims
  * become measurements:
  *
  *  1. per-batch time is flat in STREAM LENGTH — batch N costs the same as
  *     batch 3, because the watermark evicts state older than its horizon,
  *     so state (and therefore commit cost) does not grow with history;
  *  2. state plateaus at O(key cardinality × open-window count) rows — the
  *     bound the 100 TB argument rests on ([[StatefulScaleSpec]] pins the
  *     plateau; `stream_scale_stateful.json` carries the timings).
  *
  * The feed advances EVENT TIME by [[BatchSpanMs]] (30 min) per micro-batch,
  * so a 16-batch drain spans 8 h of event time against a 2 h watermark —
  * eviction must happen mid-drain or the plateau assert fails. Rendering
  * goes through [[Wire.fitbitLine]] and [[StreamPipelines.parseFitbit]] so
  * the probes measure the registered queries' real parse + classify + state
  * pipeline shape, not a stripped-down stand-in.
  */
object ScaleProbes {

  /** Fixed event-time origin (2023-11-14T22:13:20Z). Wall-clock never enters
    * the probe: event time is synthetic, so runs are reproducible. */
  val Epoch0Ms: Long = 1700000000000L

  /** Event-time span covered by each micro-batch: 30 min, i.e. 4 batches
    * per 2 h watermark horizon — deep enough that a 16-batch drain sees
    * ~12 batches of steady-state eviction. */
  val BatchSpanMs: Long = 30L * 60 * 1000

  /** Per-batch timing + state measurement: trigger wall time, total state
    * rows across all stateful operators after the batch, and rows read. */
  final case class BatchPoint(ms: Long, stateRows: Long, inputRows: Long)

  /** One synthetic micro-batch of `rows` fitbit wire lines: event times
    * sweep `[Epoch0Ms + k·span, Epoch0Ms + (k+1)·span)` near-monotonically
    * (the harness feed-ordering precondition), keys cycle `id % keys`, and
    * every field is integer-derived — the same determinism discipline as
    * [[graft.queries.StreamingQueries]]'s events feed. */
  def chunk(s: SparkSession, k: Int, rows: Int, keys: Int): DataFrame =
    s.range(rows).select(
      (lit(k.toLong * rows) + col("id")).as("event_id"),
      timestamp_millis(lit(Epoch0Ms + k * BatchSpanMs) +
        ((col("id") * lit(BatchSpanMs)) / lit(rows.toLong)).cast("long")).as("ts"),
      (col("id") % keys).as("user_id"),
      lit("click").as("event_type"),
      ((col("id") % 200) / lit(2.0)).as("value"))
      .select(Wire.fitbitLine.as("value"))

  private def points(progs: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]) =
    progs.map(p => BatchPoint(
      p.durationMs.get("triggerExecution").longValue(),
      p.stateOperators.map(_.numRowsTotal).sum,
      p.numInputRows))

  /** s05-shaped stateful probe: wire parse → event-time from the string
    * timestamp → 2 h watermark → 1 h tumbling window × user key → count,
    * append mode into the noop sink (the probe measures trigger time and
    * state, not results — a memory sink would accumulate driver-side rows
    * and contaminate late-batch timings with sink growth). State rows per
    * open (window, key) pair; the watermark caps open windows at ~4, so
    * state plateaus at ≤ ~4·keys regardless of stream length. */
  def windowProbe(s: SparkSession, batches: Int, rows: Int, keys: Int): Seq[BatchPoint] = {
    val src = new FileStreamSource(StreamHarness.tempDir("sswin-feed"))
    val chunks = (0 until batches).map(k => chunk(s, k, rows, keys))
    val progs = StreamHarness.drain(s, src, StreamHarness.appends(src, chunks)) { raw =>
      StreamPipelines.parseFitbit(raw)
        .select(try_to_timestamp(col("ts_str"),
          lit("yyyy-MM-dd HH:mm:ss")).as("event_ts"), col("user_id"))
        .filter(col("event_ts").isNotNull)
        .withWatermark("event_ts", "2 hours")
        .groupBy(window(col("event_ts"), "1 hour"), col("user_id"))
        .count()
        .writeStream.format("noop")
        .option("checkpointLocation", StreamHarness.checkpointDir("sswin"))
        .outputMode("append").start()
    }
    points(progs)
  }

  /** s10-shaped stateful probe: the dense event stream (rows/batch) joined
    * to a sparse location stream (ONE ping per key per batch — the realistic
    * dimension-update rate; a dense×dense time-range join would measure
    * output explosion, not state machinery) on key equality + 1 h lookback,
    * both sides under 2 h watermarks. Join state is watermark-bounded:
    * ~4 batches of the dense side + ~5·keys of the sparse side, flat in
    * stream length. */
  def joinProbe(s: SparkSession, batches: Int, rows: Int, keys: Int): Seq[BatchPoint] = {
    val srcA = new FileStreamSource(StreamHarness.tempDir("ssjoina-feed"))
    val srcB = new FileStreamSource(StreamHarness.tempDir("ssjoinb-feed"))
    val dense = (0 until batches).map(k => chunk(s, k, rows, keys))
    val sparse = (0 until batches).map(k => chunk(s, k, keys, keys))
    val progs = StreamHarness.drain(s, Seq(
      srcA -> StreamHarness.appends(srcA, dense),
      srcB -> StreamHarness.appends(srcB, sparse))) { case Seq(rawA, rawB) =>
      val evs = StreamPipelines.parseFitbit(rawA)
        .select(col("user_id"),
          timestamp_millis(col("machine_ts").cast("long")).as("a_ts"))
        .withWatermark("a_ts", "2 hours")
      val locs = StreamPipelines.locations(StreamPipelines.parseFitbit(rawB))
        .select(col("user_id").as("l_user"), col("lat"), col("long"),
          timestamp_millis(col("ver")).as("l_ts"))
        .withWatermark("l_ts", "2 hours")
      evs.join(locs,
        col("user_id") === col("l_user") &&
          col("l_ts") <= col("a_ts") &&
          col("l_ts") > col("a_ts") - expr("interval 1 hour"))
        .select(col("user_id"), col("a_ts"), col("l_ts"), col("lat"), col("long"))
        .writeStream.format("noop")
        .option("checkpointLocation", StreamHarness.checkpointDir("ssjoin"))
        .outputMode("append").start()
    }
    points(progs)
  }
}
