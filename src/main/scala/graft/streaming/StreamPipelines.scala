package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.HealthFunctions

/** The reference's stream transformations, re-expressed as DataFrame
  * pipelines over a raw-line column. Shared verbatim between the registered
  * streaming queries and the ScalaTest suite — batch and streaming DataFrames
  * run the exact same plans (Structured Streaming's unified model).
  */
object StreamPipelines {

  /** Escalation categories for the events-derived feed: `event_type` plays
    * the bp-category role (the q04 convention; the reference's set is
    * [[HealthFunctions.CriticalBpCats]], reference `IOTSparkStreaming.scala:134`). */
  val EventCriticalCats: Seq[String] = Seq("error", "purchase")

  /** Demux (P1) + typed parse (P2): raw multiplexed lines → fitbit columns.
    * Filtering on the tag happens BEFORE the per-topic parse, exactly like
    * the reference (`IOTSparkStreaming.scala:46` then `:119-126`). */
  def parseFitbit(raw: DataFrame): DataFrame =
    raw.filter(Wire.tagOf(col("value")) === "fitbit")
      .select(Wire.parseCsv(col("value"), Wire.FitbitSchema).as("r"))
      .select(col("r.*"))

  /** Alert pipeline (P8/P9/P10/P11, reference `IOTSparkStreaming.scala:119-140`):
    * round pulse half-up, classify against the piecewise max-pulse limit,
    * keep only actionable alerts. */
  def warningAlerts(parsed: DataFrame,
                    criticalCats: Seq[String] = EventCriticalCats): DataFrame =
    parsed
      .select(col("user_id"), col("age"),
        HealthFunctions.roundHalfUp(col("pulse")).as("pulse"),
        col("bp_cat"), col("machine_ts"), col("ts_str"))
      .withColumn("warning",
        HealthFunctions.warning(col("pulse"), col("age"), col("bp_cat"),
          criticalCats = criticalCats))
      .filter(col("warning") =!= "no-use")

  /** K5's exact output rendering (reference `IOTSparkStreaming.scala:107,140`):
    * Scala tuple `toString`, e.g. `(42,critical,2024-01-01 10:22:01)`. */
  def renderTuple(cols: Column*): Column =
    concat(lit("("), concat_ws(",", cols: _*), lit(")"))

  /** Corrupt-row policy for sink-bound projections: malformed lines are
    * visible at the wire layer (`_corrupt`, exercised by c01) but are
    * quarantined before any keyed register or append sink — a null-keyed
    * upsert row is garbage, and the reference's alternative is a crashed
    * batch (SURVEY.md §2.7). */
  private def clean(parsed: DataFrame): DataFrame =
    parsed.filter(col("_corrupt").isNull)

  /** Location projection (P4, reference `IOTSparkStreaming.scala:160-165`)
    * with a numeric version column for deterministic last-write-wins. */
  def locations(parsed: DataFrame): DataFrame =
    clean(parsed).select(col("user_id"), col("lat"), col("long"),
      col("machine_ts").cast("long").as("ver"))

  /** History projection (P5, reference `test.scala:216-227`): epoch millis
    * come from parsing the STRING event timestamp (seconds precision) —
    * the reference's `SimpleDateFormat.parse(...).getTime`. `try_to_timestamp`
    * because a malformed timestamp must null out, not kill the micro-batch
    * (ANSI `to_timestamp` throws — the reference's crash mode, SURVEY §2.7). */
  def history(parsed: DataFrame): DataFrame =
    clean(parsed).select(
      col("user_id"),
      substring(col("ts_str"), 1, 10).as("dt"),
      (unix_timestamp(try_to_timestamp(col("ts_str"),
        lit("yyyy-MM-dd HH:mm:ss"))) * 1000).as("time_ms"),
      col("lat"), col("long"), col("pulse"), col("temp"))

  /** New-user profile parse (P6, reference `IOTSparkStreaming.scala:51-67`):
    * demux + 12-field typed projection, corrupt rows dropped. */
  def parseNewUser(raw: DataFrame): DataFrame =
    raw.filter(Wire.tagOf(col("value")) === "new-user-notification")
      .select(Wire.parseCsv(col("value"), Wire.NewUserSchema).as("r"))
      .select(col("r.*"))

  /** Sales parse (P7, reference `IOTSparkStreaming.scala:73-75`). */
  def parseSales(raw: DataFrame): DataFrame =
    raw.filter(Wire.tagOf(col("value")) === "sales")
      .select(Wire.parseCsv(col("value"), Wire.SalesSchema).as("r"))
      .select(col("r.*"))

  /** Offset-carrying sales parse ([[Wire.SalesSchemaV2]], s13). */
  def parseSalesV2(raw: DataFrame): DataFrame =
    raw.filter(Wire.tagOf(col("value")) === "sales")
      .select(Wire.parseCsv(col("value"), Wire.SalesSchemaV2).as("r"))
      .select(col("r.*"))

  /** CDC dimension-update parse ([[Wire.ScdSchema]], s21). */
  def parseScd(raw: DataFrame): DataFrame =
    raw.filter(Wire.tagOf(col("value")) === "scd")
      .select(Wire.parseCsv(col("value"), Wire.ScdSchema).as("r"))
      .select(col("r.*"))

  /** mapData projection (P3, reference `IOTSparkStreaming.scala:92-100`):
    * `(user_id, lat, long, pulse:Int, temp)` for the map topic. The
    * reference defines this pipeline but comments out its start
    * (`IOTSparkStreaming.scala:81`), so the orchestrator gates it behind a
    * flag, default OFF (SURVEY.md §2.9.4). */
  def mapData(parsed: DataFrame): DataFrame =
    clean(parsed).select(col("user_id"), col("lat"), col("long"),
      HealthFunctions.roundHalfUp(col("pulse")).as("pulse"), col("temp"))

  // ---- DuckDB oracle fragments computing the same values straight from the
  // ---- events table (the renderer in Wire is integer-derived or
  // ---- exact-round-trip, so no string handling is needed oracle-side).

  val PulseSql = "CAST(FLOOR(value + CAST(0.5 AS DOUBLE)) AS INT)"
  val AgeSql = "CAST(user_id % 60 + 18 AS INT)"
  val MaxPulseSql: String =
    "(CASE WHEN user_id % 60 + 18 < 40 THEN CAST(220.0 AS DOUBLE) - (user_id % 60 + 18) " +
      "ELSE CAST(208.0 AS DOUBLE) - CAST(0.75 AS DOUBLE) * (user_id % 60 + 18) END)"
  val WarningSql: String =
    s"CASE WHEN $PulseSql >= CAST(0.95 AS DOUBLE) * $MaxPulseSql " +
      "THEN CASE WHEN event_type IN ('error','purchase') THEN 'critical' ELSE 'simple' END " +
      "ELSE 'no-use' END"
  val LatSql = "CAST(user_id % 90 AS VARCHAR)"
  val LongSql = "CAST(event_id % 180 AS VARCHAR)"
  val TsStrSql = "strftime(ts, '%Y-%m-%d %H:%M:%S')"
}
