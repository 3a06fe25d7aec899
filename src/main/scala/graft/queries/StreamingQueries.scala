package graft.queries

import java.util.UUID

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.streaming.{FileStreamSource, FileTopicWriter, RecallAlertBus, StreamHarness, StreamPipelines, UpsertSink, Wire}
import graft.streaming.StreamPipelines._

/** The streaming vertical (SURVEY.md §2.1 S1, §2.5 K1–K5, §2.7): real
  * `StreamingQuery` executions — micro-batch engine, checkpointing,
  * watermarks, idempotent sinks — driven to completion inside a registered
  * query so the driver's DuckDB gate can value-check streaming results
  * against the same parquet tables.
  *
  * The feed is the `events` table rendered as the reference's multiplexed
  * CSV wire lines ([[Wire.fitbitLine]]), chunked into micro-batches in
  * event-id range order — the deterministic stand-in for Kafka arrival order
  * (reference `IOTSparkStreaming.scala:43-46`). The feed is fully
  * distributed: chunks are DataFrames published executor-side through
  * [[FileStreamSource]]/[[graft.streaming.FileFeed]] (`df.write.text`), so
  * no line ever funnels through the driver — the broker's role is played by
  * a watched directory, and a production Kafka adapter is one more
  * [[graft.streaming.StreamSource]] implementation.
  */
object StreamingQueries {

  /** Micro-batches per streaming query: 2 keeps every cross-batch behavior
    * under test (state carry-over, upsert last-write-wins across batches)
    * while halving the fixed per-batch cost — incremental planning + state
    * store commit dominate these queries, not data volume (see README
    * "Benchmark shape"). The test suite drives deeper batch counts.
    *
    * Feed-ordering precondition (load-bearing for s10's oracle claim): the
    * feed is chunked in event_id order and event times are near-monotone in
    * event_id, so no chunk carries an event time more than the watermark
    * delay (2 h) behind the maximum already seen — state eviction therefore
    * cannot drop a joinable row, and the drained stream result equals the
    * full relational join. A shuffled feed would need the watermark sized
    * from the actual per-chunk ts span instead. */
  private val Chunks = 2

  /** The events feed as [[Chunks]] chunk DataFrames in ascending event_id
    * ranges ([[StreamHarness.rangeChunks]]) — rendered with `render` (default
    * [[Wire.fitbitLine]]) to the single `value` column [[FileStreamSource]]
    * publishes. Range chunking preserves the feed-ordering precondition
    * above without any driver-side collect. */
  private def feedChunks(s: SparkSession, dir: String,
                         render: Column = Wire.fitbitLine): Seq[DataFrame] =
    StreamHarness.rangeChunks(Tables.load(s, dir, "events"), "event_id", Chunks)
      .map(_.select(render.as("value")))

  /** Rendered wire-feed staging, once per (corpus dir, wire tag) — the
    * feed-side sibling of c02's `jsonlDirs`: in production the broker
    * already HOLDS the wire bytes, so re-rendering the identical lines for
    * every consuming query times fixture manufacturing (a full events scan
    * + chunk-bounds aggregate + text render + write per query, ~0.7 s at
    * sf0.1 × ~25 drains per bench run), not the stream under test. The
    * first use per JVM pays the render — the SAME distributed
    * `write.text` jobs the per-query path ran — and every subsequent drain
    * publishes the same bytes by hard-linking the staged part-files into
    * its own watched dir ([[FileStreamSource.appendStaged]]). Batch
    * boundaries, line payloads, and per-batch file counts are
    * byte-identical to the per-query render, so every query's result is
    * unchanged. Staged dirs are harness temp dirs (JVM-exit cleaned); the
    * micro-batch engine, state stores, sinks, and result readback remain
    * fully inside the timed region. */
  private val stagedFeedDirs =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()

  private def stagedChunks(dir: String, tag: String)(
      mk: => Seq[DataFrame]): Seq[String] =
    stagedFeedDirs.computeIfAbsent(s"$dir#$tag", { _ =>
      mk.zipWithIndex.map { case (c, i) =>
        val p = StreamHarness.tempDir(s"stage-$tag-c$i")
        c.write.mode("overwrite").text(p)
        p
      }
    })

  /** Publisher list for a registered staged wire feed: one publisher per
    * chunk, each hard-linking that chunk's staged files into `src`'s watched
    * dir. The feed is RESOLVED from [[feedRegistry]] by tag — call sites
    * cannot pair a tag with a divergent render (ADVICE r17). */
  private def feedPublishers(s: SparkSession, dir: String, src: FileStreamSource,
                             tag: String = "fitbit"): Seq[() => Unit] =
    stagedFeed(s, dir, tag).map(d => () => src.appendStaged(d))

  /** Fresh watched-directory source per query run (temp dir is
    * shutdown-hook cleaned like every harness dir). */
  private def fileSource(tag: String): FileStreamSource =
    new FileStreamSource(StreamHarness.tempDir(s"$tag-feed"))

  /** The at-least-once feed s08 and s14 share (every 50th event doubled).
    * HOISTED to one definition (ADVICE r17): the staged-feed cache keys by
    * (dir, tag) only, so two queries publishing under the tag "fitbit-dup"
    * MUST render identically — inlining the expression at both call sites
    * let an edit to one silently feed the other stale staged bytes. A
    * single shared val makes tag↔render bijectivity structural. */
  private val dupFeedRender: Column =
    explode(when(col("event_id") % 50 === 0,
      array(Wire.fitbitLine, Wire.fitbitLine))
      .otherwise(array(Wire.fitbitLine)))

  /** s25's corrupt-every-97th fitbit wire (c01's corruption policy on the
    * live stream). */
  private val badFitbitFeedRender: Column =
    when(col("event_id") % 97 === 0, Wire.fitbitLineWith(lit("bad")))
      .otherwise(Wire.fitbitLine)

  /** s07's 3-field sales wire. */
  private val salesFeedRender: Column = concat_ws(",", lit("sales"),
    date_format(col("ts"), "yyyy-MM-dd"),
    graft.functions.HealthFunctions.roundHalfUp(col("value")).cast("string"))

  /** s13's seq-versioned sales wire ([[Wire.SalesSchemaV2]]). */
  private val salesV2FeedRender: Column = concat_ws(",", lit("sales"),
    date_format(col("ts"), "yyyy-MM-dd"),
    graft.functions.HealthFunctions.roundHalfUp(col("value")).cast("string"),
    col("event_id").cast("string"))

  /** s21's SCD2 dimension-update wire. */
  private val scdFeedRender: Column = concat_ws(",", lit("scd"),
    col("user_id").cast("string"),
    floor(col("value") / lit(100.0)).cast("int").cast("string"),
    col("event_id").cast("string"))

  /** s22's multiplexed wire: dimension updates under the `scd` tag, clicks
    * under a distinct tag the scd pipeline's demux drops. */
  private val scdClickFeedRender: Column = when(col("event_type") === "click",
    concat_ws(",", lit("clickq"), col("user_id").cast("string"),
      col("event_id").cast("string")))
    .otherwise(scdFeedRender)

  /** s23's as-of click/purchase wire. */
  private val aofFeedRender: Column = concat_ws(",", lit("aof"),
    col("user_id").cast("string"),
    col("event_id").cast("string"), unix_micros(col("ts")).cast("string"),
    col("event_type"))

  /** s06's two-chunk profile feed from the customer dimension: chunk 1 =
    * every v1 profile line, chunk 2 = every v2 update (the upsert register
    * resolves by the monotone ver column, so within-chunk order is
    * immaterial — no orderBy, no collect). */
  private def s06ProfileChunks(s: SparkSession, dir: String): Seq[DataFrame] = {
    def line(ver: Int) = concat_ws(",",
      lit("new-user-notification"),
      (col("c_custkey") % 60 + 18).cast("string"),
      when(col("c_custkey") % 2 === 0, lit("F")).otherwise(lit("M")),
      col("c_mktsegment"),
      (when(lit(ver) === 1, col("c_acctbal")).otherwise(col("c_acctbal") + 1))
        .cast("string"),
      (lit(1.5) + (col("c_custkey") % 50) / lit(100.0)).cast("string"),
      lit(ver).cast("double").cast("string"),
      (col("c_custkey") % 40).cast("double").cast("string"),
      when(col("c_custkey") % 3 === 0, lit("HYP_1"))
        .when(col("c_custkey") % 3 === 1, lit("NORMAL")).otherwise(lit("ELEV")),
      (col("c_custkey") % 40 + 100).cast("double").cast("string"),
      (col("c_custkey") % 30 + 60).cast("double").cast("string"),
      concat(lit("u"), col("c_custkey")),
      concat(lit("d"), col("c_custkey")))
    val cust = Tables.load(s, dir, "customer")
    Seq(cust.select(line(1).as("value")), cust.select(line(2).as("value")))
  }

  /** The `doc_id|text` wire feed s26/s27/s29 share under the staged tag
    * "docs". */
  private def docsFeedChunks(s: SparkSession, dir: String): Seq[DataFrame] =
    StreamHarness.rangeChunks(Tables.load(s, dir, "documents"), "doc_id", Chunks)
      .map(_.select(concat(col("doc_id"), lit("|"), col("text")).as("value")))

  /** THE one tag → feed definition table (ADVICE r17): the staging cache
    * keys by (dir, tag), so correctness requires tag ↔ render bijectivity —
    * previously enforced by hand at every call site (s08 and s14 each
    * inlined an identical dup render under the shared tag "fitbit-dup",
    * where an edit to one would silently feed the other stale staged
    * bytes). Publishers now RESOLVE the feed from this registry by tag, so
    * a tag has exactly one render definition, structurally. It also gives
    * the bench a complete feed list to pre-stage untimed
    * ([[prestageFeeds]]). */
  private val feedRegistry: Map[String, (SparkSession, String) => Seq[DataFrame]] =
    Map(
      "fitbit" -> ((s, dir) => feedChunks(s, dir)),
      // Single-chunk fitbit backlog for queries whose semantics do not
      // depend on a multi-batch split (VERDICT r17 next #6): s03/s04/s11
      // are stateless append pipelines — no watermark, no cross-batch
      // state, results batch-boundary-independent — so the 2-chunk split
      // only doubled their fixed per-trigger cost (incremental planning +
      // commit, ~250 ms/trigger measured per phase). Stateful and
      // cross-batch queries keep the 2-chunk feed; the test suite drives
      // deeper batch counts for all of them.
      "fitbit1" -> ((s, dir) =>
        Seq(Tables.load(s, dir, "events").select(Wire.fitbitLine.as("value")))),
      "fitbit-dup" -> ((s, dir) => feedChunks(s, dir, dupFeedRender)),
      "fitbit-bad" -> ((s, dir) => feedChunks(s, dir, badFitbitFeedRender)),
      "sales" -> ((s, dir) => feedChunks(s, dir, salesFeedRender)),
      "salesv2" -> ((s, dir) => feedChunks(s, dir, salesV2FeedRender)),
      "scd" -> ((s, dir) => feedChunks(s, dir, scdFeedRender)),
      "scd-click" -> ((s, dir) => feedChunks(s, dir, scdClickFeedRender)),
      "aof" -> ((s, dir) => feedChunks(s, dir, aofFeedRender)),
      "s06-profile" -> (s06ProfileChunks(_, _)),
      "docs" -> (docsFeedChunks(_, _)))

  /** The staged part-file dirs for a registered feed tag. */
  private def stagedFeed(s: SparkSession, dir: String, tag: String): Seq[String] =
    stagedChunks(dir, tag)(feedRegistry(tag)(s, dir))

  /** Stage EVERY registered wire feed for `dir`, untimed (ADVICE r17 #4):
    * without this the one-time render lands inside the FIRST consuming
    * query's timed region at each corpus dir (inflating that query's rep CV
    * while later consumers exclude feed manufacture entirely). Bench calls
    * this next to the IndexPrebuild pass so no query's timed reps absorb
    * staging and the first-payer asymmetry disappears. Idempotent — the
    * per-(dir, tag) compute-once map makes repeated calls no-ops. */
  def prestageFeeds(s: SparkSession, dir: String): Unit =
    feedRegistry.keys.toSeq.sorted.foreach(tag => stagedFeed(s, dir, tag))

  private def docsFeedPublishers(s: SparkSession, dir: String,
                                 src: FileStreamSource): Seq[() => Unit] =
    stagedFeed(s, dir, "docs").map(d => () => src.appendStaged(d))

  /** c01 — the CSV wire-parse layer itself (P2/P3/P6 typed parse + the
    * malformed-line policy the reference lacks, SURVEY.md §2.7): every 97th
    * event's pulse field is corrupted; PERMISSIVE parse nulls the bad field,
    * keeps the rest, and flags the row. Pure batch dataflow (no driver
    * collect). */
  val c01MultiplexParse: GraftQuery = GraftQuery(
    "c01_multiplex_parse",
    "multiplexed CSV typed parse, PERMISSIVE corrupt-record policy (P2/P6/S1 parse layer)",
    (s, dir) => {
      val raw = Tables.load(s, dir, "events")
        .select(when(col("event_id") % 97 === 0, Wire.fitbitLineWith(lit("bad")))
          .otherwise(Wire.fitbitLine).as("value"))
      val parsed = parseFitbit(raw)
        .select(col("user_id"), col("lat"), col("long"), col("pulse"),
          col("temp"), col("age"), col("bp_cat"), col("machine_ts"),
          col("_corrupt").isNotNull.as("is_corrupt"))
      // sortedOnce: the CSV render + PERMISSIVE from_csv parse is the whole
      // cost and shuffle-free — a bare orderBy parses every line twice.
      GraftQuery.sortedOnce(parsed,
        col("user_id"), col("machine_ts"), col("long"), col("pulse"))
    },
    Some(s"""SELECT CAST(user_id AS VARCHAR) AS user_id, $LatSql AS lat, $LongSql AS long,
      CASE WHEN event_id % 97 = 0 THEN NULL ELSE value END AS pulse,
      value AS temp, $AgeSql AS age, event_type AS bp_cat,
      CAST(epoch_ms(ts) AS VARCHAR) AS machine_ts,
      (event_id % 97 = 0) AS is_corrupt
      FROM events
      ORDER BY CAST(user_id AS VARCHAR), CAST(epoch_ms(ts) AS VARCHAR), $LongSql,
        CASE WHEN event_id % 97 = 0 THEN NULL ELSE value END NULLS FIRST"""))

  /** Materialized JSONL rendering of the events table, once per corpus dir
    * (same write-once coordination as TextQueries' signature table). */
  private val jsonlDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Microsecond-precision timestamp format for the JSONL round trip:
    * Spark's default JSON timestampFormat writes millisecond precision,
    * which would silently truncate the fixture's microsecond timestamps. */
  private val JsonTsFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"

  /** c02 — JSONL source adapter (the source-format surface beyond parquet +
    * CSV wire): the events table rendered to JSON lines once, then read
    * back through `spark.read.schema(...).json` — explicit schema, no
    * inference pass (inference is a full extra scan at 100 TB), explicit
    * microsecond timestampFormat on both sides. The value check proves the
    * round trip is lossless: int64 keys, double values, and microsecond
    * event times all hash-match the parquet originals. */
  val c02JsonlSource: GraftQuery = GraftQuery(
    "c02_jsonl_source",
    "JSONL source adapter: explicit-schema lossless json round trip of events (no inference scan)",
    (s, dir) => {
      import org.apache.spark.sql.types._
      val path = jsonlDirs.computeIfAbsent(dir, { d =>
        val out = StreamHarness.tempDir("jsonl")
        Tables.load(s, d, "events")
          .select(to_json(
            struct(col("event_id"), col("ts"), col("user_id"),
              col("event_type"), col("value")),
            Map("timestampFormat" -> JsonTsFmt)).as("value"))
          .write.mode("overwrite").text(out)
        out
      })
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("ts", TimestampType),
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType)))
      Tables.prepare(s)
      val parsed = s.read.schema(schema)
        .option("timestampFormat", JsonTsFmt).json(path)
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("user_id"), col("event_type"), col("value"))
      // sortedOnce: the JSON parse is the whole cost and shuffle-free — a
      // bare orderBy parses the corpus twice (range sampling + output).
      GraftQuery.sortedOnce(parsed, col("event_id"))
    },
    Some("""SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
      FROM events ORDER BY event_id"""))

  /** s01 — the reference's flagship pipeline as a REAL StreamingQuery
    * (SURVEY.md §7.2.2): watched-dir file stream of multiplexed CSV → tag demux →
    * `from_csv` → classifier → memory sink, drained over $Chunks
    * micro-batches with a checkpoint (reference
    * `IOTSparkStreaming.scala:43-48,117-141`). */
  val s01WarningStream: GraftQuery = GraftQuery(
    "s01_warning_stream",
    "streaming warning classifier: file stream -> demux -> from_csv -> classify -> memory sink (S1/P1/P2/P8-P11)",
    (s, dir) => {
      val qn = "s01_sink_" + UUID.randomUUID().toString.replace("-", "")
      val src = fileSource("s01")
      StreamHarness.drain(s, src, feedPublishers(s, dir, src)) { raw =>
        warningAlerts(parseFitbit(raw))
          .select(col("user_id"), col("age"), col("pulse"), col("warning"),
            col("machine_ts"))
          .writeStream.format("memory").queryName(qn)
          .option("checkpointLocation", StreamHarness.checkpointDir("s01"))
          .outputMode("append").start()
      }
      s.table(qn).orderBy(col("user_id"), col("machine_ts"), col("pulse"),
        col("warning"), col("age"))
    },
    Some(s"""SELECT CAST(user_id AS VARCHAR) AS user_id, $AgeSql AS age,
      $PulseSql AS pulse, $WarningSql AS warning,
      CAST(epoch_ms(ts) AS VARCHAR) AS machine_ts
      FROM events WHERE $WarningSql <> 'no-use'
      ORDER BY CAST(user_id AS VARCHAR), CAST(epoch_ms(ts) AS VARCHAR),
        $PulseSql, $WarningSql, $AgeSql"""))

  /** s02 — K3 latest-location upsert sink: `foreachBatch` into an
    * idempotent snapshot-swap parquet register keyed by user (reference
    * `IOTSparkStreaming.scala:158-167`); last-write-wins by version, so the
    * result is independent of batch boundaries and replay. */
  val s02LatestLocationSink: GraftQuery = GraftQuery(
    "s02_latest_location_sink",
    "streaming upsert register: foreachBatch snapshot-swap, last-write-wins per user (K3)",
    (s, dir) => {
      val sink = new UpsertSink(StreamHarness.tempDir("s02-loc"),
        Seq("user_id"), Seq("ver", "long", "lat"))
      val src = fileSource("s02")
      StreamHarness.drain(s, src, feedPublishers(s, dir, src)) { raw =>
        locations(parseFitbit(raw))
          .writeStream
          .option("checkpointLocation", StreamHarness.checkpointDir("s02"))
          .foreachBatch { (b: DataFrame, id: Long) => sink.upsert(b, id) }
          .start()
      }
      sink.snapshot(s).get
        .select(col("user_id"), col("lat"), col("long"), col("ver").as("last_ms"))
        .orderBy(col("user_id"))
    },
    Some(s"""SELECT CAST(user_id AS VARCHAR) AS user_id, $LatSql AS lat,
      $LongSql AS long, epoch_ms(ts) AS last_ms
      FROM events
      QUALIFY row_number() OVER (PARTITION BY user_id
        ORDER BY epoch_ms(ts) DESC, $LongSql DESC, $LatSql DESC) = 1
      ORDER BY CAST(user_id AS VARCHAR)"""))

  /** s03 — J1 stream-static enrichment join with PER-BATCH dimension
    * refresh (SURVEY.md §7.4.4): `foreachBatch` re-reads the customer
    * dimension each micro-batch (the reference's always-fresh per-record
    * Cassandra lookup, `workingTest.scala:183-184`) and broadcast-joins it. */
  val s03EnrichStream: GraftQuery = GraftQuery(
    "s03_enrich_stream",
    "stream-static broadcast join, dimension re-read per micro-batch (J1 streaming)",
    (s, dir) => {
      val out = StreamHarness.tempDir("s03-out")
      val src = fileSource("s03")
      StreamHarness.drain(s, src, feedPublishers(s, dir, src, "fitbit1")) { raw =>
        warningAlerts(parseFitbit(raw))
          .writeStream
          .option("checkpointLocation", StreamHarness.checkpointDir("s03"))
          .foreachBatch { (b: DataFrame, _: Long) =>
            val dim = broadcast(Tables.load(b.sparkSession, dir, "customer")
              .select(col("c_custkey"), col("c_mktsegment")))
            b.join(dim, b("user_id").cast("bigint") === dim("c_custkey"))
              .select(col("user_id"), col("warning"), col("machine_ts"),
                col("c_mktsegment"))
              .write.mode("append").parquet(out)
          }
          .start()
      }
      s.read.parquet(out)
        .orderBy(col("user_id"), col("machine_ts"), col("warning"),
          col("c_mktsegment"))
    },
    Some(s"""SELECT CAST(user_id AS VARCHAR) AS user_id, $WarningSql AS warning,
      CAST(epoch_ms(ts) AS VARCHAR) AS machine_ts, c_mktsegment
      FROM events JOIN customer ON user_id = c_custkey
      WHERE $WarningSql <> 'no-use'
      ORDER BY CAST(user_id AS VARCHAR), CAST(epoch_ms(ts) AS VARCHAR),
        $WarningSql, c_mktsegment"""))

  /** s04 — K4 history append sink: date-partitioned parquet via the file
    * sink (exactly-once through its `_spark_metadata` commit log), with the
    * reference's string-timestamp parse (reference `test.scala:216-229`). */
  val s04HistoryAppend: GraftQuery = GraftQuery(
    "s04_history_append",
    "streaming append sink: date-partitioned parquet, string-ts parse to epoch millis (K4/P5)",
    (s, dir) => {
      val out = StreamHarness.tempDir("s04-out")
      val src = fileSource("s04")
      StreamHarness.drain(s, src, feedPublishers(s, dir, src, "fitbit1")) { raw =>
        history(parseFitbit(raw))
          .writeStream.format("parquet")
          .option("path", out)
          .option("checkpointLocation", StreamHarness.checkpointDir("s04"))
          .partitionBy("dt")
          .outputMode("append").start()
      }
      s.read.parquet(out)
        .select(col("user_id"), col("dt").cast("string").as("dt"),
          col("time_ms"), col("lat"), col("long"), col("pulse"), col("temp"))
        .orderBy(col("user_id"), col("time_ms"), col("long"), col("pulse"))
    },
    Some(s"""SELECT CAST(user_id AS VARCHAR) AS user_id,
      strftime(ts, '%Y-%m-%d') AS dt,
      epoch_ms(date_trunc('second', ts)) AS time_ms,
      $LatSql AS lat, $LongSql AS long, value AS pulse, value AS temp
      FROM events
      ORDER BY CAST(user_id AS VARCHAR), epoch_ms(date_trunc('second', ts)),
        $LongSql, value"""))

  /** s05 — event-time tumbling window + watermark (the beyond-reference
    * streaming-semantics surface, SURVEY.md §7.2.7): hourly counts in
    * APPEND mode, so only watermark-finalized windows are emitted. Two
    * far-future sentinel lines advance the watermark past every real
    * window (watermark for batch N comes from data seen before N).
    *
    * The 2-hour watermark delay makes the append-mode result robust to
    * cross-chunk event-time skew up to 2h (ADVICE r5: a 1s delay relied on
    * the feed's near-monotone ts order at chunk granularity); the sentinel
    * sits decades ahead, so every real window still finalizes. */
  val s05WindowCounts: GraftQuery = GraftQuery(
    "s05_window_counts",
    "event-time tumbling 1h window counts with watermark, append mode (streaming agg)",
    (s, dir) => {
      import s.implicits._
      val qn = "s05_sink_" + UUID.randomUUID().toString.replace("-", "")
      // 3 chunks (2 real + a sentinel chunk): every stateful batch pays a
      // state-store commit plus a no-data batch when the watermark moves,
      // so batch count — not data volume — dominates this query's cost.
      val sentinel = (1 to 2).map(i =>
        s"fitbit,2100-01-01 0$i:00:00,0,0,0,1.0,1.0,20,click,4102444800000")
        .toDF("value")
      val src = fileSource("s05")
      StreamHarness.drain(s, src,
        feedPublishers(s, dir, src) :+ (() => src.append(sentinel))) { raw =>
        parseFitbit(raw)
          .select(try_to_timestamp(col("ts_str"),
            lit("yyyy-MM-dd HH:mm:ss")).as("event_ts"))
          .filter(col("event_ts").isNotNull)
          .withWatermark("event_ts", "2 hours")
          .groupBy(window(col("event_ts"), "1 hour"))
          .count()
          .select(col("window.start").as("ws"), col("count").as("n"))
          .writeStream.format("memory").queryName(qn)
          .option("checkpointLocation", StreamHarness.checkpointDir("s05"))
          .outputMode("append").start()
      }
      s.table(qn).filter(col("ws") < lit("2050-01-01").cast("timestamp"))
        .orderBy(col("ws"))
    },
    Some("""SELECT date_trunc('hour', ts) AS ws, COUNT(*) AS n
      FROM events GROUP BY 1 ORDER BY 1"""))

  /** k05 — K5's exact tuple rendering (reference
    * `IOTSparkStreaming.scala:107,138-140`): alert rows rendered as Scala
    * tuple strings `(user,warning,yyyy-MM-dd HH:mm:ss)`, byte-for-byte.
    * Built straight from the events table — the CSV round trip is c01/s01's
    * surface; repeating it here would just evaluate `from_csv` once per
    * referenced field in the collapsed projection. */
  val k05TupleRender: GraftQuery = GraftQuery(
    "k05_tuple_render",
    "K5 Kafka-producer payload: exact Scala-tuple string rendering of alerts",
    (s, dir) => {
      val age = col("user_id") % 60 + 18
      val warn = graft.functions.HealthFunctions.warning(
        graft.functions.HealthFunctions.roundHalfUp(col("value")), age,
        col("event_type"), criticalCats = EventCriticalCats)
      val rendered = Tables.load(s, dir, "events")
        .select(renderTuple(col("user_id").cast("string"), warn,
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss")).as("rendered"),
          warn.as("w"))
        .filter(col("w") =!= "no-use")
        .select(col("rendered"))
      // sortedOnce: classifier + tuple render is shuffle-free (c01's
      // rationale).
      GraftQuery.sortedOnce(rendered, col("rendered"))
    },
    Some(s"""SELECT '(' || CAST(user_id AS VARCHAR) || ',' || $WarningSql || ',' ||
        $TsStrSql || ')' AS rendered
      FROM events WHERE $WarningSql <> 'no-use'
      ORDER BY rendered"""))

  /** s06 — K1 profile upsert with the P6 12-field typed parse (reference
    * `IOTSparkStreaming.scala:51-69`): each customer emits a v1 profile line
    * then a v2 update (new weight, bmi as the monotone version); the upsert
    * register must surface exactly the v2 fields. Every synthesized field is
    * integer-derived or an exact double op, so the oracle reads customer
    * directly. */
  val s06ProfileUpsert: GraftQuery = GraftQuery(
    "s06_profile_upsert",
    "streaming profile upsert: 12-field new-user parse + keyed register, update beats initial (K1/P6)",
    (s, dir) => {
      val sink = new UpsertSink(StreamHarness.tempDir("s06-prof"),
        Seq("user_id"), Seq("ver"))
      val src = fileSource("s06")
      StreamHarness.drain(s, src,
        feedPublishers(s, dir, src, "s06-profile")) { raw =>
        parseNewUser(raw)
          .filter(col("_corrupt").isNull)
          .withColumn("ver", col("bmi"))
          .writeStream
          .option("checkpointLocation", StreamHarness.checkpointDir("s06"))
          .foreachBatch { (b: DataFrame, id: Long) => sink.upsert(b, id) }
          .start()
      }
      sink.snapshot(s).get
        .select(col("user_id"), col("device_id"), col("age"), col("gender"),
          col("category"), col("weight"), col("height"), col("bmi"),
          col("bfp"), col("bp_cat"), col("bp_sys"), col("bp_dia"))
        .orderBy(col("user_id"))
    },
    Some("""SELECT 'u' || CAST(c_custkey AS VARCHAR) AS user_id,
      'd' || CAST(c_custkey AS VARCHAR) AS device_id,
      CAST(c_custkey % 60 + 18 AS INT) AS age,
      CASE WHEN c_custkey % 2 = 0 THEN 'F' ELSE 'M' END AS gender,
      c_mktsegment AS category,
      c_acctbal + 1 AS weight,
      CAST(1.5 AS DOUBLE) + (c_custkey % 50) / CAST(100.0 AS DOUBLE) AS height,
      CAST(2.0 AS DOUBLE) AS bmi,
      CAST(c_custkey % 40 AS DOUBLE) AS bfp,
      CASE WHEN c_custkey % 3 = 0 THEN 'HYP_1'
           WHEN c_custkey % 3 = 1 THEN 'NORMAL' ELSE 'ELEV' END AS bp_cat,
      CAST(c_custkey % 40 + 100 AS DOUBLE) AS bp_sys,
      CAST(c_custkey % 30 + 60 AS DOUBLE) AS bp_dia
      FROM customer ORDER BY 'u' || CAST(c_custkey AS VARCHAR)"""))

  /** s07 — K2 sales register: 3-field sales wire parse + keyed upsert. The
    * wire format carries no version (the reference relies on arrival-order
    * PK overwrite, `IOTSparkStreaming.scala:76`), so this register keeps the
    * MAX count per date — deterministic under any batch split, documented
    * deviation; the arrival-order semantic is proven relationally by q08. */
  val s07SalesUpsert: GraftQuery = GraftQuery(
    "s07_sales_upsert",
    "streaming sales upsert: sales wire parse + max-count-per-date register (K2/P7)",
    (s, dir) => {
      val sink = new UpsertSink(StreamHarness.tempDir("s07-sales"),
        Seq("date"), Seq("count"))
      val src = fileSource("s07")
      StreamHarness.drain(s, src,
        feedPublishers(s, dir, src, "sales")) { raw =>
        parseSales(raw)
          .filter(col("_corrupt").isNull).select(col("date"), col("count"))
          .writeStream
          .option("checkpointLocation", StreamHarness.checkpointDir("s07"))
          .foreachBatch { (b: DataFrame, id: Long) => sink.upsert(b, id) }
          .start()
      }
      sink.snapshot(s).get.orderBy(col("date"))
    },
    Some("""SELECT strftime(ts, '%Y-%m-%d') AS date,
      MAX(CAST(FLOOR(value + CAST(0.5 AS DOUBLE)) AS INT)) AS count
      FROM events GROUP BY 1 ORDER BY date"""))

  /** s08 — streaming deduplication (`dropDuplicates` stateful operator, the
    * streaming sibling of d01): every 50th event is fed twice; the dedup
    * state must emit each logical record exactly once. */
  val s08StreamDedup: GraftQuery = GraftQuery(
    "s08_stream_dedup",
    "stateful streaming dropDuplicates over an at-least-once feed",
    (s, dir) => {
      val qn = "s08_sink_" + UUID.randomUUID().toString.replace("-", "")
      val src = fileSource("s08")
      StreamHarness.drain(s, src,
        feedPublishers(s, dir, src, "fitbit-dup")) { raw =>
        parseFitbit(raw)
          .select(col("user_id"), col("machine_ts"), col("long"))
          .dropDuplicates("user_id", "machine_ts", "long")
          .writeStream.format("memory").queryName(qn)
          .option("checkpointLocation", StreamHarness.checkpointDir("s08"))
          .outputMode("append").start()
      }
      s.table(qn).orderBy(col("user_id"), col("machine_ts"), col("long"))
    },
    Some(s"""SELECT CAST(user_id AS VARCHAR) AS user_id,
      CAST(epoch_ms(ts) AS VARCHAR) AS machine_ts, $LongSql AS long
      FROM events
      ORDER BY CAST(user_id AS VARCHAR), CAST(epoch_ms(ts) AS VARCHAR), $LongSql"""))

  /** s09 — arbitrary custom state via `mapGroupsWithState` (SURVEY.md §2.7's
    * "custom state" path): a per-user alert counter carried in `GroupState`
    * across micro-batches, emitted in update mode. The counter is monotone,
    * so `max` per user recovers the batch-independent total — which the
    * oracle computes relationally. */
  val s09StatefulCounter: GraftQuery = GraftQuery(
    "s09_stateful_counter",
    "mapGroupsWithState per-user alert counter across micro-batches (custom state)",
    (s, dir) => {
      import s.implicits._
      val qn = "s09_sink_" + UUID.randomUUID().toString.replace("-", "")
      val src = fileSource("s09")
      StreamHarness.drain(s, src, feedPublishers(s, dir, src)) { raw =>
        warningAlerts(parseFitbit(raw))
          .select(col("user_id")).as[String]
          .groupByKey(identity)
          .mapGroupsWithState[Long, (String, Long)](
            org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
            (user, rows, state) =>
              val n = state.getOption.getOrElse(0L) + rows.size
              state.update(n)
              (user, n)
          }
          .toDF("user_id", "n_alerts")
          .writeStream.format("memory").queryName(qn)
          .option("checkpointLocation", StreamHarness.checkpointDir("s09"))
          .outputMode("update").start()
      }
      s.table(qn).groupBy(col("user_id"))
        .agg(max(col("n_alerts")).as("n_alerts"))
        .orderBy(col("user_id"))
    },
    Some(s"""SELECT CAST(user_id AS VARCHAR) AS user_id, COUNT(*) AS n_alerts
      FROM events WHERE $WarningSql <> 'no-use'
      GROUP BY user_id ORDER BY CAST(user_id AS VARCHAR)"""))

  /** s10 — stream-stream inner join: the alert stream joined to the
    * location stream of the same user within the preceding hour. Both sides
    * carry event-time watermarks, and the time-range join condition lets
    * Spark BOUND the join state: a location is evicted once the watermark
    * passes its 1h match horizon, so state holds O(lookback window) rows
    * instead of the whole stream — the only shape that survives an
    * unbounded stream. (Inner-join rows emit on match; the watermark's 2h
    * delay leaves margin over the 1h lookback so no match is evicted
    * early.) The drained result is the full relational join. */
  val s10StreamJoin: GraftQuery = GraftQuery(
    "s10_stream_join",
    "watermark-bounded stream-stream inner join: alerts x locations within 1h lookback",
    (s, dir) => {
      val qn = "s10_sink_" + UUID.randomUUID().toString.replace("-", "")
      val srcA = fileSource("s10a")
      val srcB = fileSource("s10b")
      StreamHarness.drain(s, Seq(
        srcA -> feedPublishers(s, dir, srcA),
        srcB -> feedPublishers(s, dir, srcB))) { case Seq(rawA, rawB) =>
        val alerts = warningAlerts(parseFitbit(rawA))
          .select(col("user_id"), col("machine_ts").cast("long").as("a_ms"),
            timestamp_millis(col("machine_ts").cast("long")).as("a_ts"),
            col("warning"))
          .withWatermark("a_ts", "2 hours")
        val locs = locations(parseFitbit(rawB))
          .select(col("user_id").as("l_user"), col("lat"), col("long"),
            col("ver").as("l_ms"), timestamp_millis(col("ver")).as("l_ts"))
          .withWatermark("l_ts", "2 hours")
        alerts.join(locs,
          col("user_id") === col("l_user") &&
            col("l_ts") <= col("a_ts") &&
            col("l_ts") > col("a_ts") - expr("interval 1 hour"))
          .select(col("user_id"), col("a_ms"), col("warning"),
            col("l_ms"), col("lat"), col("long"))
          .writeStream.format("memory").queryName(qn)
          .option("checkpointLocation", StreamHarness.checkpointDir("s10"))
          .outputMode("append").start()
      }
      s.table(qn).orderBy(col("user_id"), col("a_ms"), col("l_ms"),
        col("long"), col("lat"), col("warning"))
    },
    Some(s"""WITH al AS (
        SELECT user_id, ts, $WarningSql AS warning FROM events
        WHERE $WarningSql <> 'no-use')
      SELECT CAST(al.user_id AS VARCHAR) AS user_id,
        epoch_ms(al.ts) AS a_ms, al.warning,
        epoch_ms(l.ts) AS l_ms,
        CAST(l.user_id % 90 AS VARCHAR) AS lat,
        CAST(l.event_id % 180 AS VARCHAR) AS long
      FROM al JOIN events l
        ON al.user_id = l.user_id
        AND epoch_ms(l.ts) <= epoch_ms(al.ts)
        AND epoch_ms(l.ts) > epoch_ms(al.ts) - 3600000
      ORDER BY CAST(al.user_id AS VARCHAR), epoch_ms(al.ts), epoch_ms(l.ts),
        CAST(l.event_id % 180 AS VARCHAR), CAST(l.user_id % 90 AS VARCHAR),
        al.warning"""))

  /** s11 — K5's full producer LIFECYCLE (reference `setupKafkaProducer` +
    * per-partition open/send/close, `IOTSparkStreaming.scala:102-114,
    * 169-177`): the alert stream, rendered with k05's exact tuple payload,
    * drained through `foreach(new FileTopicWriter)` — one producer open per
    * (partition, epoch), `process` = send, atomic-rename commit on close —
    * then the topic directory is read back as the consumer would see it.
    * Replayed epochs are skipped by the writer (exactly-once on top of
    * Spark's at-least-once redelivery); k05 proves the payload bytes, s11
    * proves the transport. */
  val s11TopicSink: GraftQuery = GraftQuery(
    "s11_topic_sink",
    "K5 producer lifecycle: per-partition open/send/close ForeachWriter into a file topic, read back as consumed (K5)",
    (s, dir) => {
      val topic = StreamHarness.tempDir("s11-topic")
      val src = fileSource("s11")
      StreamHarness.drain(s, src, feedPublishers(s, dir, src, "fitbit1")) { raw =>
        warningAlerts(parseFitbit(raw))
          .select(renderTuple(col("user_id"), col("warning"),
            col("ts_str")).as("payload"))
          .writeStream
          .option("checkpointLocation", StreamHarness.checkpointDir("s11"))
          .foreach(new FileTopicWriter(topic))
          .outputMode("append").start()
      }
      s.read.text(topic).select(col("value").as("rendered"))
        .orderBy(col("rendered"))
    },
    Some(s"""SELECT '(' || CAST(user_id AS VARCHAR) || ',' || $WarningSql || ',' ||
        $TsStrSql || ')' AS rendered
      FROM events WHERE $WarningSql <> 'no-use'
      ORDER BY rendered"""))

  /** s12 — P3 mapData projection as its own oracle-checked row (reference
    * `IOTSparkStreaming.scala:92-100`; the branch the reference defines but
    * comments out at `:81`, flag-gated in [[graft.streaming.Orchestrator]]):
    * fitbit wire parse → `(user_id, lat, long, round(pulse), temp)`. Batch
    * dataflow over the rendered feed, exactly like c01's parse-layer row. */
  val s12MapData: GraftQuery = GraftQuery(
    "s12_mapdata",
    "mapData projection: fitbit parse -> (user, lat, long, half-up pulse, temp) (P3)",
    (s, dir) => {
      val raw = Tables.load(s, dir, "events").select(Wire.fitbitLine.as("value"))
      // Total order needs lat too: lat derives from event_id while the other
      // four keys derive from (user_id, temp), so two events of one user with
      // the same value tie on everything but lat (ADVICE r6).
      // sortedOnce: render + parse is the whole cost, shuffle-free (c01's
      // rationale).
      GraftQuery.sortedOnce(mapData(parseFitbit(raw)),
        col("user_id"), col("lat"), col("long"), col("pulse"), col("temp"))
    },
    Some(s"""SELECT CAST(user_id AS VARCHAR) AS user_id, $LatSql AS lat,
      $LongSql AS long, $PulseSql AS pulse, value AS temp
      FROM events
      ORDER BY CAST(user_id AS VARCHAR), $LatSql, $LongSql, $PulseSql, value"""))

  /** s13 — K2's EXACT last-write-wins register ([[Wire.SalesSchemaV2]]): the
    * wire carries the transport offset (`seq` — here event_id, monotone in
    * arrival order exactly like a Kafka record offset), and the upsert
    * register resolves each date to the max-seq row. This reproduces the
    * reference's broker-arrival-order PK overwrite
    * (`IOTSparkStreaming.scala:76`) deterministically and independently of
    * micro-batch boundaries — the semantic the 3-field wire (s07) cannot
    * express and approximates with MAX(count). */
  val s13SalesLwwExact: GraftQuery = GraftQuery(
    "s13_sales_lww_exact",
    "exact sales last-write-wins: seq-versioned wire (SalesSchemaV2) + upsert register ordered by offset (K2 exact)",
    (s, dir) => {
      val sink = new UpsertSink(StreamHarness.tempDir("s13-sales"),
        Seq("date"), Seq("seq"))
      val src = fileSource("s13")
      StreamHarness.drain(s, src,
        feedPublishers(s, dir, src, "salesv2")) { raw =>
        parseSalesV2(raw)
          .filter(col("_corrupt").isNull)
          .select(col("date"), col("count"), col("seq"))
          .writeStream
          .option("checkpointLocation", StreamHarness.checkpointDir("s13"))
          .foreachBatch { (b: DataFrame, id: Long) => sink.upsert(b, id) }
          .start()
      }
      sink.snapshot(s).get.orderBy(col("date"))
    },
    Some("""SELECT strftime(ts, '%Y-%m-%d') AS date,
      CAST(FLOOR(value + CAST(0.5 AS DOUBLE)) AS INT) AS count,
      event_id AS seq
      FROM events
      QUALIFY row_number() OVER (PARTITION BY strftime(ts, '%Y-%m-%d')
        ORDER BY event_id DESC) = 1
      ORDER BY date"""))

  /** s14 — s08's dedup with BOUNDED state: `dropDuplicatesWithinWatermark`
    * keeps a dedup key only until the event-time watermark passes it, so
    * state is sized by the lateness bound (2 h of keys) instead of the whole
    * stream's key history — the only dedup that survives an unbounded
    * stream. s08 proves the semantics with the unbounded operator; this
    * proves the same result holds under eviction: duplicates arrive within
    * the delay (here, in the same wire chunk), so none outlives its state
    * entry. Same feed, same oracle as s08. */
  val s14DedupWatermark: GraftQuery = GraftQuery(
    "s14_dedup_watermark",
    "bounded-state streaming dedup: dropDuplicatesWithinWatermark (state evicted past the 2h watermark)",
    (s, dir) => {
      val qn = "s14_sink_" + UUID.randomUUID().toString.replace("-", "")
      val src = fileSource("s14")
      StreamHarness.drain(s, src,
        feedPublishers(s, dir, src, "fitbit-dup")) { raw =>
        parseFitbit(raw)
          .select(col("user_id"), col("machine_ts"), col("long"),
            try_to_timestamp(col("ts_str"),
              lit("yyyy-MM-dd HH:mm:ss")).as("event_ts"))
          .filter(col("event_ts").isNotNull)
          .withWatermark("event_ts", "2 hours")
          .dropDuplicatesWithinWatermark("user_id", "machine_ts", "long")
          .select(col("user_id"), col("machine_ts"), col("long"))
          .writeStream.format("memory").queryName(qn)
          .option("checkpointLocation", StreamHarness.checkpointDir("s14"))
          .outputMode("append").start()
      }
      s.table(qn).orderBy(col("user_id"), col("machine_ts"), col("long"))
    },
    s08StreamDedup.oracle)

  /** s15 — s09's per-user alert counter on Spark 4's `transformWithState`
    * (VERDICT r7 #8): named RocksDB-backed `ValueState` instead of
    * `mapGroupsWithState`'s opaque state blob — see
    * [[graft.streaming.AlertCountProcessor]] for the operator-level
    * rationale. The RocksDB provider is required by the operator; it is set
    * for this query's session and restored after, so the rest of the
    * registry keeps the default HDFS-backed store. Same feed, same oracle,
    * same max-reconciliation as s09. */
  val s15TwsCounter: GraftQuery = GraftQuery(
    "s15_tws_counter",
    "transformWithState per-user alert counter (RocksDB ValueState, update mode)",
    (s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      val qn = "s15_sink_" + UUID.randomUUID().toString.replace("-", "")
      val providerKey = "spark.sql.streaming.stateStore.providerClass"
      val saved = s.conf.getOption(providerKey)
      s.conf.set(providerKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val src = fileSource("s15")
        StreamHarness.drain(s, src, feedPublishers(s, dir, src)) { raw =>
          warningAlerts(parseFitbit(raw))
            .select(col("user_id")).as[String]
            .groupByKey(identity)
            .transformWithState(new graft.streaming.AlertCountProcessor,
              TimeMode.None(), OutputMode.Update())
            .toDF("user_id", "n_alerts")
            .writeStream.format("memory").queryName(qn)
            .option("checkpointLocation", StreamHarness.checkpointDir("s15"))
            .outputMode("update").start()
        }
      } finally saved match {
        case Some(v) => s.conf.set(providerKey, v)
        case None => s.conf.unset(providerKey)
      }
      s.table(qn).groupBy(col("user_id"))
        .agg(max(col("n_alerts")).as("n_alerts"))
        .orderBy(col("user_id"))
    },
    s09StatefulCounter.oracle)

  /** s16 — per-user SESSION windows on the live stream (q23's
    * gaps-and-islands semantics, but maintained incrementally by the
    * session-window state store with watermark-driven finalization —
    * sessions merge as late-but-within-watermark events arrive, and a
    * session only emits once the watermark proves no more events can extend
    * it). Same sentinel technique as s05: two far-future lines push the
    * watermark past every real session's end; the sentinel's own
    * (never-finalized) session is excluded by the 2050 cutoff. Scale:
    * session state is per-user and bounded by the watermark horizon — state
    * for a user is dropped as soon as its session closes, so an unbounded
    * stream holds only the open-session frontier. */
  val s16SessionStream: GraftQuery = GraftQuery(
    "s16_session_stream",
    "streaming per-user session windows (1h gap), append mode with watermark finalization",
    (s, dir) => {
      import s.implicits._
      val qn = "s16_sink_" + UUID.randomUUID().toString.replace("-", "")
      val sentinel = (1 to 2).map(i =>
        s"fitbit,2100-01-01 0$i:00:00,0,0,0,1.0,1.0,20,click,4102444800000")
        .toDF("value")
      val src = fileSource("s16")
      StreamHarness.drain(s, src,
        feedPublishers(s, dir, src) :+ (() => src.append(sentinel))) { raw =>
        parseFitbit(raw)
          .select(col("user_id"),
            try_to_timestamp(col("ts_str"),
              lit("yyyy-MM-dd HH:mm:ss")).as("event_ts"))
          .filter(col("event_ts").isNotNull)
          .withWatermark("event_ts", "2 hours")
          .groupBy(col("user_id"), session_window(col("event_ts"), "1 hour"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("user_id"),
            unix_micros(col("session_window.start")).as("session_start_us"),
            unix_micros(col("session_window.end")).as("session_end_us"),
            col("n_events"))
          .writeStream.format("memory").queryName(qn)
          .option("checkpointLocation", StreamHarness.checkpointDir("s16"))
          .outputMode("append").start()
      }
      // 2050-01-01 00:00:00 UTC in epoch micros — excludes the sentinel.
      s.table(qn).filter(col("session_start_us") < 2524608000000000L)
        .orderBy(col("user_id"), col("session_start_us"))
    },
    Some("""WITH ev AS (
        SELECT CAST(user_id AS VARCHAR) AS user_id,
          date_trunc('second', ts) AS ts
        FROM events),
      marked AS (
        SELECT user_id, ts,
          CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
            > INTERVAL 1 HOUR OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
            IS NULL THEN 1 ELSE 0 END AS new_session
        FROM ev),
      islands AS (
        SELECT user_id, ts,
          SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM marked)
      SELECT user_id,
        epoch_us(MIN(ts)) AS session_start_us,
        epoch_us(MAX(ts) + INTERVAL 1 HOUR) AS session_end_us,
        COUNT(*) AS n_events
      FROM islands GROUP BY user_id, sid
      ORDER BY user_id, session_start_us"""))

  /** s17 — CHAINED stateful aggregation in one streaming query (Spark 4
    * multi-stateful-operator support): hourly tumbling counts feed a
    * second, daily aggregation over the finalized hourly windows —
    * `window(window_col, '1 day')` re-windows the first operator's window
    * struct, and the engine propagates the watermark through the first agg
    * so the second finalizes correctly. Pre-Spark-3.4 this required two
    * queries with an intermediate sink; the single-query form removes the
    * intermediate storage AND its end-to-end latency. State: both operators
    * are watermark-bounded (open hours + open days only). */
  val s17ChainedAgg: GraftQuery = GraftQuery(
    "s17_chained_agg",
    "chained streaming aggs: hourly counts re-windowed to daily hour-count/max (multi-stateful)",
    (s, dir) => {
      import s.implicits._
      val qn = "s17_sink_" + UUID.randomUUID().toString.replace("-", "")
      val sentinel = (1 to 2).map(i =>
        s"fitbit,2100-01-01 0$i:00:00,0,0,0,1.0,1.0,20,click,4102444800000")
        .toDF("value")
      val src = fileSource("s17")
      StreamHarness.drain(s, src,
        feedPublishers(s, dir, src) :+ (() => src.append(sentinel))) { raw =>
        parseFitbit(raw)
          .select(try_to_timestamp(col("ts_str"),
            lit("yyyy-MM-dd HH:mm:ss")).as("event_ts"))
          .filter(col("event_ts").isNotNull)
          .withWatermark("event_ts", "2 hours")
          .groupBy(window(col("event_ts"), "1 hour"))
          .agg(count(lit(1)).as("n"))
          .groupBy(window(col("window"), "1 day"))
          .agg(count(lit(1)).as("n_hours"), max(col("n")).as("max_hourly"))
          .select(col("window.start").as("day"), col("n_hours"),
            col("max_hourly"))
          .writeStream.format("memory").queryName(qn)
          .option("checkpointLocation", StreamHarness.checkpointDir("s17"))
          .outputMode("append").start()
      }
      s.table(qn).filter(col("day") < lit("2050-01-01").cast("timestamp"))
        .orderBy(col("day"))
    },
    Some("""WITH h AS (
        SELECT date_trunc('hour', ts) AS hw, COUNT(*) AS n
        FROM events GROUP BY 1)
      SELECT date_trunc('day', hw) AS day, COUNT(*) AS n_hours,
        MAX(n) AS max_hourly
      FROM h GROUP BY 1 ORDER BY 1"""))

  /** s18 — stream-stream LEFT OUTER join (s10's inner join plus the
    * null-extended rows): an alert with no location in its 1h lookback must
    * still emit, which in a streaming engine means the row can only be
    * released once the WATERMARK proves no matching location can ever
    * arrive — the outer side is held in (bounded) state until its match
    * horizon expires. A far-future sentinel on BOTH feeds pushes the global
    * watermark past every real alert so all null-extensions flush before
    * the drain stops; the sentinel's own rows are excluded by the 2050
    * cutoff. Null sort order is pinned explicitly (Spark ASC = NULLS FIRST;
    * DuckDB defaults NULLS LAST, so the oracle says NULLS FIRST). */
  val s18OuterStreamJoin: GraftQuery = GraftQuery(
    "s18_outer_stream_join",
    "watermark-bounded stream-stream LEFT OUTER join: alerts with/without 1h-lookback location",
    (s, dir) => {
      import s.implicits._
      val qn = "s18_sink_" + UUID.randomUUID().toString.replace("-", "")
      // Parses as a WARNING alert (pulse 250 >= 0.95 * maxPulse(20)) so it
      // survives warningAlerts and advances the alert-side watermark too.
      val sentinel = Seq(
        "fitbit,2100-01-01 01:00:00,zz,0,0,250.0,250.0,20,click,4102444800000")
        .toDF("value")
      val srcA = fileSource("s18a")
      val srcB = fileSource("s18b")
      StreamHarness.drain(s, Seq(
        srcA -> (feedPublishers(s, dir, srcA) :+ (() => srcA.append(sentinel))),
        srcB -> (feedPublishers(s, dir, srcB) :+ (() => srcB.append(sentinel))))) {
        case Seq(rawA, rawB) =>
        val alerts = warningAlerts(parseFitbit(rawA))
          .select(col("user_id"), col("machine_ts").cast("long").as("a_ms"),
            timestamp_millis(col("machine_ts").cast("long")).as("a_ts"),
            col("warning"))
          .withWatermark("a_ts", "2 hours")
        // Sparse location pings (every 3rd event; long = event_id % 180 and
        // 3 | 180, so long % 3 == event_id % 3): without this, every alert
        // matches its own event's location and the outer join degenerates
        // to the inner one — the null-extension path would go untested.
        val locs = locations(parseFitbit(rawB))
          .filter(col("long").cast("long") % 3 === 0)
          .select(col("user_id").as("l_user"), col("lat"), col("long"),
            col("ver").as("l_ms"), timestamp_millis(col("ver")).as("l_ts"))
          .withWatermark("l_ts", "2 hours")
        alerts.join(locs,
          col("user_id") === col("l_user") &&
            col("l_ts") <= col("a_ts") &&
            col("l_ts") > col("a_ts") - expr("interval 1 hour"),
          "leftOuter")
          .select(col("user_id"), col("a_ms"), col("warning"),
            col("l_ms"), col("lat"), col("long"))
          .writeStream.format("memory").queryName(qn)
          .option("checkpointLocation", StreamHarness.checkpointDir("s18"))
          .outputMode("append").start()
      }
      // 2050-01-01 UTC in epoch millis — excludes the sentinel's own rows.
      s.table(qn).filter(col("a_ms") < 2524608000000L)
        .orderBy(col("user_id"), col("a_ms"), col("l_ms"), col("long"),
          col("lat"), col("warning"))
    },
    Some(s"""WITH al AS (
        SELECT user_id, ts, $WarningSql AS warning FROM events
        WHERE $WarningSql <> 'no-use')
      SELECT CAST(al.user_id AS VARCHAR) AS user_id,
        epoch_ms(al.ts) AS a_ms, al.warning,
        epoch_ms(l.ts) AS l_ms,
        CASE WHEN l.user_id IS NULL THEN NULL
             ELSE CAST(l.user_id % 90 AS VARCHAR) END AS lat,
        CASE WHEN l.event_id IS NULL THEN NULL
             ELSE CAST(l.event_id % 180 AS VARCHAR) END AS long
      FROM al LEFT JOIN events l
        ON al.user_id = l.user_id
        AND l.event_id % 3 = 0
        AND epoch_ms(l.ts) <= epoch_ms(al.ts)
        AND epoch_ms(l.ts) > epoch_ms(al.ts) - 3600000
      ORDER BY CAST(al.user_id AS VARCHAR), epoch_ms(al.ts),
        epoch_ms(l.ts) NULLS FIRST,
        CASE WHEN l.event_id IS NULL THEN NULL
             ELSE CAST(l.event_id % 180 AS VARCHAR) END NULLS FIRST,
        CASE WHEN l.user_id IS NULL THEN NULL
             ELSE CAST(l.user_id % 90 AS VARCHAR) END NULLS FIRST,
        al.warning"""))

  /** s19 — backlog catch-up with `Trigger.AvailableNow` (the Spark-4
    * replacement for the deprecated `Trigger.Once`): the WHOLE feed is
    * published before the query starts, and the trigger drains it in
    * rate-limited batches (`maxFilesPerTrigger`, the file-source analog of
    * a Kafka `maxOffsetsPerTrigger`) and then stops itself — the
    * "reprocess everything, bounded memory per batch" mode every
    * production pipeline needs after downtime. Same pipeline and oracle as
    * s01; what is under test is the trigger's batch-bounding + self-
    * termination contract. */
  val s19AvailableNow: GraftQuery = GraftQuery(
    "s19_available_now",
    "Trigger.AvailableNow backlog drain: rate-limited catch-up batches, self-terminating",
    (s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val qn = "s19_sink_" + UUID.randomUUID().toString.replace("-", "")
      val src = new FileStreamSource(StreamHarness.tempDir("s19-feed"),
        maxFilesPerTrigger = Some(4))
      stagedFeed(s, dir, "fitbit").foreach(src.appendStaged) // entire backlog, up front
      val key = "spark.sql.shuffle.partitions"
      val prev = s.conf.getOption(key)
      s.conf.set(key, StreamHarness.StreamShufflePartitions.toString)
      try {
        val q = warningAlerts(parseFitbit(src.open(s)))
          .select(col("user_id"), col("age"), col("pulse"), col("warning"),
            col("machine_ts"))
          .writeStream.format("memory").queryName(qn)
          .option("checkpointLocation", StreamHarness.checkpointDir("s19"))
          .trigger(Trigger.AvailableNow())
          .outputMode("append").start()
        q.awaitTermination()
      } finally prev.fold(s.conf.unset(key))(s.conf.set(key, _))
      s.table(qn).orderBy(col("user_id"), col("machine_ts"), col("pulse"),
        col("warning"), col("age"))
    },
    s01WarningStream.oracle)

  /** s20 — dual-sink `foreachBatch` fan-out: ONE streaming query feeds TWO
    * sinks (parquet history + JSONL topic payload) from the same cached
    * micro-batch — the reference writes Cassandra AND a Kafka topic from
    * one pipeline (`IOTSparkStreaming.scala:138-141`, SURVEY.md §2.5), and
    * foreachBatch is Structured Streaming's contract for that fan-out.
    * Idempotency: each sink writes `epoch=<id>/` with overwrite, so a
    * replayed batch (checkpoint recovery) rewrites its own epoch directory
    * instead of duplicating rows — exactly-once per (sink, epoch) without
    * a commit log. The batch is persisted once so the two writes share one
    * evaluation. The query returns the parquet sink's content and ASSERTS
    * the two sinks carry identical row counts (divergence fails the run
    * loudly rather than producing a silently inconsistent pair). */
  val s20DualSink: GraftQuery = GraftQuery(
    "s20_dual_sink",
    "foreachBatch dual-sink fan-out: parquet + JSONL from one cached batch, epoch-idempotent",
    (s, dir) => {
      val outA = StreamHarness.tempDir("s20-hist")
      val outB = StreamHarness.tempDir("s20-topic")
      val src = fileSource("s20")
      StreamHarness.drain(s, src, feedPublishers(s, dir, src)) { raw =>
        warningAlerts(parseFitbit(raw))
          .select(col("user_id"), col("age"), col("pulse"), col("warning"),
            col("machine_ts"))
          .writeStream
          .option("checkpointLocation", StreamHarness.checkpointDir("s20"))
          .foreachBatch { (batch: DataFrame, epoch: Long) =>
            val cached = batch.persist()
            try {
              cached.write.mode("overwrite").parquet(s"$outA/epoch=$epoch")
              cached.write.mode("overwrite").json(s"$outB/epoch=$epoch")
            } finally { cached.unpersist(); () }
          }
          .outputMode("append").start()
      }
      val hist = s.read.parquet(outA)
      val topic = s.read.json(outB)
      require(hist.count() == topic.count(),
        s"s20 sink divergence: parquet=${hist.count()} jsonl=${topic.count()}")
      hist.select(col("user_id"), col("age"), col("pulse"), col("warning"),
        col("machine_ts"))
        .orderBy(col("user_id"), col("machine_ts"), col("pulse"),
          col("warning"), col("age"))
    },
    s01WarningStream.oracle)

  /** s21 — SCD type-2 dimension history over the CDC wire: where s02/s06
    * overwrite a key's row ([[UpsertSink]], the reference's Cassandra
    * semantics), [[graft.streaming.Scd2Sink]] opens a new version row per
    * tracked-value CHANGE and closes the previous one, so the register holds
    * each key's full validity history — the warehouse dimension-history
    * discipline (Kimball SCD2) driven by a stream. The tracked value is the
    * event value bucketed to hundreds (floor(value/100)), so runs of equal
    * values exercise change compression; seq = event_id = the log offset.
    * Scale: per batch, ONE window over (open rows ∪ batch); closed history
    * is immutable and never recomputed, though each batch's write copies
    * it. The oracle recomputes the same change-compressed history
    * relationally. */
  val s21Scd2History: GraftQuery = GraftQuery(
    "s21_scd2_history",
    "SCD2 dimension history sink: change-compressed version rows with validity ranges (K1 history variant)",
    (s, dir) => {
      val sink = new graft.streaming.Scd2Sink(StreamHarness.tempDir("s21-scd2"),
        Seq("user_id"), "seq", Seq("v"))
      val src = fileSource("s21")
      StreamHarness.drain(s, src,
        feedPublishers(s, dir, src, "scd")) { raw =>
        parseScd(raw)
          .filter(col("_corrupt").isNull)
          .select(col("user_id"), col("seq"), col("v"))
          .writeStream
          .option("checkpointLocation", StreamHarness.checkpointDir("s21"))
          .foreachBatch { (b: DataFrame, id: Long) => sink.upsert(b, id) }
          .start()
      }
      sink.snapshot(s).get
        .select(col("user_id"), col("v"), col("valid_from"), col("valid_to"),
          col("is_current"))
        .orderBy(col("user_id"), col("valid_from"))
    },
    Some("""WITH upd AS (
        SELECT CAST(user_id AS VARCHAR) AS user_id, event_id AS seq,
               CAST(FLOOR(value / CAST(100 AS DOUBLE)) AS INT) AS v
        FROM events),
      pts AS (SELECT user_id, seq, v,
               LAG(v) OVER (PARTITION BY user_id ORDER BY seq) AS pv FROM upd),
      starts AS (SELECT user_id, seq, v FROM pts WHERE pv IS NULL OR pv <> v)
      SELECT user_id, v, seq AS valid_from,
             LEAD(seq) OVER (PARTITION BY user_id ORDER BY seq) AS valid_to,
             (LEAD(seq) OVER (PARTITION BY user_id ORDER BY seq) IS NULL) AS is_current
      FROM starts ORDER BY user_id, valid_from"""))

  /** s22 — POINT-IN-TIME temporal join against the streamed SCD2 register:
    * the feature-store lookup that makes training data repeatable. The
    * multiplexed feed carries two topics (the reference's P1 demux): non-
    * click events stream as `scd` dimension updates into
    * [[graft.streaming.Scd2Sink]] (s21's register, here keyed off a
    * filtered feed), and click events are then enriched with the version
    * VALID AT their sequence number — `valid_from ≤ seq < valid_to` — not
    * the current one, so re-running the enrichment months later yields the
    * SAME features (the as-of-history discipline; a latest-value join like
    * s03 silently leaks future dimension state into past examples). Scale:
    * the lookup is an equi-join on the key with a per-version range
    * predicate; versions per key are few, so the range filter rides the
    * equi-join's partitions — no extra shuffle. Clicks before a key's
    * first version keep nulls (left outer). */
  val s22TemporalJoin: GraftQuery = GraftQuery(
    "s22_temporal_join",
    "point-in-time enrichment against the streamed SCD2 history (repeatable features)",
    (s, dir) => {
      val sink = new graft.streaming.Scd2Sink(StreamHarness.tempDir("s22-scd2"),
        Seq("user_id"), "seq", Seq("v"))
      val src = fileSource("s22")
      StreamHarness.drain(s, src,
        feedPublishers(s, dir, src, "scd-click")) { raw =>
        parseScd(raw) // tag demux: clickq lines never reach the register
          .filter(col("_corrupt").isNull)
          .select(col("user_id"), col("seq"), col("v"))
          .writeStream
          .option("checkpointLocation", StreamHarness.checkpointDir("s22"))
          .foreachBatch { (b: DataFrame, id: Long) => sink.upsert(b, id) }
          .start()
      }
      val history = sink.snapshot(s).get
      val clicks = Tables.load(s, dir, "events")
        .filter(col("event_type") === "click")
        .select(col("user_id").cast("string").as("user_id"),
          col("event_id").as("seq"))
      clicks.join(history,
          clicks("user_id") === history("user_id") &&
            col("valid_from") <= col("seq") &&
            (col("valid_to").isNull || col("seq") < col("valid_to")),
          "left_outer")
        .select(clicks("user_id"), col("seq"), col("v"), col("valid_from"))
        .orderBy(clicks("user_id"), col("seq"))
    },
    Some("""WITH upd AS (
        SELECT CAST(user_id AS VARCHAR) AS user_id, event_id AS seq,
               CAST(FLOOR(value / CAST(100 AS DOUBLE)) AS INT) AS v
        FROM events WHERE event_type <> 'click'),
      pts AS (SELECT user_id, seq, v,
               LAG(v) OVER (PARTITION BY user_id ORDER BY seq) AS pv FROM upd),
      starts AS (SELECT user_id, seq, v FROM pts WHERE pv IS NULL OR pv <> v),
      hist AS (
        SELECT user_id, v, seq AS valid_from,
               LEAD(seq) OVER (PARTITION BY user_id ORDER BY seq) AS valid_to
        FROM starts),
      clicks AS (
        SELECT CAST(user_id AS VARCHAR) AS user_id, event_id AS seq
        FROM events WHERE event_type = 'click')
      SELECT c.user_id, c.seq, h.v, h.valid_from
      FROM clicks c LEFT JOIN hist h
        ON c.user_id = h.user_id AND h.valid_from <= c.seq
          AND (h.valid_to IS NULL OR c.seq < h.valid_to)
      ORDER BY c.user_id, c.seq"""))

  /** Wire layout for s23: key, transport seq, event-time micros, and the
    * type tag the click filter demuxes on. */
  private val AsofWireSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("rtype",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("user_id",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("event_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("t_us",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("etype",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("_corrupt",
      org.apache.spark.sql.types.StringType)))

  /** s23 — the NATIVE as-of exec ([[graft.plans.AsOfJoinExec]], q38's
    * custom plan) running INSIDE Structured Streaming: each micro-batch of
    * click events is enriched with the latest prior purchase through
    * `GraftPlans.asOf` in `foreachBatch`. This pins the custom-plan ×
    * streaming intersection: runtime rule/strategy registration
    * (`GraftPlans.ensure`) must hold on the micro-batch's session clone,
    * and per-click lookups depend only on the static dimension, so batch
    * boundaries cannot change the result — the drained stream equals q38's
    * batch answer and shares its oracle (DuckDB's native ASOF LEFT JOIN).
    * Scale: per batch, the batch side is small (shuffles cheaply) and the
    * dimension side's shuffle+sort is re-derived per batch from the
    * snapshot — on a real cluster the dimension would be a pre-bucketed
    * table so the exec's required distribution is satisfied scan-side. */
  val s23AsofStream: GraftQuery = GraftQuery(
    "s23_asof_stream",
    "native as-of join exec inside foreachBatch (custom plan x streaming)",
    (s, dir) => {
      val out = StreamHarness.tempDir("s23-out")
      val src = fileSource("s23")
      StreamHarness.drain(s, src,
        feedPublishers(s, dir, src, "aof")) { raw =>
        raw.filter(Wire.tagOf(col("value")) === "aof")
          .select(Wire.parseCsv(col("value"), AsofWireSchema).as("r"))
          .select(col("r.*"))
          .filter(col("_corrupt").isNull && col("etype") === "click")
          // The wire keeps ids as strings (reference §1.2); the as-of key
          // must come back to the oracle's BIGINT before the join.
          .select(col("user_id").cast("bigint").as("user_id"), col("t_us"),
            col("event_id"))
          .writeStream
          .option("checkpointLocation", StreamHarness.checkpointDir("s23"))
          .foreachBatch { (b: DataFrame, _: Long) =>
            val purchases = Tables.load(b.sparkSession, dir, "events")
              .filter(col("event_type") === "purchase")
              .select(col("user_id").as("p_user_id"),
                unix_micros(col("ts")).as("p_t_us"),
                col("event_id").as("p_event_id"), col("value").as("p_value"))
            graft.plans.GraftPlans.asOf(b, purchases,
                "user_id", "t_us", "p_user_id", "p_t_us", Some("p_event_id"))
              .select(col("user_id"), col("event_id"), col("t_us"),
                col("p_event_id"), col("p_value"))
              .write.mode("append").parquet(out)
          }
          .start()
      }
      s.read.parquet(out).orderBy(col("user_id"), col("event_id"))
    },
    RelationalQueries.q38AsofNative.oracle)

  private val vintageDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** c03 — SCHEMA-EVOLUTION ingest: read a table whose parquet files span
    * two writer vintages — an old one without `event_type`, a new one with
    * it — through `mergeSchema`, with the missing column surfacing as NULL
    * for old-vintage rows. This is the file-level half of the drift story
    * the catalog's `Tables.normalizeTs` handles at the type level
    * (`SchemaDriftSpec`): real lakehouse partitions accumulate schema
    * vintages, and an engine that requires a uniform schema across files
    * cannot read them. The two vintages are derived deterministically from
    * `events` (event_id parity) and written once per directory; the oracle
    * reproduces the NULL-for-old-rows contract relationally. Scale shape:
    * schema merge reads footers (not data) to union the schemas; the scan
    * itself stays a pruned columnar read, and the aggregation is one
    * partial-aggregating shuffle on the bounded event_type domain. */
  val c03SchemaMerge: GraftQuery = GraftQuery(
    "c03_schema_merge",
    "schema-evolution parquet ingest: two writer vintages via mergeSchema, NULL-filled missing column",
    (s, dir) => {
      val path = vintageDirs.computeIfAbsent(dir, { d =>
        val out = StreamHarness.tempDir("vintage")
        val ev = Tables.load(s, d, "events")
        ev.filter(col("event_id") % 2 === 0)
          .select(col("event_id"), col("user_id"), col("value"))
          .write.mode("overwrite").parquet(s"$out/v1")
        ev.filter(col("event_id") % 2 === 1)
          .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
          .write.mode("overwrite").parquet(s"$out/v2")
        out
      })
      Tables.prepare(s)
      s.read.option("mergeSchema", "true")
        .parquet(s"$path/v1", s"$path/v2")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          graft.functions.Deterministic.dsum(col("value")).as("total_value"))
        .orderBy(col("event_type").asc_nulls_first)
    },
    Some(s"""SELECT CASE WHEN event_id % 2 = 0 THEN NULL ELSE event_type END AS event_type,
        COUNT(*) AS n, ${graft.functions.Deterministic.dsumSql("value")} AS total_value
      FROM events GROUP BY 1 ORDER BY event_type ASC NULLS FIRST"""))

  /** Sketch size for s24 — matches d31's KMV (k = 64, the same estimator
    * family and accuracy class), so the streaming and batch sketches are
    * directly comparable. */
  private val SketchK = 64

  /** s24 — STREAMING cardinality sketch: d31's KMV bottom-k carried as
    * `mapGroupsWithState` state and merged across micro-batches, per user
    * cohort. Bottom-k is a MERGEABLE sketch — merge(s₁, s₂) =
    * bottomK(s₁ ∪ s₂) — which is exactly the property arbitrary streaming
    * state needs: each batch folds its new hashes into ≤ [[SketchK]]
    * retained values, state stays constant-size per key forever, and the
    * final sketch is a deterministic function of the SET of values seen —
    * independent of batch boundaries — so the drained stream result equals
    * the batch sketch the oracle replays over the full feed. The n_seen
    * counter is strictly monotone per cohort (state updates only on
    * batches with rows), so max_by(n_seen) recovers the final state from
    * the update-mode sink. */
  val s24StreamSketch: GraftQuery = GraftQuery(
    "s24_stream_sketch",
    s"streaming KMV cardinality sketch: bottom-$SketchK state merged across micro-batches per cohort",
    (s, dir) => {
      import s.implicits._
      import graft.functions.PortableHash.P
      val qn = "s24_sink_" + UUID.randomUUID().toString.replace("-", "")
      val src = fileSource("s24")
      StreamHarness.drain(s, src, feedPublishers(s, dir, src)) { raw =>
        parseFitbit(raw)
          .select((col("user_id").cast("long") % 5).as("cohort"),
            call_function("graft_string_hash", col("machine_ts")).as("h"))
          .as[(Long, Long)]
          .groupByKey(_._1)
          .mapGroupsWithState[(Seq[Long], Long), (Long, Long, Int, Option[Long], Double)](
            org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
            (cohort, rows, state) =>
              val (prevMins, prevN) = state.getOption.getOrElse((Seq.empty[Long], 0L))
              val hs = rows.map(_._2).toSeq
              // Set-semantics bottom-k merge — the sketch is a function of
              // the distinct-hash SET, whatever the batch split was.
              val merged = (prevMins ++ hs).distinct.sorted.take(SketchK)
              val n = prevN + hs.length
              state.update((merged, n))
              val est =
                if (merged.length < SketchK) merged.length.toDouble
                else (SketchK - 1).toDouble * P.toDouble / merged.last
              (cohort, n, merged.length,
                if (merged.length < SketchK) None else Some(merged.last), est)
          }
          .toDF("cohort", "n_seen", "n_sketch", "kth_min", "est_distinct")
          .writeStream.format("memory").queryName(qn)
          .option("checkpointLocation", StreamHarness.checkpointDir("s24"))
          .outputMode("update").start()
      }
      s.table(qn).groupBy(col("cohort"))
        .agg(max_by(struct(col("n_sketch"), col("kth_min"),
          col("est_distinct")), col("n_seen")).as("f"))
        .select(col("cohort"), col("f.n_sketch").as("n_sketch"),
          col("f.kth_min").as("kth_min"), col("f.est_distinct").as("est_distinct"))
        .orderBy(col("cohort"))
    },
    Some {
      import graft.functions.PortableHash.{stringHashSql, P}
      s"""WITH th AS (
        SELECT user_id % 5 AS cohort,
          ${stringHashSql("CAST(epoch_ms(ts) AS VARCHAR)")} AS h
        FROM events),
      d AS (SELECT DISTINCT cohort, h FROM th),
      r AS (
        SELECT cohort, h,
          row_number() OVER (PARTITION BY cohort ORDER BY h) AS rn,
          COUNT(*) OVER (PARTITION BY cohort) AS nd
        FROM d)
      SELECT cohort,
        CAST(LEAST(nd, $SketchK) AS INT) AS n_sketch,
        MAX(CASE WHEN rn = $SketchK THEN h END) AS kth_min,
        CASE WHEN nd < $SketchK THEN CAST(nd AS DOUBLE)
             ELSE CAST(${SketchK - 1} AS DOUBLE) * $P
                  / MAX(CASE WHEN rn = $SketchK THEN h END) END AS est_distinct
      FROM r GROUP BY cohort, nd ORDER BY cohort"""
    })

  /** Metric names s25 observes, in output order. */
  private val ObserveMetricNames = Seq("n_alerts", "n_corrupt", "n_rows", "sum_age")

  /** s25 — OBSERVABLE METRICS: `Dataset.observe` data-quality counters on
    * the wire-parse stream, surfaced through `StreamingQueryListener`
    * progress events — the in-flight monitoring surface a production
    * pipeline attaches alerts to (row volume, corrupt-line rate, alert
    * rate) without a second pass over the data. The reference has no
    * equivalent; its only visibility is `print()` (SURVEY.md §2.5 K6).
    *
    * Scale/correctness shape: observe's accumulators ride the batch's
    * existing tasks (zero extra jobs, zero extra shuffles — the metrics
    * are free at 100 TB), and every observed metric here is an exact
    * associative integer aggregate (counts + int64 sum), so per-batch
    * values merged across ANY micro-batch split equal the whole-feed
    * aggregate the DuckDB oracle computes. The listener bus delivers
    * events asynchronously — the run latches on its own runId's
    * termination event, which the bus orders AFTER every progress event of
    * that run, so the merge reads a complete set (no sleep-polling). The
    * feed reuses c01's every-97th corruption so n_corrupt exercises the
    * PERMISSIVE parse policy end-to-end. */
  val s25ObserveMetrics: GraftQuery = GraftQuery(
    "s25_observe_metrics",
    "Dataset.observe + StreamingQueryListener: exact batch-merged wire metrics (rows/corrupt/alerts)",
    (s, dir) => {
      import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
      val totals = new java.util.concurrent.ConcurrentHashMap[String, Long]()
      val done = new java.util.concurrent.CountDownLatch(1)
      val qn = "s25_obs_" + UUID.randomUUID().toString.replace("-", "")
      // The runId is learned from the started event, which Spark delivers
      // SYNCHRONOUSLY before start() returns — assigning it after start()
      // instead would race the first (async) progress event.
      @volatile var runId: java.util.UUID = null
      val listener = new StreamingQueryListener {
        override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
          if (e.name == qn) runId = e.runId
        override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
          if (e.progress.runId == runId) {
            val m = e.progress.observedMetrics.get("wire_metrics")
            if (m != null) ObserveMetricNames.foreach { k =>
              val v = m.getAs[Any](k) match {
                case null => 0L
                case l: java.lang.Long => l.longValue()
                case i: java.lang.Integer => i.longValue()
                case other => sys.error(s"unexpected metric type for $k: $other")
              }
              totals.merge(k, v, (a, b) => a + b)
            }
          }
        override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
          if (e.runId == runId) done.countDown()
      }
      // One file per trigger over a ≥2-file backlog: the drain provably
      // spans >1 micro-batch, so the listener's merge is non-vacuous.
      val src = new FileStreamSource(StreamHarness.tempDir("s25-feed"),
        maxFilesPerTrigger = Some(1))
      stagedFeed(s, dir, "fitbit-bad").foreach(src.appendStaged)
      val key = "spark.sql.shuffle.partitions"
      val prev = s.conf.getOption(key)
      s.conf.set(key, StreamHarness.StreamShufflePartitions.toString)
      s.streams.addListener(listener)
      try {
        val parsed = parseFitbit(src.open(s))
          .withColumn("warning", graft.functions.HealthFunctions.warning(
            graft.functions.HealthFunctions.roundHalfUp(col("pulse")),
            col("age"), col("bp_cat"), criticalCats = EventCriticalCats))
        val q = parsed
          .observe("wire_metrics",
            count(when(col("warning") =!= "no-use", lit(1))).as("n_alerts"),
            count(col("_corrupt")).as("n_corrupt"),
            count(lit(1)).as("n_rows"),
            sum(col("age").cast("long")).as("sum_age"))
          .writeStream.format("noop").queryName(qn)
          .option("checkpointLocation", StreamHarness.checkpointDir("s25"))
          .trigger(Trigger.AvailableNow())
          .outputMode("append").start()
        q.awaitTermination()
        require(done.await(30, java.util.concurrent.TimeUnit.SECONDS),
          "s25: listener termination event not delivered within 30 s")
      } finally {
        s.streams.removeListener(listener)
        prev.fold(s.conf.unset(key))(s.conf.set(key, _))
      }
      val rows = ObserveMetricNames.map(k => (k, totals.getOrDefault(k, 0L)))
      s.createDataFrame(rows).toDF("metric", "value").orderBy(col("metric"))
    },
    Some(s"""SELECT 'n_alerts' AS metric, COUNT(CASE
          WHEN event_id % 97 <> 0 AND $WarningSql <> 'no-use' THEN 1 END) AS value
        FROM events
      UNION ALL SELECT 'n_corrupt', COUNT(CASE WHEN event_id % 97 = 0 THEN 1 END)
        FROM events
      UNION ALL SELECT 'n_rows', COUNT(*) FROM events
      UNION ALL SELECT 'sum_age', CAST(SUM(user_id % 60 + 18) AS BIGINT) FROM events
      ORDER BY metric"""))

  /** Streaming-latency attestation (BASELINE.md "streaming latency",
    * VERDICT r10 #8): drives the reference's flagship dataflow — file
    * stream → tag demux → typed CSV parse → warning classifier → memory
    * sink, s01's exact pipeline — over `batches` micro-batches of
    * ~`rowsPerBatch` events each (one trigger interval's worth of arrivals
    * at a reference-like IoT rate) and returns every data batch's
    * `triggerExecution` time in ms. The reference's implicit contract is
    * that this stays ≤ its 1 s batch interval (the DStream stability
    * condition, reference `IOTSparkStreaming.scala:29`); the bench reports
    * max/median against that bound as a committed artifact line. Not a
    * registry entry: it measures the per-batch cost of a pipeline s01
    * already proves correct, so it has no oracle shape. */
  def latencyProbe(s: SparkSession, dir: String,
                   batches: Int, rowsPerBatch: Int): Seq[Long] = {
    val qn = "lat_sink_" + UUID.randomUUID().toString.replace("-", "")
    val ev = Tables.load(s, dir, "events")
    // The probe must actually FEED rowsPerBatch rows per batch: the r12
    // attestation asked for 20×10k over a 100k-row fixture and the old
    // limit silently delivered 5k/batch. Replicate the slice with unique
    // shifted event_ids. The shift stride is max(event_id)+1 — NOT count()
    // — so ids stay collision-free even if the fixture's ids are sparse
    // (ADVICE r13: a count stride under sparse ids collides copies with
    // originals and silently under-fills batches, the exact bug class this
    // replication exists to fix). Content repetition is irrelevant here —
    // the probe measures per-batch pipeline cost, not dedup semantics.
    val need = batches.toLong * rowsPerBatch
    require(need <= Int.MaxValue,
      s"latencyProbe feed of $batches x $rowsPerBatch = $need rows exceeds Int.MaxValue")
    val mm = ev.agg(count(lit(1)), max(col("event_id")).cast("long")).head()
    val have = mm.getLong(0)
    val stride = mm.getLong(1) + 1
    val copies = math.max(1L, (need + have - 1) / have)
    val replicated =
      if (copies == 1L) ev
      else ev
        .select(col("*"), explode(sequence(lit(0L), lit(copies - 1))).as("_r"))
        .withColumn("event_id", col("event_id") + col("_r") * lit(stride))
        .drop("_r")
    // Materialize the feed slice before chunking so the 2×batches range
    // filters re-scan a cached slice, not the parquet sort each time.
    val feed = replicated
      .orderBy(col("event_id")).limit(need.toInt)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      feed.count()
      def pipeline(name: String)(raw: DataFrame) =
        warningAlerts(parseFitbit(raw))
          .select(col("user_id"), col("age"), col("pulse"), col("warning"),
            col("machine_ts"))
          .writeStream.format("memory").queryName(name)
          .option("checkpointLocation", StreamHarness.checkpointDir(name.take(4)))
          .outputMode("append").start()
      // One UNMEASURED warmup drain of the identical plan first: codegen and
      // state-store setup happen once at query START in a deployment, so the
      // 1 s trigger bound governs steady-state batches, not Janino (a cold
      // standalone probe measured 1315 ms on batch 1 vs ~280 ms steady at
      // 10k rows/batch — the first number is compiler time, not pipeline
      // latency). The warmup uses its own query + checkpoint; the measured
      // drain below then starts codegen-warm, exactly like a query that has
      // been running longer than one trigger.
      val warm = fileSource("latw")
      StreamHarness.drain(s, warm, StreamHarness.appends(warm,
        Seq(feed.limit(100).select(Wire.fitbitLine.as("value")))))(
        pipeline("latw_" + UUID.randomUUID().toString.replace("-", "")))
      // Feed each batch as MULTIPLE part-files at high rates (VERDICT r13
      // next #4): `feed` comes off an orderBy().limit() — a single
      // partition — so every batch previously landed as ONE text file and
      // addBatch parsed the whole batch on ONE task (the measured 100k
      // straggler: addBatch p99 633 ms vs flat ~40 ms harness phases). A
      // Kafka direct stream — the reference's source — reads
      // partition-parallel, so the file feed mirrors that with ~12.5k rows
      // per part-file, capped at 8; ≤ 12.5k-row batches keep the single
      // file and their attested numbers.
      val feedFiles = math.min(8, math.max(1, rowsPerBatch / 12500))
      val chunks = StreamHarness.rangeChunks(feed, "event_id", batches)
        .map(c => if (feedFiles == 1) c.select(Wire.fitbitLine.as("value"))
                  else c.select(Wire.fitbitLine.as("value")).repartition(feedFiles))
      val src = fileSource("lat")
      StreamHarness.drain(s, src, StreamHarness.appends(src, chunks))(pipeline(qn))
        .map(_.durationMs.get("triggerExecution").longValue())
    } finally feed.unpersist()
  }

  /** s26 — STREAMING LSH DEDUP ADMISSION: the streaming form of the
    * standing-index dedup d28 runs in batch — documents arrive on the wire
    * (doc_id-ordered JSONL-ish lines, the crawl-ingestion shape), each one's
    * MinHash band keys (d07's exact signature pipeline, native kernels)
    * probe a stateful per-bucket register, and the document is flagged a
    * near-dup CANDIDATE on arrival if any of its [[PortableHash.Bands]]
    * buckets was already claimed by an earlier document. State per bucket
    * is ONE int64 — the min doc_id ever seen in that bucket — which IS the
    * standing LSH index compacted to its admission-decision essence:
    * constant bytes per occupied bucket forever, the
    * `mapGroupsWithState`-contract bound (s24's discipline), and the
    * decision needs no join back to a batch index.
    *
    * Determinism: the feed is doc_id-ordered ([[StreamHarness.rangeChunks]]),
    * so a smaller id never arrives in a later batch, and "bucket already
    * claimed by an earlier doc" ≡ "∃ doc' < doc in the same bucket" —
    * independent of where batch boundaries fall (within a batch the group
    * sees the whole batch's ids, so same-batch smaller ids count too,
    * exactly like the min-over-partition the oracle replays). Bands are
    * exploded BEFORE the stateful op, so the state key is the (band,
    * bucket-hash) pair — the same shuffle key the batch LSH join uses.
    *
    * UNORDERED-feed contract (VERDICT r11 next #5): the admission rule is
    * FIRST-SEEN WINS at micro-batch granularity — a document is flagged iff
    * one of its buckets was claimed in an EARLIER batch, or by a smaller
    * doc_id in the SAME batch (a batch is a set; ties inside it resolve by
    * id, not arrival). Under an out-of-order feed the flags therefore
    * follow ARRIVAL order, not id order — a real crawl's semantics — and
    * `StreamOutOfOrderSpec` pins exactly this behavior over a permuted
    * feed; the registered query's ordered feed is the special case where
    * first-seen and smallest-id coincide, which is what makes the DuckDB
    * oracle expressible as a min-over-partition. */
  /** s26's wire→admission transform, factored so the out-of-order spec can
    * drive the IDENTICAL pipeline with a permuted feed. */
  private[queries] def s26Admission(raw: DataFrame): DataFrame = {
    import raw.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import graft.functions.DedupFunctions.bandKeys
    val parts = split(col("value"), "\\|", 2)
    raw
      .select(parts.getItem(0).cast("long").as("doc_id"),
        call_function("graft_minhash_sig",
          call_function("graft_shingle_hashes",
            call_function("graft_token_hashes", parts.getItem(1)),
            lit(3))).as("sig"))
      .select(col("doc_id"), posexplode(bandKeys(col("sig"))).as(Seq("band", "bh")))
      .as[(Long, Int, Long)]
      .groupByKey(r => (r._2, r._3))
      .flatMapGroupsWithState[Long, (Long, Int, Boolean)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key, rows, state) =>
          val ids = rows.map(_._1).toSeq
          val prevMin = state.getOption.getOrElse(Long.MaxValue)
          state.update(math.min(prevMin, ids.min))
          ids.iterator.map { id =>
            (id, key._1, prevMin < id || ids.exists(_ < id))
          }
      }
      .toDF("doc_id", "band", "collided")
  }

  val s26StreamLshDedup: GraftQuery = GraftQuery(
    "s26_stream_lsh_dedup",
    s"streaming LSH dedup admission: per-(band, bucket) min-id state flags near-dup candidates on arrival",
    (s, dir) => {
      val qn = "s26_sink_" + UUID.randomUUID().toString.replace("-", "")
      val src = fileSource("s26")
      StreamHarness.drain(s, src, docsFeedPublishers(s, dir, src)) { raw =>
        s26Admission(raw)
          .writeStream.format("memory").queryName(qn)
          .option("checkpointLocation", StreamHarness.checkpointDir("s26"))
          .outputMode("append").start()
      }
      s.table(qn).groupBy(col("doc_id"))
        .agg(sum(col("collided").cast("long")).as("n_coll"))
        .select(col("doc_id"), col("n_coll"), (col("n_coll") > 0).as("is_dup"))
        .orderBy(col("doc_id"))
    },
    Some {
      import graft.functions.DedupFunctions.{tokenHashesSql, hashedShinglesSql, minhashSignatureSql, bandKeysSql}
      import graft.functions.PortableHash.Bands
      s"""WITH th AS (
        SELECT doc_id, ${tokenHashesSql("text")} AS th FROM documents),
      hs AS (
        SELECT doc_id, ${hashedShinglesSql("th", 3)} AS hs FROM th),
      sig AS (
        SELECT doc_id, ${minhashSignatureSql("hs")} AS sig FROM hs),
      bands AS (
        SELECT doc_id, band - 1 AS band, (${bandKeysSql("sig")})[band] AS bh
        FROM sig, (SELECT unnest(generate_series(1, $Bands)) AS band)),
      coll AS (
        SELECT doc_id,
          MIN(doc_id) OVER (PARTITION BY band, bh) < doc_id AS collided
        FROM bands)
      SELECT doc_id,
        CAST(SUM(CASE WHEN collided THEN 1 ELSE 0 END) AS BIGINT) AS n_coll,
        SUM(CASE WHEN collided THEN 1 ELSE 0 END) > 0 AS is_dup
      FROM coll GROUP BY doc_id ORDER BY doc_id"""
    })

  /** Pack streams for s27 — a DEPLOYMENT knob, not an index parameter: a
    * production ingest packer writes one sequence stream per output shard
    * (the unit a trainer's data loader reads), so the count tracks the
    * write parallelism you want, like `spark.sql.shuffle.partitions`, not
    * the corpus size. 4 keeps every shard multi-sequence at the gate SFs. */
  val PackShards: Int = 4

  /** s27 — STREAMING SEQUENCE PACKING: the ingest-time form of d40's batch
    * packer. Documents arrive on the wire in doc_id order (the s26 crawl-
    * ingestion feed), are routed to one of [[PackShards]] independent pack
    * streams (shard = doc_id % shards), and each stream lays arrivals on
    * its own token axis, cutting every `PackSeqTokens` tokens — documents
    * straddle cuts, zero padding — emitting boundary rows (shard, seq_id,
    * doc_id, tok_start, doc_tok_start, tok_len) ON ARRIVAL: the attention-
    * mask contract, produced while the crawl is still arriving instead of
    * in a post-hoc batch job.
    *
    * State per pack stream is ONE int64 — the stream's running token
    * offset — constant bytes per shard forever (the s24/s26
    * `mapGroupsWithState` bound); segment emission is pure arithmetic on
    * that offset. Sharding is what makes the streaming form scale: offsets
    * are per-stream, so no global coordination exists to bottleneck, and
    * each shard's sequences are a valid training stream on their own.
    *
    * Determinism: the feed is doc_id-ordered, so within a shard arrivals
    * are doc_id-ordered regardless of where micro-batch boundaries fall
    * (within a batch the group handler sorts its slice); offsets therefore
    * equal the batch prefix sum PARTITIONED by shard, which is exactly
    * what the oracle replays — d40's SQL with a shard partition.
    *
    * UNORDERED-feed contract (VERDICT r11 next #5): offsets follow ARRIVAL
    * order at micro-batch granularity — each shard lays out batches in the
    * order they arrive, doc_id-sorted WITHIN a batch (the handler's sort is
    * over the batch slice only; bounded by batch size ÷ shards rows on one
    * executor, the attested-rate bound). A permuted feed therefore yields a
    * different — but deterministic, arrival-defined — packing, pinned by
    * `StreamOutOfOrderSpec`; the registered query's ordered feed is the
    * special case where arrival order equals id order, which is what makes
    * the batch-prefix-sum oracle apply. */
  /** s27's wire→segments transform, factored so the out-of-order spec can
    * drive the IDENTICAL pipeline with a permuted feed. */
  private[queries] def s27Segments(raw: DataFrame): DataFrame = {
    import raw.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val S = TextQueries.PackSeqTokens.toLong
    val parts = split(col("value"), "\\|", 2)
    raw
      .select(parts.getItem(0).cast("long").as("doc_id"),
        size(split(parts.getItem(1), " ")).cast("long").as("n_tok"))
      .withColumn("shard", col("doc_id") % PackShards)
      .as[(Long, Long, Long)]
      .groupByKey(_._3)
      .flatMapGroupsWithState[Long, (Long, Long, Long, Int, Long, Int)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (shard, rows, state) =>
          var off = state.getOption.getOrElse(0L)
          val out = rows.toSeq.sortBy(_._1).flatMap { case (docId, nTok, _) =>
            val segs = (off / S to (off + nTok - 1) / S).map { seq =>
              val gs = math.max(off, seq * S)
              val ge = math.min(off + nTok, (seq + 1) * S)
              (shard, seq, docId, (gs - seq * S).toInt, gs - off, (ge - gs).toInt)
            }
            off += nTok
            segs
          }
          state.update(off)
          out.iterator
      }
      .toDF("shard", "seq_id", "doc_id", "tok_start", "doc_tok_start", "tok_len")
  }

  val s27StreamPack: GraftQuery = GraftQuery(
    "s27_stream_pack",
    s"streaming sequence packing: per-shard stateful token offsets cut ${TextQueries.PackSeqTokens}-token sequences on arrival",
    (s, dir) => {
      val qn = "s27_sink_" + UUID.randomUUID().toString.replace("-", "")
      val src = fileSource("s27")
      StreamHarness.drain(s, src, docsFeedPublishers(s, dir, src)) { raw =>
        s27Segments(raw)
          .writeStream.format("memory").queryName(qn)
          .option("checkpointLocation", StreamHarness.checkpointDir("s27"))
          .outputMode("append").start()
      }
      s.table(qn).orderBy(col("shard"), col("seq_id"), col("tok_start"))
    },
    Some {
      val S = TextQueries.PackSeqTokens
      s"""WITH t AS (
        SELECT doc_id, doc_id % $PackShards AS shard,
          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        FROM documents),
      o AS (
        SELECT doc_id, shard, n_tok,
          CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS off
        FROM t),
      seg AS (
        SELECT doc_id, shard, n_tok, off,
          unnest(generate_series(off // $S, (off + n_tok - 1) // $S)) AS seq_id
        FROM o)
      SELECT shard, seq_id, doc_id,
        CAST(GREATEST(off, seq_id * $S) - seq_id * $S AS INT) AS tok_start,
        GREATEST(off, seq_id * $S) - off AS doc_tok_start,
        CAST(LEAST(off + n_tok, (seq_id + 1) * $S)
          - GREATEST(off, seq_id * $S) AS INT) AS tok_len
      FROM seg ORDER BY shard, seq_id, tok_start"""
    })

  /** s28 — STREAMING ANN INDEX MAINTENANCE (VERDICT r11 next #2): e13's
    * frozen-router append-merge fused with s26's arrival discipline.
    * Vectors arrive on the wire (vec_id-ordered `id|v1,v2,…` lines, the
    * crawl-ingestion shape; double→string→double is the exact Java
    * round-trip, so arrival bits equal the stored bits); each micro-batch
    * is routed through the FROZEN two-level router in `foreachBatch` and
    * the STANDING index tables — increment postings, increment probe lists,
    * candidate edges — are append-merged on disk, never rebuilt. The final
    * result is e13's merged graph, so the oracle IS e13's oracle: the
    * streamed merge must equal the batch merge bit-for-bit
    * (`StreamAnnMaintainSpec` pins it end-to-end).
    *
    * Why the batch and streamed merges can agree exactly: e13's increment
    * postings are capped in ARRIVAL (vec_id) order — a PREFIX-MONOTONE
    * admission rule (first [[SimilarityQueries.CandCap]] arrivals per list
    * win; a member once admitted is never displaced), so on-arrival
    * admission over the ordered feed reproduces the batch cap regardless of
    * where micro-batch boundaries fall. Every candidate pair is then found
    * exactly once per direction: (prober, earlier-admitted target) on the
    * prober's arrival (e1 — probes join base postings ∪ admitted-so-far),
    * and (earlier prober, later-admitted target) on the target's ADMISSION
    * (e2 — the stored probe lists join the batch's new admits). Unordered
    * feeds keep the same first-SEEN-wins contract (s26's discipline) but
    * then define their own merge rather than replaying e13's.
    *
    * Scale: per-arrival router work is O(n^¼) dots against bounded codebook
    * metadata; per-batch work is keyed equi-joins on `list` sized by the
    * batch; standing state is the increment's index tables ON DISK —
    * postings ≤ CandCap·lists rows, probe lists GraphNProbe·|increment| —
    * exactly what a deployed ANN index stores, nothing held in stream
    * memory (the memory-state path holds ZERO bytes; checkpointing covers
    * only source offsets). No base vector is re-assigned, no Lloyd round
    * re-runs. */
  /** s28's standing tables live as per-batch subdirectories (`seed`,
    * `b<batchId>`, …) under each table dir: every micro-batch OVERWRITES its
    * own `b<id>` part instead of appending at the root, and every read takes
    * only parts `< id` (plus the seed). This makes the maintenance
    * crash-replay idempotent BY CONSTRUCTION (VERDICT r13 next #2): a
    * replayed batch recomputes from exactly the parts the first attempt saw
    * — completed predecessors only — and overwrites its own part, so a kill
    * anywhere (mid-write included) converges to the uninterrupted result on
    * replay; root-level parquet APPENDS would instead double-admit on
    * replay. `StreamAnnMaintainSpec` pins it with a mid-feed kill +
    * lost-commit restart. */
  private def partNum(name: String, pre: String): Option[Long] =
    if (name.startsWith(pre) && name.length > pre.length &&
      name.drop(pre.length).forall(_.isDigit)) Some(name.drop(pre.length).toLong)
    else None

  /** A tiered snapshot run `g<lvl>_<lo>_<hi>`: the compacted union of
    * batches lo ≤ k < hi, at merge level `lvl` (see [[maybeCompactParts]]).
    * The seed is NOT part of any run — it is the standing base and is never
    * rewritten by compaction. */
  private final case class SnapRun(lvl: Int, lo: Long, hi: Long,
      path: org.apache.hadoop.fs.Path)

  private val SnapRunRe = "g(\\d+)_(\\d+)_(\\d+)".r

  private def parseRun(p: org.apache.hadoop.fs.Path): Option[SnapRun] =
    p.getName match {
      case SnapRunRe(l, lo, hi) => Some(SnapRun(l.toInt, lo.toLong, hi.toLong, p))
      case _ => None
    }

  /** A run is authoritative only once its `_SUCCESS` marker is visible.
    * On local FS / HDFS the tmp→final rename is atomic so the marker (laid
    * down by the parquet committer inside tmp) arrives with the dir; on an
    * object store whose rename is copy+delete (e.g. S3A — ADVICE r16) a
    * crash can leave a partial final-named dir, and the marker check keeps
    * reads on the still-live inputs (subsumed parts are only deleted AFTER
    * a completed rename, so a marker-less run's inputs are intact). */
  private def runComplete(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Boolean =
    fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS"))

  private[queries] def partPaths(s: SparkSession, dir: String,
      before: Option[Long] = None): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else {
      val all = fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath)
      val runs = all.flatMap(parseRun).filter(r => runComplete(fs, r.path))
      // Deep-replay guard (ADVICE r16): a run STRADDLING `before` mixes
      // batches the replay must and must not see, and its input parts were
      // deleted after the fold — a silent partial union would drop rows.
      // Streaming replay only ever re-runs the newest batch (folds at batch
      // start cover strictly earlier batches, so hi ≤ id there); anything
      // deeper fails loudly instead of reading an incomplete table.
      before.foreach { id =>
        val straddling = runs.filter(r => r.lo < id && id < r.hi)
        require(straddling.isEmpty,
          s"replay below a compacted fold: batch $id is inside " +
            s"${straddling.map(_.path.getName).mkString(",")} under $dir — " +
            "the fold's input parts are deleted, a partial read would drop rows")
      }
      val eligible = runs.filter(r => before.forall(r.hi <= _))
      // Prefer the highest-level run covering a range; lower-level runs and
      // b-parts it subsumes may be mid-deletion after a crash, so they are
      // ignored rather than expected absent.
      val selected = eligible.filter(r =>
        !eligible.exists(o => o.lvl > r.lvl && o.lo <= r.lo && r.hi <= o.hi))
      def covered(k: Long): Boolean =
        eligible.exists(r => r.lo <= k && k < r.hi)
      val incs = all.flatMap(q => partNum(q.getName, "b").map(_ -> q))
        .filter { case (k, _) => before.forall(k < _) && !covered(k) }
        .sortBy(_._1).map(_._2)
      val seed = all.filter(_.getName == "seed")
      (seed ++ selected.sortBy(_.lo).map(_.path) ++ incs).map(_.toString)
    }
  }

  /** Fan-out of the tiered compaction ([[maybeCompactParts]]): how many
    * committed increment parts accumulate before a level-0 fold, and how
    * many runs a level holds before they merge one level up. Bounds every
    * per-batch re-read of a standing table at seed + (CompactEvery−1)
    * runs per level × log_CompactEvery(batches) levels + < CompactEvery
    * increments, so drain cost is flat-ish in batch index instead of
    * growing with committed part count (VERDICT r15 next #1 — the measured
    * O(batches²) mode: edges 1.5→5 s, monitor 4.4→12.9 s over 8 batches at
    * the 200k corpus came from re-reading every prior `b<id>` part; r16's
    * single-generation fix re-wrote seed + everything per spike — O(total),
    * the r16 next #5 residual the tiering removes). */
  private[queries] val CompactEvery: Int = 4

  /** TIERED compaction (VERDICT r16 next #5 — r16's single-generation
    * design folded seed + everything-so-far on every spike, O(total) per
    * spike): increments fold into LEVELED runs, LSM-style, so a spike
    * rewrites ONE level's worth of data, never the whole table, and the
    * seed — the standing base, the largest part — is never rewritten at
    * all. At the start of batch `id`:
    *
    *  - level-0 fold: once `every` uncovered `b<k>` parts (k < id) have
    *    accumulated, they fold into `g1_<lo>_<id>` (lo = the highest hi of
    *    any existing run, 0 when none) — cost bounded by `every` recent
    *    batches;
    *  - cascade: once `every` runs exist AT a level, they fold into one
    *    run a level up (they are contiguous by construction — a level-up
    *    fold always consumes ALL of its level) — cost bounded by that
    *    level's total size, paid once per every^lvl batches;
    *  - sweep: parts covered by a completed run are deleted.
    *
    * A drain of B batches therefore reads ≤ 1 seed + (every−1)·log_every(B)
    * runs + (every−1) live b-parts per batch, amortized compaction cost
    * O(B·log B) total instead of the full-compaction O(B²/every).
    *
    * Runs strictly over parts < id, so the replay-idempotence contract
    * ([[partPaths]]) is preserved across every crash point:
    *
    *  - crash before the tmp→final rename: the tmp dir is invisible to
    *    [[partPaths]] (dot-prefixed) and the old parts are still live —
    *    replay recomputes the same fold (its name and membership are pure
    *    functions of the surviving listing);
    *  - crash after the rename, mid-deletion: reads resolve through the
    *    completed run (subsumed parts are ignored by the coverage filter,
    *    not expected absent), and the replay's sweep finishes the deletion;
    *  - partial final-named dir on a copy+delete filesystem: no `_SUCCESS`
    *    marker → [[partPaths]] ignores it, this method deletes and
    *    rewrites it (see [[runComplete]]; on local FS / HDFS the rename is
    *    atomic and this path never engages);
    *  - replay of a fully compacted batch: every fold target exists → skip
    *    straight to the (empty) sweep.
    *
    * Snapshot file count targets ~128 MiB per file from the measured input
    * bytes, capped at the session parallelism — compaction exists to cut
    * part/file counts, so it must not mirror 32 shuffle files per input
    * part into the snapshot. */
  private[queries] def maybeCompactParts(s: SparkSession, dir: String,
      id: Long, every: Int = CompactEvery): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return

    def listing() = fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath)
    def completeRuns(all: Seq[org.apache.hadoop.fs.Path]): Seq[SnapRun] =
      all.flatMap(parseRun).filter(r => runComplete(fs, r.path))

    def fold(lvl: Int, lo: Long, hi: Long,
        inputs: Seq[org.apache.hadoop.fs.Path]): Unit = {
      val gp = new org.apache.hadoop.fs.Path(p, s"g${lvl}_${lo}_$hi")
      if (fs.exists(gp) && !runComplete(fs, gp)) fs.delete(gp, true)
      if (!fs.exists(gp)) {
        val bytes = inputs.map(pt => fs.getContentSummary(pt).getLength).sum
        val nFiles = math.max(1L, math.min(
          s.sparkContext.defaultParallelism.toLong, bytes / (128L << 20) + 1)).toInt
        val tmp = new org.apache.hadoop.fs.Path(p, s".g${lvl}_${lo}_$hi.tmp")
        if (fs.exists(tmp)) fs.delete(tmp, true)
        s.read.parquet(inputs.map(_.toString): _*).coalesce(nFiles)
          .write.mode("overwrite").parquet(tmp.toString)
        require(runComplete(fs, tmp), s"fold wrote no _SUCCESS under $tmp")
        require(fs.rename(tmp, gp), s"compaction rename failed: $tmp -> $gp")
      }
    }

    // Level-0: fold accumulated uncovered increments below this batch.
    val all0 = listing()
    val runs0 = completeRuns(all0)
    val floor = runs0.map(_.hi).maxOption.getOrElse(0L)
    val pending = all0
      .flatMap(q => partNum(q.getName, "b").map(_ -> q))
      .filter { case (k, _) =>
        k >= floor && k < id && !runs0.exists(r => r.lo <= k && k < r.hi) }
    if (pending.size >= every)
      fold(1, floor, id, pending.sortBy(_._1).map(_._2))

    // Cascade: fold any level that reached `every` live runs into one run a
    // level up. Re-list each round — a fold changes the listing, and replay
    // convergence depends on decisions reading the CURRENT state.
    var cascading = true
    while (cascading) {
      cascading = false
      val runs = completeRuns(listing())
      val live = runs.filter(r =>
        !runs.exists(o => o.lvl > r.lvl && o.lo <= r.lo && r.hi <= o.hi))
      live.groupBy(_.lvl).toSeq.sortBy(_._1).find(_._2.size >= every)
        .foreach { case (lvl, rs) =>
          fold(lvl + 1, rs.map(_.lo).min, rs.map(_.hi).max,
            rs.sortBy(_.lo).map(_.path))
          cascading = true
        }
    }

    // Sweep: delete parts subsumed by a completed run (never the seed —
    // compaction never rewrites the standing base).
    val allF = listing()
    val runsF = completeRuns(allF)
    val deadB = allF.flatMap(q => partNum(q.getName, "b").map(_ -> q))
      .collect { case (k, q) if runsF.exists(r => r.lo <= k && k < r.hi) => q }
    val deadRuns = runsF.filter(r =>
      runsF.exists(o => o.lvl > r.lvl && o.lo <= r.lo && r.hi <= o.hi))
      .map(_.path)
    (deadB ++ deadRuns).foreach(q => fs.delete(q, true))
  }

  /** Read the union of a standing table's committed parts (see
    * [[partPaths]]); `before = Some(id)` reads only parts strictly earlier
    * than batch `id`. */
  private[queries] def readParts(s: SparkSession, dir: String,
      before: Option[Long] = None): DataFrame = {
    val paths = partPaths(s, dir, before)
    require(paths.nonEmpty, s"no committed parts under $dir")
    s.read.parquet(paths: _*)
  }

  /** The standing tables [[s28Maintain]] returns: increment postings, probe
    * lists, candidate edges, the (monitor-mode) per-batch alert log, and the
    * base/increment id split. */
  final case class S28Tables(postDir: String, probeDir: String,
      edgeDir: String, alertDir: String, nBase: Long)

  /** How [[s28Maintain]] drives its chunks through the started query —
    * overridable so a spec can kill the drain mid-feed and restart it from
    * the SAME checkpoint (args: source, chunks, checkpointDir, start). */
  type S28Drive =
    (FileStreamSource, Seq[DataFrame], String,
      DataFrame => org.apache.spark.sql.streaming.StreamingQuery) => Unit

  /** The s28 drain, factored out so `StreamOutOfOrderSpec` can drive the
    * IDENTICAL pipeline with a permuted arrival schedule: builds the frozen
    * base index, seeds the standing on-disk tables, and drains the increment
    * chunks (reordered by `permute`; identity = the registered
    * vec_id-ordered feed) through the foreachBatch maintenance step.
    * Returns the standing index tables ([[S28Tables]]) an operator would
    * keep serving from.
    *
    * Unordered-feed contract (pinned by the spec): admission is FIRST-SEEN
    * WINS per list at micro-batch granularity — per list, arrivals are
    * admitted in (batch, vec_id-within-batch) order until
    * [[SimilarityQueries.CandCap]]; a member once admitted is never
    * displaced by a later (even smaller-id) arrival. On the id-ordered feed
    * this replays e13's first-CandCap-by-vec_id cap exactly (prefix-monotone
    * admission), which is why streamed ≡ batch there; an unordered feed
    * keeps the same admission discipline but defines its own merge.
    *
    * `monitor = true` additionally computes, AFTER each batch's appends
    * commit, the e20 alert surface of the index AS IT STANDS — hash-sampled
    * [[SimilarityQueries.MonitorQ]] queries over base ∪ arrived-so-far,
    * exact top-[[SimilarityQueries.KnnK]] vs the current merged graph, mean
    * recall and the `alert` boolean — writes it to the alert log's `b<id>`
    * part and posts it on [[graft.streaming.RecallAlertBus]] (the s30
    * surface; VERDICT r13 next #3).
    *
    * `chunksN` controls the increment's micro-batch split (rows/batch =
    * increment ÷ chunksN); the replay spec varies it. `compactEvery`
    * bounds how many committed increment parts (and runs per level)
    * accumulate before the standing tables fold into a tiered snapshot run
    * ([[maybeCompactParts]], VERDICT r15 next #1, tiered per r16 next #5). */
  def s28Maintain(s: SparkSession, dir: String,
      permute: Seq[DataFrame] => Seq[DataFrame] = identity,
      candCap: Int = SimilarityQueries.CandCap,
      monitor: Boolean = false,
      drive: Option[S28Drive] = None,
      chunksN: Int = Chunks,
      compactEvery: Int = CompactEvery)
    : S28Tables = {
      import SimilarityQueries.{GraphNProbe, e13BatchSize}
      import org.apache.spark.sql.expressions.Window
      val allV = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("ve"))
        .withColumn("nrm", sqrt(call_function("graft_dot", col("ve"), col("ve"))))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val nTotal = allV.count()
        val nBase = nTotal - e13BatchSize(nTotal)
        // Standing base index: materialized tables + the frozen codebook
        // (bounded index metadata — never retrained by an append).
        val (_, g3B, hopsB, capB, _) =
          SimilarityQueries.graphTables(s, dir, trained = true, maxId = nBase)
        val cb = SimilarityQueries.cbCache.get((dir, true, nBase))
        require(cb != null, "s28: base index build did not cache its codebook")
        val capVec = capB
          .join(allV.select(col("vec_id").as("nid"), col("ve").as("nve"),
            col("nrm").as("nnrm")), "nid")
          .select(col("list"), col("nid"), col("nve"), col("nnrm"))
        // The streamed index's standing tables: per-batch part dirs (see
        // [[partPaths]] — crash-replay idempotent), seeded with empty
        // schemas so batch-0 reads resolve.
        val postDir = StreamHarness.tempDir("s28post")
        val probeDir = StreamHarness.tempDir("s28probe")
        val edgeDir = StreamHarness.tempDir("s28edge")
        val alertDir = StreamHarness.tempDir("s28alert")
        allV.limit(0).select(lit(0L).as("list"), col("vec_id").as("nid"),
          col("ve").as("nve"), col("nrm").as("nnrm"))
          .write.mode("overwrite").parquet(s"$postDir/seed")
        allV.limit(0).select(col("vec_id"), col("ve"), col("nrm"),
          lit(0L).as("list")).write.mode("overwrite").parquet(s"$probeDir/seed")
        allV.limit(0).select(col("vec_id"), col("vec_id").as("nid"),
          col("nrm").as("cosine")).write.mode("overwrite").parquet(s"$edgeDir/seed")
        if (monitor) s.range(0).select(col("id").as("n_seen"),
          col("id").as("n_queries"), col("id").cast("double").as("mean_recall"),
          col("id").cast("double").as("min_recall"), col("id").as("n_below_floor"),
          (col("id") > 0).as("alert"))
          .write.mode("overwrite").parquet(s"$alertDir/seed")
        // The monitor's approx leg: the CURRENT merged graph, e13's merge
        // shape over base top-K ∪ committed edge parts (s28StreamAnnMaintain
        // runs the same merge over ALL parts after the drain).
        val wK = Window.partitionBy(col("vec_id"))
          .orderBy(col("cosine").desc, col("nid"))
        val baseTopK = g3B.union(hopsB).distinct()
          .withColumn("rnk", row_number().over(wK))
          .filter(col("rnk") <= SimilarityQueries.KnnK)
          .select(col("vec_id"), col("nid"), col("cosine"))
        val chunks = permute(StreamHarness.rangeChunks(
          allV.filter(col("vec_id") >= nBase), "vec_id", chunksN))
          .map(_.select(concat(col("vec_id"), lit("|"), concat_ws(",",
            transform(col("ve"), x => x.cast("string")))).as("value")))
        val cosine = call_function("graft_dot", col("ve"), col("nve")) /
          (col("nrm") * col("nnrm"))
        // Checkpoint dir hoisted OUT of the start lambda: a crash-test drive
        // restarts the query by calling `start` again, and recovery only
        // exists if both starts share the checkpoint.
        val ckpt = StreamHarness.checkpointDir("s28")
        val runDrive: S28Drive = drive.getOrElse(
          (src, cs, _, start) =>
            StreamHarness.drain(s, src, StreamHarness.appends(src, cs))(start))
        runDrive(fileSource("s28"), chunks, ckpt, { raw =>
          raw.writeStream
            .foreachBatch { (batch: DataFrame, id: Long) =>
              // Micro-batches analyze in the streaming query's CLONED
              // session — register the router expression there, not on the
              // outer session.
              val bs = batch.sparkSession
              if (!batch.isEmpty) {
              // Standing-table compaction (VERDICT r15 next #1): before any
              // read, fold accumulated increments into tiered snapshot
              // runs so this batch — and every later one — reads the seed
              // plus O(log batches) runs plus < CompactEvery parts instead
              // of the whole drain history; a spike rewrites one level,
              // never the seed (VERDICT r16 next #5). Runs strictly over parts < id, so the replay
              // contract below is untouched; crash-safety per
              // [[maybeCompactParts]], pinned by StreamReplaySpec's
              // compaction-boundary kill.
              Seq(postDir, probeDir, edgeDir).foreach(d =>
                maybeCompactParts(bs, d, id, compactEvery))
              val parts = split(col("value"), "\\|", 2)
              val arr = batch.select(
                parts.getItem(0).cast("long").as("vec_id"),
                transform(split(parts.getItem(1), ","),
                  x => x.cast("double")).as("ve"))
                .withColumn("nrm",
                  sqrt(call_function("graft_dot", col("ve"), col("ve"))))
                .withColumn("rl",
                  SimilarityQueries.cbRank2Q(bs, "s28", cb, col("ve")))
                .persist()
              // Every read below takes parts strictly BEFORE this batch and
              // every write overwrites this batch's own part — the replay
              // idempotence contract ([[partPaths]]).
              val prior = readParts(bs, postDir, Some(id))
              val priorCnt = prior.groupBy(col("list"))
                .agg(count(lit(1)).as("npost"))
              // First-seen-wins admission: prior-count + within-batch
              // vec_id rank admits until CandCap and never displaces an
              // admitted member. On the id-ordered feed prior members all
              // carry smaller vec_ids, so this replays e13's
              // first-CandCap-by-vec_id cap exactly (prefix-monotone); on a
              // permuted feed the same rule is the s26 first-seen contract,
              // pinned by StreamOutOfOrderSpec.
              // localCheckpoint cuts the lineage back to postDir, so the
              // later postDir write can never recompute this frame against
              // its own output.
              val bw = Window.partitionBy(col("list")).orderBy(col("vec_id"))
              val newAdmits = arr
                .withColumn("list", element_at(col("rl"), 1))
                .withColumn("brn", row_number().over(bw))
                .join(broadcast(priorCnt), Seq("list"), "left")
                .filter(coalesce(col("npost"), lit(0L)) + col("brn") <= candCap)
                .select(col("list"), col("vec_id").as("nid"),
                  col("ve").as("nve"), col("nrm").as("nnrm"))
                .localCheckpoint(true)
              val probes = arr.select(col("vec_id"), col("ve"), col("nrm"),
                explode(slice(col("rl"), 1, GraphNProbe)).as("list"))
              // e1: this batch's probers vs base ∪ admitted-so-far targets.
              val e1 = probes
                .join(capVec.union(prior).union(newAdmits), Seq("list"))
                .filter(col("vec_id") =!= col("nid"))
                .withColumn("cosine", cosine)
                .select(col("vec_id"), col("nid"), col("cosine"))
              // e2: earlier batches' stored probe lists vs this batch's new
              // admissions (parts < id — deterministic under replay, unlike
              // the old whole-dir read that depended on write order).
              val e2 = readParts(bs, probeDir, Some(id))
                .join(broadcast(newAdmits), Seq("list"))
                .filter(col("vec_id") =!= col("nid"))
                .withColumn("cosine", cosine)
                .select(col("vec_id"), col("nid"), col("cosine"))
              e1.union(e2).write.mode("overwrite").parquet(s"$edgeDir/b$id")
              newAdmits.write.mode("overwrite").parquet(s"$postDir/b$id")
              probes.write.mode("overwrite").parquet(s"$probeDir/b$id")
              if (monitor) {
                // e20's alert surface over the index AS IT STANDS after this
                // batch (VERDICT r13 next #3): sample ∪-to-date corpus,
                // exact top-K vs current merged graph, one consumable row.
                import graft.functions.PortableHash.{A, B, P}
                import SimilarityQueries.{KnnK, MeanRecallFloor, MonitorQ, RecallFloor}
                val arrSeen = readParts(bs, probeDir, Some(id + 1))
                  .select(col("vec_id"), col("ve"), col("nrm"))
                  .dropDuplicates("vec_id")
                val nSeen = arrSeen.count()
                val seen = allV.filter(col("vec_id") < nBase)
                  .select(col("vec_id"), col("ve"), col("nrm"))
                  .union(arrSeen)
                // e19's hash-ranked constant sample, over base ∪ arrived.
                val samp = seen.select(col("vec_id").as("qid"),
                  col("ve").as("qv"), col("nrm").as("qnrm"))
                  .withColumn("h",
                    (lit(A(7)) * (col("qid") % lit(P)) + lit(B(7))) % lit(P))
                  .orderBy(col("h"), col("qid")).limit(MonitorQ)
                  .select(col("qid"), col("qv"), col("qnrm"))
                  .persist()
                samp.count()
                val sampIds = samp.select(col("qid").as("vec_id"))
                // Approx leg: merged top-K, PRUNED to the sample before the
                // window (qid filter commutes with a per-vec_id window).
                val newPairs = readParts(bs, edgeDir, Some(id + 1))
                  .select(explode(array(
                    struct(col("vec_id"), col("nid"), col("cosine")),
                    struct(col("nid").as("vec_id"), col("vec_id").as("nid"),
                      col("cosine")))).as("p"))
                  .select(col("p.vec_id"), col("p.nid"), col("p.cosine"))
                val approx = baseTopK.union(newPairs)
                  .join(broadcast(sampIds), Seq("vec_id"), "left_semi")
                  .distinct()
                  .withColumn("rnk", row_number().over(wK))
                  .filter(col("rnk") <= KnnK)
                  .select(col("vec_id").as("qid"), col("nid"))
                val exact = seen.crossJoin(broadcast(samp))
                  .filter(col("vec_id") =!= col("qid"))
                  .withColumn("cosine",
                    call_function("graft_dot", col("qv"), col("ve"))
                      / (col("qnrm") * col("nrm")))
                  .groupBy(col("qid"))
                  .agg(graft.functions.TopKCosAggregator.top3(
                    col("cosine"), col("vec_id")).as("tops"))
                  .select(col("qid"), explode(col("tops")).as("t"))
                  .select(col("qid"), col("t._2").as("nid"))
                val hits = exact.join(approx, Seq("qid", "nid"))
                  .groupBy(col("qid")).agg(count(lit(1)).as("hits"))
                val row = samp.select(col("qid"))
                  .join(hits, Seq("qid"), "left")
                  .select(coalesce(col("hits"), lit(0L)).as("hits"))
                  .withColumn("recall",
                    col("hits").cast("double") / lit(KnnK.toDouble))
                  .agg(
                    count(lit(1)).as("n_queries"),
                    sum(col("hits")).as("sum_hits"),
                    min(col("recall")).as("min_recall"),
                    sum((col("recall") < RecallFloor).cast("long"))
                      .as("n_below_floor"))
                  .select(lit(nSeen).as("n_seen"), col("n_queries"),
                    (col("sum_hits").cast("double")
                      / (col("n_queries") * lit(KnnK.toLong)).cast("double"))
                      .as("mean_recall"),
                    col("min_recall"), col("n_below_floor"))
                  .withColumn("alert", col("mean_recall") < MeanRecallFloor)
                row.write.mode("overwrite").parquet(s"$alertDir/b$id")
                samp.unpersist()
                // The pager wire: one bounded row to the in-process bus, at
                // the same commit point listener progress becomes visible.
                val r = bs.read.parquet(s"$alertDir/b$id").head()
                RecallAlertBus.post(RecallAlertBus.Alert(r.getLong(0),
                  r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4),
                  r.getBoolean(5)))
              }
              arr.unpersist()
              }
              ()
            }
            .option("checkpointLocation", ckpt)
            .start()
        })
        S28Tables(postDir, probeDir, edgeDir, alertDir, nBase)
      } finally allV.unpersist()
    }

  val s28StreamAnnMaintain: GraftQuery = GraftQuery(
    "s28_stream_ann_maintain",
    "streaming ANN maintenance: arrivals routed through the frozen router in foreachBatch, postings + top-K lists append-merged without rebuild",
    (s, dir) => {
      import SimilarityQueries.KnnK
      import org.apache.spark.sql.expressions.Window
      val t28 = s28Maintain(s, dir)
      val nBase = t28.nBase
      val (_, g3B, hopsB, _, _) =
        SimilarityQueries.graphTables(s, dir, trained = true, maxId = nBase)
      // Merge = e13's tail over the streamed candidate edges: top-K(base ∪
      // appended), one window over KnnK·n + emitted rows.
      val wK = Window.partitionBy(col("vec_id"))
        .orderBy(col("cosine").desc, col("nid"))
      val baseGraph = g3B.union(hopsB).distinct()
        .withColumn("rnk", row_number().over(wK)).filter(col("rnk") <= KnnK)
        .select(col("vec_id"), col("nid"), col("cosine"))
      val newEdges = readParts(s, t28.edgeDir)
        .select(explode(array(
          struct(col("vec_id"), col("nid"), col("cosine")),
          struct(col("nid").as("vec_id"), col("vec_id").as("nid"),
            col("cosine")))).as("p"))
        .select(col("p.vec_id"), col("p.nid"), col("p.cosine"))
        .distinct()
      baseGraph.union(newEdges)
        .withColumn("rnk", row_number().over(wK))
        .filter(col("rnk") <= KnnK)
        .select(col("vec_id"), col("nid"), col("rnk"), col("cosine"),
          (col("vec_id") >= nBase).cast("int").as("is_new"))
        .orderBy(col("vec_id"), col("rnk"))
    },
    // The streamed merge equals the batch merge by construction (see above),
    // so the oracle replays the SAME merged index e13's oracle replays.
    SimilarityQueries.e13IncrementalIndex.oracle)

  /** s29's wire→admission transform (factored like [[s26Admission]] so a
    * spec can drive it with a planted feed): each arriving document probes
    * ONE stateful register with keys from BOTH modalities — its
    * [[graft.functions.PortableHash.Bands]] text MinHash band keys (s26's
    * signal) AND its 4×16-bit media pHash band keys (m03's signal), the
    * modality folded into the state key so the bucket spaces never collide.
    *
    * Media buckets are 16-bit (dense on natural-language bigram
    * histograms — a bare band collision flags most of the corpus, measured
    * 89% at sf0.001), so the media state holds the bucket's min-id
    * claimant's full 64-bit signature (three int64s per bucket — still
    * constant) and an arrival is media-flagged only when VERIFIED within
    * Hamming ≤ [[MultimodalQueries.JointHamming]] of that representative —
    * the m03 band-then-verify discipline compacted to admission state. The
    * trade, documented: verification is against the bucket's one stored
    * claimant only (a near-dup pair whose shared bucket is claimed by an
    * unrelated smaller-id doc is missed), which is what bounds state at
    * three words per bucket.
    * Output is one row per (doc, modality, band): `cand` = bucket already
    * claimed, `collided` = claimed AND verified (text: ≡ cand, the s26
    * semantics). */
  private[queries] def s29Admission(raw: DataFrame): DataFrame = {
    import raw.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import graft.functions.DedupFunctions.bandKeys
    val maxH = MultimodalQueries.JointHamming
    val parts = split(col("value"), "\\|", 2)
    val sig = call_function("graft_minhash_sig",
      call_function("graft_shingle_hashes",
        call_function("graft_token_hashes", col("text")), lit(3)))
    // Both modalities' band keys in ONE map-side projection + explode (no
    // stream self-union): text bands carry modality 0, media bands 1. Media
    // rows carry the full signature halves for the state-side verification;
    // text rows carry zeros.
    val tKeys = transform(bandKeys(sig), (bh, i) =>
      struct(lit(0).as("modality"), i.cast("int").as("band"), bh.as("bh"),
        lit(0L).as("sig1"), lit(0L).as("sig2")))
    def mKey(band: Int, bh: org.apache.spark.sql.Column) =
      struct(lit(1).as("modality"), lit(band).as("band"), bh.as("bh"),
        col("ph.sig1").as("sig1"), col("ph.sig2").as("sig2"))
    val mKeys = array(
      mKey(0, col("ph.sig1").bitwiseAND(lit(65535L))),
      mKey(1, shiftright(col("ph.sig1"), 16)),
      mKey(2, col("ph.sig2").bitwiseAND(lit(65535L))),
      mKey(3, shiftright(col("ph.sig2"), 16)))
    raw
      .select(parts.getItem(0).cast("long").as("doc_id"),
        parts.getItem(1).as("text"))
      .withColumn("ph", call_function("graft_phash", col("text").cast("binary")))
      .select(col("doc_id"), explode(concat(tKeys, mKeys)).as("k"))
      .select(col("doc_id"), col("k.modality").as("modality"),
        col("k.band").as("band"), col("k.bh").as("bh"),
        col("k.sig1").as("sig1"), col("k.sig2").as("sig2"))
      .as[(Long, Int, Int, Long, Long, Long)]
      .groupByKey(r => (r._2, r._3, r._4))
      // State per (modality, band, bucket): the SMALLEST-ID claimant's
      // (doc_id, sig1, sig2) seen so far — exactly s26's min-id register
      // (displaced downward if a smaller id arrives later, so ordered and
      // permuted feeds share one contract: "flagged iff a smaller-id doc
      // has been seen in this bucket"), extended with the claimant's
      // signature for the media verification.
      .flatMapGroupsWithState[(Long, Long, Long), (Long, Int, Int, Boolean, Boolean)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key, rows, state) =>
          val rs = rows.toSeq
          val batchRep = rs.minBy(_._1)
          val rep = state.getOption.getOrElse((Long.MaxValue, 0L, 0L))
          if (batchRep._1 < rep._1)
            state.update((batchRep._1, batchRep._5, batchRep._6))
          val (repId, repS1, repS2) =
            if (rep._1 < batchRep._1) rep
            else (batchRep._1, batchRep._5, batchRep._6)
          rs.iterator.map { case (id, modality, band, _, s1, s2) =>
            val cand = repId < id
            val verified = cand && (modality == 0 ||
              java.lang.Long.bitCount(s1 ^ repS1) +
                java.lang.Long.bitCount(s2 ^ repS2) <= maxH)
            (id, modality, band, cand, verified)
          }
      }
      .toDF("doc_id", "modality", "band", "cand", "collided")
  }

  /** s29 — STREAMING CROSS-MODAL dedup admission (VERDICT r12 next #6): s26
    * admits on text LSH alone, so a media duplicate whose text was scrubbed
    * or paraphrased sails through admission and is invisible until the next
    * BATCH m07 run — the streaming regime needs m03's pHash signal fused
    * into the admission state, the way s28 is the streaming half of e13.
    * Each arrival probes the per-bucket registers of BOTH modalities on
    * arrival; the verdict is per-modality counts — text band collisions,
    * media band candidates, media VERIFIED collisions (Hamming ≤
    * [[MultimodalQueries.JointHamming]] against the bucket's stored
    * claimant signature, see [[s29Admission]]) — plus the fused `is_dup`
    * (text collision OR verified media). `CrossmodalAdmissionSpec` plants a
    * media-dup arrival (equal byte-bigram histogram, different tokens) that
    * text-LSH admission provably misses.
    *
    * State/scale: identical class to s26 — three int64s per occupied
    * (modality, band, bucket); the media side adds at most 4·65536 buckets
    * EVER (16-bit bands), the text side s26's accepted vocab-shaped growth.
    * The per-arrival work is two map-side native kernels + a 12-key state
    * probe; no join, no index rebuild, no batch m03 rerun. Determinism: the
    * ordered feed makes "claimed earlier" ≡ "∃ smaller doc_id in bucket"
    * per modality (s26's argument, applied twice), so the oracle replays
    * the register as min-over-bucket plus a signature join; the UNORDERED
    * contract is s26's smallest-id-seen-wins, inherited key-for-key from
    * the shared state discipline. */
  val s29CrossmodalAdmission: GraftQuery = GraftQuery(
    "s29_crossmodal_admission",
    "streaming cross-modal admission: text MinHash bands + verified media pHash bands probe one stateful register; either modality flags a dup on arrival",
    (s, dir) => {
      val qn = "s29_sink_" + UUID.randomUUID().toString.replace("-", "")
      val src = fileSource("s29")
      StreamHarness.drain(s, src, docsFeedPublishers(s, dir, src)) { raw =>
        s29Admission(raw)
          .writeStream.format("memory").queryName(qn)
          .option("checkpointLocation", StreamHarness.checkpointDir("s29"))
          .outputMode("append").start()
      }
      s.table(qn).groupBy(col("doc_id"))
        .agg(
          sum(when(col("modality") === 0 && col("collided"), 1L)
            .otherwise(0L)).as("n_text_coll"),
          sum(when(col("modality") === 1 && col("cand"), 1L)
            .otherwise(0L)).as("n_media_cand"),
          sum(when(col("modality") === 1 && col("collided"), 1L)
            .otherwise(0L)).as("n_media_coll"))
        .select(col("doc_id"), col("n_text_coll"), col("n_media_cand"),
          col("n_media_coll"),
          (col("n_text_coll") > 0).as("is_text_dup"),
          (col("n_media_coll") > 0).as("is_media_dup"),
          (col("n_text_coll") > 0 || col("n_media_coll") > 0).as("is_dup"))
        .orderBy(col("doc_id"))
    },
    Some {
      import graft.functions.DedupFunctions.{tokenHashesSql, hashedShinglesSql, minhashSignatureSql, bandKeysSql}
      import graft.functions.PortableHash.Bands
      s"""WITH t29 AS (
        SELECT doc_id, ${tokenHashesSql("text")} AS th FROM documents),
      h29 AS (
        SELECT doc_id, ${hashedShinglesSql("th", 3)} AS hs FROM t29),
      g29 AS (
        SELECT doc_id, ${minhashSignatureSql("hs")} AS sig FROM h29),
      tb29 AS (
        SELECT doc_id, band - 1 AS band, (${bandKeysSql("sig")})[band] AS bh
        FROM g29, (SELECT unnest(generate_series(1, $Bands)) AS band)),
      tc29 AS (
        SELECT doc_id,
          MIN(doc_id) OVER (PARTITION BY band, bh) < doc_id AS collided
        FROM tb29),
      ${MultimodalQueries.phashBandsSql},
      mrep AS (SELECT bn, bv, MIN(doc_id) AS rep FROM bands GROUP BY bn, bv),
      mc29 AS (
        SELECT b.doc_id,
          b.doc_id > r.rep AS cand,
          b.doc_id > r.rep AND
            bit_count(xor(b.sig1, s.sig1)) + bit_count(xor(b.sig2, s.sig2))
              <= ${MultimodalQueries.JointHamming} AS collided
        FROM bands b
        JOIN mrep r ON r.bn = b.bn AND r.bv = b.bv
        JOIN sigs s ON s.doc_id = r.rep),
      ta29 AS (
        SELECT doc_id,
          CAST(SUM(CASE WHEN collided THEN 1 ELSE 0 END) AS BIGINT) AS n_text_coll
        FROM tc29 GROUP BY doc_id),
      ma29 AS (
        SELECT doc_id,
          CAST(SUM(CASE WHEN cand THEN 1 ELSE 0 END) AS BIGINT) AS n_media_cand,
          CAST(SUM(CASE WHEN collided THEN 1 ELSE 0 END) AS BIGINT) AS n_media_coll
        FROM mc29 GROUP BY doc_id)
      SELECT d.doc_id, ta29.n_text_coll, ma29.n_media_cand, ma29.n_media_coll,
        ta29.n_text_coll > 0 AS is_text_dup,
        ma29.n_media_coll > 0 AS is_media_dup,
        ta29.n_text_coll > 0 OR ma29.n_media_coll > 0 AS is_dup
      FROM documents d
      JOIN ta29 ON ta29.doc_id = d.doc_id
      JOIN ma29 ON ma29.doc_id = d.doc_id
      ORDER BY d.doc_id"""
    })

  /** s30 — STREAMING RECALL-ALERT DELIVERY (VERDICT r13 next #3): e20's
    * alert is a batch-polled row; in the streaming regime — s28 maintaining
    * the index — nothing emitted the rebuild signal as data arrived. Here
    * the s28 drain runs with `monitor = true`: after EACH micro-batch's
    * index appends commit, the drain scores the index as it stands (e19's
    * hash-ranked constant [[SimilarityQueries.MonitorQ]] sample over base ∪
    * arrived-so-far, exact top-[[SimilarityQueries.KnnK]] vs the current
    * merged graph) and emits e20's one-row alert surface — to the durable
    * per-batch alert log this query returns, and to
    * [[graft.streaming.RecallAlertBus]], the in-process pager wire a
    * rebuild scheduler subscribes to. A `Dataset.observe` metric cannot
    * carry the value (observed metrics aggregate the streamed batch's own
    * rows; mean recall aggregates the STANDING tables), so the emission
    * point is the foreachBatch commit — the same point s25's listener sees
    * progress. `StreamRecallAlertSpec` plants a mid-stream recall collapse
    * and asserts the second batch's emission flips `alert`.
    *
    * Scale: per batch, the monitor adds one MonitorQ·n-dot exact leg (the
    * e19/e18 bounded-aggregator shape — linear, map-side) and a
    * sample-pruned top-K window over base-graph ∪ committed edges; state
    * is the same on-disk parts s28 already keeps. The oracle replays the
    * log row-for-row at both chunk cutoffs (prefix-monotone admission makes
    * the mid-stream index state SQL-expressible). */
  val s30StreamRecallAlert: GraftQuery = GraftQuery(
    "s30_stream_recall_alert",
    "streaming recall-alert delivery: every s28 maintenance batch scores the standing index (e20 surface) and emits the alert on commit",
    (s, dir) => {
      val t = s28Maintain(s, dir, monitor = true)
      readParts(s, t.alertDir).orderBy(col("n_seen"))
    },
    Some(SimilarityQueries.s30AlertLogSql))

  val all: Seq[GraftQuery] = Seq(
    c01MultiplexParse, c02JsonlSource, c03SchemaMerge,
    s01WarningStream, s02LatestLocationSink,
    s03EnrichStream, s04HistoryAppend, s05WindowCounts, k05TupleRender,
    s06ProfileUpsert, s07SalesUpsert, s08StreamDedup, s09StatefulCounter,
    s10StreamJoin, s11TopicSink, s12MapData, s13SalesLwwExact,
    s14DedupWatermark, s15TwsCounter, s16SessionStream, s17ChainedAgg,
    s18OuterStreamJoin, s19AvailableNow, s20DualSink, s21Scd2History,
    s22TemporalJoin, s23AsofStream, s24StreamSketch, s25ObserveMetrics,
    s26StreamLshDedup, s27StreamPack, s28StreamAnnMaintain,
    s29CrossmodalAdmission, s30StreamRecallAlert)
}
