package graft.streaming

import java.util.concurrent.TimeUnit

import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import StreamPipelines._

/** The full multi-pipeline fan-out (the reference driver's shape,
  * `IOTSparkStreaming.scala:20-87`): one multiplexed feed, five sinks plus
  * the flag-gated mapData branch, drained together and asserted per-sink. */
class OrchestratorSpec extends SparkSpec {

  private val feed = Seq(
    // fitbit: u1 critical alert + later location update; u2 quiet
    "fitbit,2024-01-01 10:00:00,u1,10,20,250.0,36.6,30,error,1000",
    "fitbit,2024-01-01 10:00:05,u1,11,21,70.0,36.6,30,click,1005",
    "fitbit,2024-01-01 10:00:02,u2,12,22,60.0,36.5,40,view,1002",
    // profile v1 then v2 (bmi is the version)
    "new-user-notification,30,M,athlete,80.5,1.7,1.0,15.2,NORMAL,120.0,80.0,u1,d1",
    "new-user-notification,30,M,athlete,82.5,1.7,2.0,15.2,NORMAL,120.0,80.0,u1,d1",
    // sales
    "sales,2024-01-01,42",
    "sales,2024-01-01,57",
    "sales,2024-01-02,7",
    // garbage must not kill any pipeline
    "fitbit,oops",
    "unknown-topic,1,2,3")

  /** A raw-line feed the test pushes chunks into. */
  private def memoryFeed(): MemoryStream[String] = {
    implicit val ctx: org.apache.spark.sql.classic.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    implicit val enc: org.apache.spark.sql.Encoder[String] =
      org.apache.spark.sql.Encoders.STRING
    MemoryStream[String]
  }

  test("orchestrator fans one feed into all sinks; each sink sees its slice") {
    val loc = new UpsertSink(StreamHarness.tempDir("orch-loc"),
      Seq("user_id"), Seq("ver"))
    val prof = new UpsertSink(StreamHarness.tempDir("orch-prof"),
      Seq("user_id"), Seq("ver"))
    val sales = new UpsertSink(StreamHarness.tempDir("orch-sales"),
      Seq("date"), Seq("count"))
    val historyPath = StreamHarness.tempDir("orch-hist")
    val orch = new Orchestrator(loc, prof, sales, historyPath,
      StreamHarness.checkpointDir("orch"), mapDataEnabled = true)

    val mem = memoryFeed()
    val queries = orch.startAll(mem.toDF())
    try {
      feed.grouped(4).foreach { chunk =>
        mem.addData(chunk)
        queries.foreach(_.processAllAvailable())
      }
    } finally queries.foreach(_.stop())

    // K5-analog alert sink: only the critical u1 row
    val alerts = spark.table(orch.alertsTable)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(alerts == Seq(("u1", "critical")))

    // K3 location register: latest per user by machine_ts version
    val locGot = loc.snapshot(spark).get.orderBy("user_id")
      .select("user_id", "lat", "long")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(locGot == Seq(("u1", "11", "21"), ("u2", "12", "22")))

    // K1 profile register: v2 (bmi 2.0) wins
    val profGot = prof.snapshot(spark).get
      .select("user_id", "weight", "bmi")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSeq
    assert(profGot == Seq(("u1", 82.5, 2.0)))

    // K2 sales register: max count per date
    val salesGot = sales.snapshot(spark).get.orderBy("date")
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(salesGot == Seq(("2024-01-01", 57), ("2024-01-02", 7)))

    // K4 history append: one row per parseable fitbit record, corrupt dropped
    val hist = spark.read.parquet(historyPath)
    assert(hist.count() == 3 && hist.filter(col("user_id").isNull).count() == 0)

    // flag-gated mapData branch rendered exact tuples, corrupt dropped
    val mapd = spark.table(orch.mapDataTable)
      .collect().map(_.getString(0)).toSeq.sorted
    assert(mapd.head == "(u1,10,20,250,36.6)")
    assert(mapd.size == 3)
  }

  test("mapData branch stays off by default (reference comments it out)") {
    val loc = new UpsertSink(StreamHarness.tempDir("orch2-loc"),
      Seq("user_id"), Seq("ver"))
    val prof = new UpsertSink(StreamHarness.tempDir("orch2-prof"),
      Seq("user_id"), Seq("ver"))
    val sales = new UpsertSink(StreamHarness.tempDir("orch2-sales"),
      Seq("date"), Seq("count"))
    val orch = new Orchestrator(loc, prof, sales,
      StreamHarness.tempDir("orch2-hist"), StreamHarness.checkpointDir("orch2"))
    val queries = orch.startAll(memoryFeed().toDF())
    try assert(queries.size == 5)
    finally queries.foreach(_.stop())
  }

  test("every query startAll returns, mapData included, runs the 100 ms processing-time trigger") {
    val orch = new Orchestrator(
      new UpsertSink(StreamHarness.tempDir("orch3-loc"), Seq("user_id"), Seq("ver")),
      new UpsertSink(StreamHarness.tempDir("orch3-prof"), Seq("user_id"), Seq("ver")),
      new UpsertSink(StreamHarness.tempDir("orch3-sales"), Seq("date"), Seq("count")),
      StreamHarness.tempDir("orch3-hist"), StreamHarness.checkpointDir("orch3"),
      mapDataEnabled = true)
    val queries = orch.startAll(memoryFeed().toDF())
    try {
      assert(Orchestrator.BatchTrigger == Trigger.ProcessingTime(100, TimeUnit.MILLISECONDS))
      assert(queries.size == 6)
      queries.foreach { q =>
        val trigger = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.trigger
        assert(trigger == Orchestrator.BatchTrigger, s"query ${q.id}")
      }
    } finally queries.foreach(_.stop())
  }

  test("K6 console/debug sink runs against the stream (reference cassTest.scala:32)") {
    val lines = Seq("fitbit,2024-01-01 10:00:00,u1,1,2,70.0,36.6,30,NORMAL,1")
    TestFeeds.drainLines(spark, lines, 1) { raw =>
      parseFitbit(raw).select("user_id", "pulse")
        .writeStream.format("console")
        .option("checkpointLocation", StreamHarness.checkpointDir("console"))
        .outputMode("append").start()
    }
    succeed // the assertion is that the sink starts and drains without error
  }
}
