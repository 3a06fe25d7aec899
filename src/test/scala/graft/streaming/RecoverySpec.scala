package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import StreamPipelines._

/** Streaming-semantics surface (SURVEY.md §2.7): checkpoint recovery across
  * query restarts and the processing-time trigger — the two pieces of the
  * reference's runtime model (`ssc.checkpoint`, `Seconds(1)` batches) not
  * already exercised by the e2e suite. */
class RecoverySpec extends SparkSpec {

  private def memStream = {
    implicit val ctx: org.apache.spark.sql.classic.SQLContext =
      spark.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    implicit val enc: org.apache.spark.sql.Encoder[String] =
      org.apache.spark.sql.Encoders.STRING
    org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String]
  }

  /** Stop a location pipeline after one batch, restart it on the same
    * checkpoint, feed more, and check the register. */
  private def restartResumes(tag: String): Unit = {
    val mem = memStream
    val sink = new UpsertSink(StreamHarness.tempDir(s"$tag-loc"),
      Seq("user_id"), Seq("ver"))
    val ckpt = StreamHarness.checkpointDir(tag)
    def start() = locations(parseFitbit(mem.toDF()))
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: DataFrame, id: Long) => sink.upsert(b, id) }
      .start()

    val q1 = start()
    mem.addData("fitbit,2024-01-01 10:00:00,u1,10,20,70.0,36.6,30,NORMAL,1000")
    q1.processAllAvailable()
    q1.stop()
    val afterFirst = sink.snapshot(spark).get.collect()
    assert(afterFirst.map(_.getAs[String]("lat")).toSeq == Seq("10"))

    // Restart the SAME pipeline from the SAME checkpoint; feed more data.
    val q2 = start()
    mem.addData(
      "fitbit,2024-01-01 10:00:05,u1,11,21,70.0,36.6,30,NORMAL,1005",
      "fitbit,2024-01-01 10:00:06,u2,12,22,70.0,36.6,30,NORMAL,1006")
    q2.processAllAvailable()
    q2.stop()

    val got = sink.snapshot(spark).get.orderBy("user_id")
      .collect().map(r => (r.getAs[String]("user_id"), r.getAs[String]("lat"))).toSeq
    assert(got == Seq(("u1", "11"), ("u2", "12")))
  }

  private val ManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  test("restart from checkpoint resumes offsets; registers stay correct") {
    // Spark's default FileContext manager, whatever an earlier suite set.
    withConf(ManagerKey, None)(restartResumes("recover"))
  }

  test("restart resumes under the FileSystem checkpoint manager the Orchestrator sets") {
    withConf(ManagerKey, Some(classOf[FileSystemBasedCheckpointFileManager].getName)) {
      restartResumes("recover-fs")
    }
  }

  test("topic sink: a replayed epoch (lost commit log) writes no duplicate parts") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val mem = memStream
    val topic = StreamHarness.tempDir("recover-topic")
    val ckpt = StreamHarness.checkpointDir("recover-topic")
    def start() = parseFitbit(mem.toDF())
      .select(renderTuple(col("user_id"), col("bp_cat")).as("payload"))
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreach(new FileTopicWriter(topic))
      .outputMode("append").start()

    val q1 = start()
    mem.addData("fitbit,2024-01-01 10:00:00,u1,1,2,70.0,36.6,30,HYP_1,1")
    q1.processAllAvailable()
    q1.stop()

    def lines() = spark.read.text(topic).orderBy("value")
      .collect().map(_.getString(0)).toSeq
    assert(lines() == Seq("(u1,HYP_1)"))

    // Simulate a crash between the offset-log write and the commit-log
    // write: on restart Spark REPLAYS epoch 0 into the foreach sink. The
    // writer must decline the already-committed part instead of doubling it.
    Files.delete(Paths.get(ckpt, "commits", "0"))
    Files.deleteIfExists(Paths.get(ckpt, "commits", ".0.crc")) // hadoop local-FS sidecar
    val q2 = start()
    mem.addData("fitbit,2024-01-01 10:00:01,u2,3,4,70.0,36.6,30,HYP_2,2")
    q2.processAllAvailable()
    q2.stop()

    assert(lines() == Seq("(u1,HYP_1)", "(u2,HYP_2)")) // each payload exactly once
    val parts = {
      val s = Files.list(Paths.get(topic))
      try s.iterator().asScala.map(_.getFileName.toString).toSeq.sorted
      finally s.close()
    }
    assert(parts.forall(_.startsWith("part-")) && parts.distinct == parts, parts.toString)
  }

  test("file-stream source: raw lines from a directory drive the same pipeline") {
    import java.nio.file.{Files, Paths}
    val srcDir = StreamHarness.tempDir("filesrc")
    Files.writeString(Paths.get(srcDir, "batch1.txt"),
      "fitbit,2024-01-01 10:00:00,u1,1,2,250.0,36.6,30,HYP_1,1\n" +
        "sales,2024-01-01,42\n")
    Files.writeString(Paths.get(srcDir, "batch2.txt"),
      "fitbit,2024-01-01 10:00:05,u2,3,4,250.0,36.6,30,HYP_2,2\n")
    val qn = "file_src_sink"
    val raw = spark.readStream.option("maxFilesPerTrigger", 1).text(srcDir)
    val q = warningAlerts(parseFitbit(raw),
      criticalCats = graft.functions.HealthFunctions.CriticalBpCats)
      .select("user_id", "warning")
      .writeStream.format("memory").queryName(qn)
      .option("checkpointLocation", StreamHarness.checkpointDir("filesrc"))
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table(qn).orderBy("user_id")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got == Seq(("u1", "critical"), ("u2", "critical")))
  }

  test("processing-time trigger drains the pipeline (reference's 1s micro-batch model)") {
    val mem = memStream
    val qn = "trigger_sink"
    val q = warningAlerts(parseFitbit(mem.toDF()),
      criticalCats = graft.functions.HealthFunctions.CriticalBpCats)
      .select("user_id", "warning")
      .writeStream.format("memory").queryName(qn)
      .option("checkpointLocation", StreamHarness.checkpointDir("trigger"))
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .outputMode("append").start()
    try {
      mem.addData("fitbit,2024-01-01 10:00:00,u1,1,2,250.0,36.6,30,HYP_1,1")
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table(qn).collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got == Seq(("u1", "critical")))
  }
}
