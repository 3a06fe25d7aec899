package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.streaming._

/** The system-under-test side of the benchmark: one JVM, one Spark session
  * configured like `graft.Bench`'s, driving `Orchestrator.startAll` over a
  * `FileStreamSource` into three `UpsertSink` registers, a parquet history
  * and the in-memory alert table.
  *
  * It times only from outside the program: set-up durations, the measured
  * phase's process CPU and peak RSS. Everything the run produces
  * (checkpoints, sink registers, alert and history rows) stays on disk in
  * the run directory, where `run.py` derives latency from the checkpoints
  * and checks the sinks against DuckDB. With `trace=1` it also records, in
  * memory, Spark's streaming progress, per-upsert spans (a [[TracedSink]]
  * around each register) and per-job task metrics, and writes them at exit.
  *
  * Arguments are `key=value`: `run` (run directory), `mode`
  * (`steady` | `catchup`), `cores`, `trace` (0/1; a traced run ends with
  * the single-threaded [[baseline]]), `setups` (set-up repetitions),
  * `maxFiles` (admission per trigger, 0 = no cap), `seconds` (catch-up
  * measuring time), `master` and `conf.<key>` (the session configuration
  * of perfbench/spec.json; `<nproc>` in a value stands for the session's
  * core count).
  */
object Harness {

  private val Pipelines = Seq("alerts", "location", "history", "profiles", "sales")

  def main(args: Array[String]): Unit = {
    val a = args.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val run = Paths.get(a("run")).toAbsolutePath
    val cores = a("cores").toInt
    val trace = a("trace") == "1"
    val setups = a("setups").toInt
    val maxFiles = Some(a("maxFiles").toInt).filter(_ > 0)
    val conf = Conf(a("master"), a.collect { case (k, v) if k.startsWith("conf.") => k.drop(5) -> v })
    val out = new Json
    a("mode") match {
      case "steady"  => steady(run, conf, cores, trace, setups, out)
      case "catchup" => catchup(run, conf, cores, trace, setups, maxFiles, a("seconds").toDouble, out)
      case m         => throw new IllegalArgumentException(s"unknown mode $m")
    }
    out.num("peak_rss_mb", peakRssMb)
    if (trace) baseline(run, conf, cores, maxFiles, if (a("mode") == "steady") "main" else "burst0", out)
    Files.writeString(run.resolve("harness.json"), out.render)
  }

  /** The session configuration of perfbench/spec.json. */
  final case class Conf(master: String, settings: Map[String, String])

  /** The configured session at `cores`, with Spark's local and warehouse
    * directories inside the run directory. */
  def session(conf: Conf, cores: Int, run: Path): SparkSession = {
    def at(v: String) = v.replace("<nproc>", cores.toString)
    val b = SparkSession.builder().master(at(conf.master))
      .config("spark.local.dir", run.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", run.resolve("warehouse").toString)
    conf.settings.foreach { case (k, v) => b.config(k, at(v)) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Render the generator's rows (`inputs.parquet`) into wire lines with
    * the program's layouts, one text file per chunk under
    * `stage/<part>/<file>`: fitbit rows by [[Wire.fitbitLine]], and
    * new-user-notification and sales rows as the generator's `nu_*` and
    * `sales_*` columns in the field order of [[Wire.NewUserSchema]] and
    * [[Wire.SalesSchema]]. */
  def render(spark: SparkSession, run: Path): Unit = {
    def fields(prefix: String, schema: StructType) =
      schema.fieldNames.filterNot(Set("rtype", "_corrupt")).map(f => col(prefix + f).cast("string"))
    val line = when(col("tag") === "fitbit", Wire.fitbitLine)
      .when(col("tag") === "new-user-notification",
        concat_ws(",", lit("new-user-notification") +: fields("nu_", Wire.NewUserSchema): _*))
      .otherwise(concat_ws(",", lit("sales") +: fields("sales_", Wire.SalesSchema): _*))
    val rows = spark.read.parquet(run.resolve("inputs.parquet").toString)
      .withColumn("ts", timestamp_millis(col("ts_ms")))
      .select(col("part"), col("file"), col("event_id"), line.as("line"))
      .collect()
    rows.groupBy(r => (r.getString(0), r.getString(1))).foreach { case ((part, file), rs) =>
      val dir = Files.createDirectories(run.resolve("stage").resolve(part))
      Files.write(dir.resolve(file), rs.sortBy(_.getLong(2)).map(_.getString(3)).toSeq.asJava)
    }
  }

  /** One Orchestrator over its own watched directory, registers, history
    * and checkpoints, all under `dir`. */
  final class Pipeline(val dir: Path, maxFiles: Option[Int], tracer: Option[Tracer]) {
    val watch: Path = dir.resolve("watch")
    private def sink(name: String, key: String, order: String): TableSink = {
      val s = new UpsertSink(dir.resolve(name).toString, Seq(key), Seq(order))
      tracer.fold[TableSink](s)(t => new TracedSink(name, s, t))
    }
    val location: TableSink = sink("location", "user_id", "ver")
    val profiles: TableSink = sink("profiles", "user_id", "ver")
    val sales: TableSink = sink("sales", "date", "count")
    val source = new FileStreamSource(watch.toString, maxFiles)
    val orch = new Orchestrator(location, profiles, sales,
      dir.resolve("history").toString, dir.resolve("ckpt").toString)
    var queries: Seq[StreamingQuery] = Nil

    def start(spark: SparkSession): Unit = queries = orch.startAll(spark, source)
    def drain(): Unit = queries.foreach(_.processAllAvailable())
    def stop(): Unit = queries.foreach(_.stop())

    /** Write every sink's final state as parquet for the oracle. */
    def dump(spark: SparkSession): Unit = {
      val o = dir.resolve("out")
      Seq("location" -> location, "profiles" -> profiles, "sales" -> sales).foreach {
        case (n, s) => s.snapshot(spark).foreach(_.write.parquet(o.resolve(n).toString))
      }
      spark.table(orch.alertsTable).write.parquet(o.resolve("alerts").toString)
    }

    def describe(out: Json): Unit = {
      out.str("dir", dir.toString)
      out.arr("queries", Pipelines.zip(queries).map { case (n, q) =>
        val j = new Json
        j.str("name", n); j.str("id", q.id.toString); j.str("runId", q.runId.toString)
        j.render
      })
    }
  }

  /** Link every staged chunk file into the watched directory. */
  def publish(stage: Path, watch: Path): Unit = {
    Files.createDirectories(watch)
    list(stage).foreach(f => Files.createLink(watch.resolve(f.getFileName), f))
  }

  private def list(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq.sortBy(_.toString)
    finally s.close()
  }

  /** Start a fresh pipeline and drain the warm-up chunks through it one at
    * a time, one trigger each: the repeated unit of set-up. Returns the
    * pipeline and its duration. */
  private def warmStart(spark: SparkSession, run: Path, name: String,
                        maxFiles: Option[Int], tracer: Option[Tracer]): (Pipeline, Double) = {
    val t0 = System.nanoTime()
    val p = new Pipeline(run.resolve(name), maxFiles, tracer)
    Files.createDirectories(p.watch)
    p.start(spark)
    list(run.resolve("stage/warm")).foreach { f =>
      Files.createLink(p.watch.resolve(f.getFileName), f)
      p.drain()
    }
    (p, (System.nanoTime() - t0) / 1e9)
  }

  /** Start the session and stage the chunks; reports both durations. */
  private def sessionStart(conf: Conf, cores: Int, run: Path, out: Json): SparkSession = {
    val spark = session(conf, cores, run)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    out.num("session_s", (System.currentTimeMillis() - jvmStart) / 1e3)
    val t0 = System.nanoTime()
    render(spark, run)
    out.num("render_s", (System.nanoTime() - t0) / 1e9)
    Files.writeString(run.resolve("fragments.json"), fragments.render)
    spark
  }

  /** Repeat the set-up `setups` times and keep the last pipeline running:
    * each set-up starts a fresh Orchestrator on the warm-up chunks and
    * drains them. */
  private def setUp(spark: SparkSession, run: Path, setups: Int, maxFiles: Option[Int],
                    tracer: Option[Tracer], out: Json): Pipeline = {
    val warm = (0 until setups).map { k =>
      val (p, s) = warmStart(spark, run, s"setup$k", maxFiles, tracer)
      if (k < setups - 1) p.stop()
      p -> s
    }
    out.arr("setup_samples_s", warm.map(w => Json.num(w._2)))
    warm.last._1
  }

  /** Open loop: the generator process publishes `stage/main` into the
    * watched directory once `ready` appears, and creates `stop` when done. */
  private def steady(run: Path, conf: Conf, cores: Int, trace: Boolean, setups: Int,
                     out: Json): Unit = {
    val spark = sessionStart(conf, cores, run, out)
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val p = setUp(spark, run, setups, None, tracer, out)
    tracer.foreach(_.start())
    val cpu0 = cpuSeconds
    Files.writeString(run.resolve("ready"), p.watch.toString)
    val stop = run.resolve("stop")
    while (!Files.exists(stop)) {
      p.queries.foreach(q => q.exception.foreach(e => throw e))
      Thread.sleep(20)
    }
    p.drain()
    out.num("process_cpu_s", cpuSeconds - cpu0)
    finish(spark, run, p, tracer, "main", out)
  }

  /** Catch-up: fill the registers from `stage/prefill`, then publish the
    * bursts `stage/burst<k>` one at a time, each once the previous one is
    * drained, until `seconds` have passed (at least three bursts). */
  private def catchup(run: Path, conf: Conf, cores: Int, trace: Boolean, setups: Int,
                      maxFiles: Option[Int], seconds: Double, out: Json): Unit = {
    val spark = sessionStart(conf, cores, run, out)
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val p = setUp(spark, run, setups, maxFiles, tracer, out)
    val f0 = System.nanoTime()
    publish(run.resolve("stage/prefill"), p.watch)
    p.drain()
    out.num("prefill_s", (System.nanoTime() - f0) / 1e9)
    tracer.foreach(_.start())
    val cpu0 = cpuSeconds
    val t0 = System.nanoTime()
    var bursts = Vector.empty[String]
    def next = run.resolve(s"stage/burst${bursts.size}")
    while ((bursts.size < 3 || (System.nanoTime() - t0) / 1e9 < seconds) && Files.isDirectory(next)) {
      val start = System.currentTimeMillis()
      val l0 = System.nanoTime()
      publish(next, p.watch)
      val linkMs = (System.nanoTime() - l0) / 1e6
      p.drain()
      val j = new Json
      j.num("start_ms", start.toDouble); j.num("publish_ms", linkMs)
      bursts :+= j.render
    }
    out.num("process_cpu_s", cpuSeconds - cpu0)
    out.arr("bursts", bursts)
    finish(spark, run, p, tracer, "burst0", out)
  }

  private def finish(spark: SparkSession, run: Path, p: Pipeline, tracer: Option[Tracer],
                     part: String, out: Json): Unit = {
    p.describe(out)
    p.stop()
    tracer.foreach { t => t.write(run, out); t.pipelines(spark, run.resolve(s"stage/$part"), out) }
    p.dump(spark)
    spark.stop()
  }

  /** The single-threaded baseline: start a pipeline on `stage/prefill`
    * (or `stage/warm` when the workload has no prefill) and drain it, then
    * time the drain of `stage/<backlog>` as one backlog; at `cores`, then at
    * one core. */
  private def baseline(run: Path, conf: Conf, cores: Int, maxFiles: Option[Int], backlog: String,
                       out: Json): Unit =
    Seq(cores, 1).foreach { c =>
      val spark = session(conf, c, run)
      val p = new Pipeline(run.resolve(s"base$c"), maxFiles, None)
      val first = Seq("prefill", "warm").map(n => run.resolve(s"stage/$n")).find(Files.isDirectory(_)).get
      publish(first, p.watch)
      p.start(spark)
      p.drain()
      val t0 = System.nanoTime()
      publish(run.resolve(s"stage/$backlog"), p.watch)
      p.drain()
      out.num(s"drain_s_$c", (System.nanoTime() - t0) / 1e9)
      p.stop()
      spark.stop()
    }

  /** The program's own oracle fragments, so the DuckDB check derives the
    * alert, location and history rows exactly as the registry's oracles do. */
  private def fragments: Json = {
    val j = new Json
    j.str("WarningSql", StreamPipelines.WarningSql)
    j.str("LatSql", StreamPipelines.LatSql)
    j.str("LongSql", StreamPipelines.LongSql)
    j.str("TsStrSql", StreamPipelines.TsStrSql)
    j
  }

  private def cpuSeconds: Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}

/** Times each `upsert` of the wrapped register and tags the Spark jobs it
  * runs, so the listener can attribute their task metrics and job spans. */
final class TracedSink(name: String, inner: TableSink, tracer: Tracer) extends TableSink {
  override def upsert(batch: DataFrame, batchId: Long): Unit = {
    val sc = batch.sparkSession.sparkContext
    // A micro-batch's jobs carry its query's run id as their job group.
    val run = sc.getLocalProperty("spark.jobGroup.id")
    val id = s"sink.$name#$run#$batchId"
    sc.setLocalProperty(Tracer.SpanProperty, id)
    val t0 = Tracer.nowUs
    try inner.upsert(batch, batchId)
    finally {
      // The register is written by the Orchestrator query of the same name.
      tracer.span(s"sink.$name.upsert", id, s"orch.$name#$run#$batchId", t0, Tracer.nowUs)
      sc.setLocalProperty(Tracer.SpanProperty, null)
    }
  }
  override def snapshot(spark: SparkSession): Option[DataFrame] = inner.snapshot(spark)
}

object Tracer {
  val SpanProperty = "perfbench.span"
  private val epochUs = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def nowUs: Long = epochUs + (System.nanoTime() - nano0) / 1000L
}

/** In-memory trace buffers: spans, streaming progress, and per-job task
  * metrics, kept from [[start]] on (set-up pipelines are stopped by then,
  * or, in the open loop, are the measured pipeline itself). */
final class Tracer(spark: SparkSession) {
  private val spans = new ConcurrentLinkedQueue[String]()
  private val progress = new ConcurrentLinkedQueue[String]()
  @volatile private var on = false
  // Stage -> span and job -> (span, start ms) of the jobs started since [[start]];
  // the span is "" for a job outside any traced upsert.
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
  private val totals = new java.util.concurrent.ConcurrentHashMap[String, Array[Double]]()
  private val Keys = Seq("executor_cpu_s", "gc_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "tasks", "records_written", "bytes_written")

  def start(): Unit = on = true

  def span(name: String, id: String, parent: String, startUs: Long, endUs: Long): Unit =
    if (on) {
      val j = new Json
      j.str("name", name); j.str("id", id); j.str("parent", parent)
      j.num("start_us", startUs.toDouble); j.num("end_us", endUs.toDouble)
      spans.add(j.render)
    }

  private def add(key: String, v: Array[Double]): Unit =
    totals.compute(key, (_, old) => if (old == null) v.clone() else old.zip(v).map(p => p._1 + p._2))

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (on) progress.add(e.progress.json)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  })

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (on) {
        val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
          .getOrElse("")
        e.stageIds.foreach(s => stageSpan.put(s, span))
        jobSpan.put(e.jobId, span -> e.time)
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.remove(e.jobId)).foreach { case (span, start) =>
        if (span.nonEmpty) Tracer.this.span("spark.job", s"job${e.jobId}", span, start * 1000, e.time * 1000)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { span =>
        Option(e.taskMetrics).foreach { m =>
          val v = Array(m.executorCpuTime / 1e9, m.jvmGCTime / 1e3,
            (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead).toDouble,
            m.shuffleWriteMetrics.bytesWritten.toDouble,
            (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble, 1.0,
            m.outputMetrics.recordsWritten.toDouble, m.outputMetrics.bytesWritten.toDouble)
          add("spark", v)
          if (span.nonEmpty) add(span.takeWhile(_ != '#'), v)
        }
      }
  })

  /** Write spans and progress next to the run, and the task-metric totals
    * (whole fenced run, and per traced sink) into `out`. */
  def write(run: Path, out: Json): Unit = {
    Files.write(run.resolve("spans.jsonl"), spans.asScala.toSeq.asJava)
    Files.write(run.resolve("progress.jsonl"), progress.asScala.toSeq.asJava)
    val t = new Json
    totals.asScala.foreach { case (k, v) =>
      val j = new Json
      Keys.zip(v).foreach { case (n, x) => j.num(n, x) }
      t.obj(k, j)
    }
    out.obj("listener", t)
  }

  /** Time the alert pipeline's two stages on the measured lines as a batch
    * DataFrame (median of five reps each), as ns per fitbit event. */
  def pipelines(spark: SparkSession, stage: Path, out: Json): Unit = {
    val raw = spark.read.text(stage.toString).cache()
    val fitbit = StreamPipelines.parseFitbit(raw).cache()
    val events = fitbit.count().toDouble
    def time(df: => DataFrame): Double = {
      val xs = (0 until 5).map { _ =>
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0).toDouble
      }.sorted
      xs(2)
    }
    val parse = time(StreamPipelines.parseFitbit(raw))
    val warn = time(StreamPipelines.warningAlerts(fitbit))
    out.num("parse_fitbit_ns_per_event", parse / events)
    out.num("warning_ns_per_event", warn / events)
    fitbit.unpersist(); raw.unpersist()
  }
}

/** A minimal JSON object writer (numbers, strings, arrays, nested objects). */
final class Json {
  private val fields = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
  def num(k: String, v: Double): Unit = fields += k -> Json.num(v)
  def str(k: String, v: String): Unit = fields += k -> Json.quote(v)
  def obj(k: String, v: Json): Unit = fields += k -> v.render
  /** An array of already-rendered values. */
  def arr(k: String, vs: Seq[String]): Unit = fields += k -> vs.mkString("[", ",", "]")
  def render: String = fields.map { case (k, v) => s"${Json.quote(k)}:$v" }.mkString("{", ",", "}")
}

object Json {
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
  def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
