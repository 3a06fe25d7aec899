package graft.streaming

import java.nio.file.{Files, Path}
import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, max, min}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

/** Drives a real `StreamingQuery` to completion over a [[StreamSource]] —
  * the deterministic stand-in for the reference's Kafka subscription
  * (`IOTSparkStreaming.scala:43-44`) in this zero-egress env. The transform
  * and sink under test are genuine Structured Streaming (micro-batch
  * execution, checkpointing, watermarks); only the byte transport is
  * simulated, exactly as SURVEY.md §7.1 prescribes. Feed chunks are
  * DataFrames published through [[StreamSource.append]] (distributed for
  * [[FileStreamSource]]) — nothing funnels through the driver.
  */
object StreamHarness {

  /** Every temp/checkpoint dir handed out is deleted on JVM exit, so
    * repeated Verify/Bench runs leave `/tmp` bounded (ADVICE r2).
    *
    * Safety invariant (ADVICE r5): the hook may delete a checkpoint dir out
    * from under a RUNNING query, which would wedge it — but every harness
    * entry point ([[drain]] and the spec helpers) stops its query
    * in a `finally` before returning, so by the time the JVM reaches
    * shutdown hooks no streaming query handed one of these dirs is still
    * active. Callers that start long-lived queries outside the harness must
    * manage their own checkpoint dirs. */
  private val createdDirs = new ConcurrentLinkedQueue[Path]()
  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    createdDirs.forEach { dir =>
      try {
        if (Files.exists(dir)) {
          val s = Files.walk(dir)
          try {
            s.sorted(java.util.Comparator.reverseOrder())
              .iterator().asScala.foreach(Files.deleteIfExists(_))
          } finally s.close()
        }
      } catch { case _: Exception => () } // best-effort; never block shutdown
    }))

  private def tracked(prefix: String): String = {
    val p = Files.createTempDirectory(prefix)
    createdDirs.add(p)
    p.toString
  }

  /** Fresh checkpoint dir per run (Structured Streaming requires one per
    * query; uniqueness keeps Verify/Bench reruns independent). */
  def checkpointDir(tag: String): String = tracked(s"graft-ckpt-$tag-")

  def tempDir(tag: String): String = tracked(s"graft-$tag-")

  /** Split `df` into `n` chunk DataFrames by contiguous ranges of `idCol`
    * ascending — chunk k covers ids in `[lo + k*span/n, lo + (k+1)*span/n)`.
    * The only driver contact is a two-value min/max aggregate (bounds, not
    * data): the rows themselves stay distributed end-to-end, unlike the
    * r3 harness's collected feed. Because the ranges ascend, a feed whose
    * event times are near-monotone in `idCol` keeps the watermark-safety
    * precondition documented at [[graft.queries.StreamingQueries]].
    *
    * Totality (ADVICE r5): chunk bounds are computed in BigInt, so an id
    * span near `Long.MaxValue` cannot wrap negative and drop rows; rows with
    * a NULL `idCol` ride in the LAST chunk (range predicates would silently
    * drop them); and a DataFrame with no non-null ids still yields `n`
    * chunks (n−1 empty + the original), so callers' micro-batch counts —
    * s05's sentinel accounting, the bench's per-batch cost model — hold in
    * the degenerate case too. Every input row lands in exactly one chunk. */
  def rangeChunks(df: DataFrame, idCol: String, n: Int): Seq[DataFrame] = {
    val mm = df.agg(min(col(idCol)).cast("long"), max(col(idCol)).cast("long")).head()
    if (mm.isNullAt(0)) Seq.fill(n - 1)(df.limit(0)) :+ df
    else {
      val lo = BigInt(mm.getLong(0)); val span = BigInt(mm.getLong(1)) - lo + 1
      (0 until n).map { k =>
        val lb = (lo + span * k / n).toLong
        if (k == n - 1) df.filter(col(idCol) >= lb || col(idCol).isNull)
        else df.filter(col(idCol) >= lb &&
          col(idCol) < (lo + span * (k + 1) / n).toLong)
      }
    }
  }

  /** Shuffle-partition count for harness-driven streaming queries. A
    * stateful operator creates one state store per shuffle partition per
    * batch, and each store pays a checkpoint commit every trigger — so the
    * partition count should track STATE SIZE, not CPU count (VERDICT r5:
    * `local[32]`'s default 32 stores × per-batch commits dominated
    * s08/s09/s10 at a few thousand keys). The count is baked into the
    * checkpoint at query start; the harness hands out a fresh checkpoint per
    * run, so overriding per-drain is safe. On a real cluster this is sized
    * as total state / comfortable-store-size, independent of executor count. */
  val StreamShufflePartitions: Int = 4

  /** Run `body` with [[StreamShufflePartitions]] as the session's shuffle
    * partition count, restoring the caller's setting afterwards (batch
    * queries outside the drain keep their cluster-sized parallelism). */
  private def withStreamShuffle[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, StreamShufflePartitions.toString)
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Publish steps that append each chunk to `source`, one per micro-batch. */
  def appends(source: StreamSource, chunks: Seq[DataFrame]): Seq[() => Unit] =
    chunks.map(c => () => source.append(c))

  /** Drive one streaming query over `feeds` to completion, then stop it.
    * Each feed is a source and its publish steps: a DataFrame append
    * ([[appends]]) or a staged-file link ([[FileStreamSource.appendStaged]]).
    * `start` receives the sources' raw-line DataFrames (one `value` column
    * each, in feed order) and must start the query. Step k of every feed is
    * published, then the query drains (`processAllAvailable`), so publish
    * boundaries are batch boundaries on every side; a shorter feed simply
    * stops publishing.
    *
    * Returns the [[StreamingQueryProgress]] of EVERY data-carrying trigger,
    * in order. They are collected by a listener rather than read from
    * `recentProgress`, which keeps only the last
    * `spark.sql.streaming.numRecentProgressUpdates` entries and would
    * silently drop the first batches of a long drain. No-data triggers are
    * excluded: they measure idle polling, not the pipeline. */
  def drain(spark: SparkSession, feeds: Seq[(StreamSource, Seq[() => Unit])])(
      start: Seq[DataFrame] => StreamingQuery): Seq[StreamingQueryProgress] =
    withStreamShuffle(spark) {
      val log = new ProgressLog
      spark.streams.addListener(log)
      try {
        val q = start(feeds.map(_._1.open(spark)))
        try (0 until feeds.map(_._2.size).maxOption.getOrElse(0)).foreach { k =>
          feeds.foreach(_._2.lift(k).foreach(_()))
          q.processAllAvailable()
        } finally q.stop()
        log.dataProgress(q)
      } finally spark.streams.removeListener(log)
    }

  /** Single-source [[drain]]. */
  def drain(spark: SparkSession, source: StreamSource, publish: Seq[() => Unit])(
      start: DataFrame => StreamingQuery): Seq[StreamingQueryProgress] =
    drain(spark, Seq(source -> publish))(in => start(in.head))

  /** Every progress event the session's queries post while it is attached. */
  private final class ProgressLog extends StreamingQueryListener {
    private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    private val terminated = scala.collection.mutable.Set.empty[UUID] // guarded by itself

    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = progress.add(e.progress)
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      terminated.synchronized { terminated.add(e.runId); terminated.notifyAll() }

    /** The data-carrying progress of `q`'s run, once `q` has stopped. The
      * listener bus delivers a query's events in order, so after its
      * termination event arrives none of its progress is still in flight. */
    def dataProgress(q: StreamingQuery): Seq[StreamingQueryProgress] = {
      val deadline = System.nanoTime() + 60L * 1000000000L
      terminated.synchronized {
        while (!terminated.contains(q.runId)) {
          val left = (deadline - System.nanoTime()) / 1000000L
          require(left > 0, s"query ${q.name}: termination event not delivered within 60 s")
          terminated.wait(left)
        }
      }
      progress.asScala.filter(p => p.runId == q.runId && p.numInputRows > 0).toSeq
    }
  }
}
