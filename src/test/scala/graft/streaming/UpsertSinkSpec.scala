package graft.streaming

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** K1–K3 upsert-register semantics: last-write-wins by version, replay
  * safety, batch-boundary independence (SURVEY.md §7.4.1). */
class UpsertSinkSpec extends SparkSpec {

  private def newSink(): UpsertSink =
    new UpsertSink(Files.createTempDirectory("upsert-spec-").toString,
      Seq("k"), Seq("ver"))

  /** Spark jobs `body` starts on this thread. Its jobs carry a local
    * property; a marker job run after it, once its start reaches the
    * listener, shows that every earlier job start has been delivered by
    * the asynchronous listener bus. */
  private def jobsStartedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = "graft.spec.jobs"
    val started = new AtomicInteger
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(tag)) match {
          case Some("body")   => started.incrementAndGet()
          case Some("marker") => marker.countDown()
          case _              =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, "body")
      try body finally sc.setLocalProperty(tag, "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(marker.await(60, TimeUnit.SECONDS), "the marker job's start never arrived")
      started.get
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
  }

  test("upsert keeps the max-version row per key across batches") {
    import spark.implicits._
    val sink = newSink()
    sink.upsert(Seq(("u1", "a", 1L), ("u2", "b", 1L)).toDF("k", "v", "ver"), 0)
    sink.upsert(Seq(("u1", "c", 2L), ("u3", "d", 1L)).toDF("k", "v", "ver"), 1)
    val got = sink.snapshot(spark).get.orderBy("k")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq(("u1", "c", 2L), ("u2", "b", 1L), ("u3", "d", 1L)))
  }

  test("an older version arriving later does NOT overwrite (version, not arrival, wins)") {
    import spark.implicits._
    val sink = newSink()
    sink.upsert(Seq(("u1", "new", 9L)).toDF("k", "v", "ver"), 0)
    sink.upsert(Seq(("u1", "stale", 3L)).toDF("k", "v", "ver"), 1)
    val got = sink.snapshot(spark).get.collect().map(_.getString(1)).toSeq
    assert(got == Seq("new"))
  }

  test("replaying an applied batchId is a no-op (idempotent recovery)") {
    import spark.implicits._
    val sink = newSink()
    sink.upsert(Seq(("u1", "a", 1L)).toDF("k", "v", "ver"), 0)
    val before = sink.snapshot(spark).get.collect().toSeq
    // Replay with DIFFERENT (bogus) content under the same id: marker wins.
    sink.upsert(Seq(("u1", "bogus", 99L)).toDF("k", "v", "ver"), 0)
    val after = sink.snapshot(spark).get.collect().toSeq
    assert(before == after)
    assert(sink.alreadyApplied(0))
  }

  test("crash between pointer swap and marker write recovers without rereading its own output") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("upsert-wedge-")
    val sink = new UpsertSink(dir.toString, Seq("k"), Seq("ver"))
    sink.upsert(Seq(("u1", "a", 1L)).toDF("k", "v", "ver"), 0)
    // Simulate the crash window: batch 0's snapshot is live but its marker
    // never landed. A replay must NOT merge (it would overwrite the very
    // directory it reads); it just completes the interrupted commit.
    java.nio.file.Files.delete(dir.resolve("_batch_0"))
    assert(!sink.alreadyApplied(0))
    sink.upsert(Seq(("u1", "bogus-replay", 99L)).toDF("k", "v", "ver"), 0)
    assert(sink.alreadyApplied(0))
    assert(sink.snapshot(spark).get.collect().map(_.getString(1)).toSeq == Seq("a"))
  }

  test("result is independent of how rows are split into batches") {
    import spark.implicits._
    val rows = (1 to 40).map(i => (s"u${i % 7}", s"v$i", i.toLong))
    val one = newSink()
    one.upsert(rows.toDF("k", "v", "ver"), 0)
    val many = newSink()
    rows.grouped(9).zipWithIndex.foreach { case (chunk, id) =>
      many.upsert(chunk.toDF("k", "v", "ver"), id.toLong)
    }
    val a = one.snapshot(spark).get.orderBy("k").collect().toSeq
    val b = many.snapshot(spark).get.orderBy("k").collect().toSeq
    assert(a == b)
  }

  test("every version but the live one is garbage-collected") {
    import spark.implicits._
    val dir = Files.createTempDirectory("upsert-gc-")
    val sink = new UpsertSink(dir.toString, Seq("k"), Seq("ver"))
    // A stray version, as a crash between a pointer swap and its GC leaves.
    Files.createDirectories(dir.resolve("v99"))
    (0 to 4).foreach { i =>
      sink.upsert(Seq((s"u$i", "x", i.toLong)).toDF("k", "v", "ver"), i.toLong)
      val versions = dir.toFile.listFiles().map(_.getName).filter(_.startsWith("v")).toSeq
      assert(versions == Seq(s"v$i"), versions.mkString(","))
      assert(Files.readString(dir.resolve("_latest")) == s"v$i")
    }
    assert(sink.snapshot(spark).get.count() == 5)
  }

  test("within-batch duplicates on the key dedupe to the max version") {
    import spark.implicits._
    val sink = newSink()
    sink.upsert(Seq(("u1", "x", 1L), ("u1", "y", 5L), ("u1", "z", 3L))
      .toDF("k", "v", "ver"), 0)
    assert(sink.snapshot(spark).get.collect().map(_.getString(1)).toSeq == Seq("y"))
  }

  test("an upsert into a populated register runs one job and writes one part file") {
    import spark.implicits._
    val dir = Files.createTempDirectory("upsert-jobs-")
    val sink = new UpsertSink(dir.toString, Seq("k"), Seq("ver"))
    val keys = 1 to 200
    sink.upsert(keys.map(i => (s"u$i", "a", 1L)).toDF("k", "v", "ver"), 0)
    // Even keys carry a newer version, odd keys an older one.
    val batch = keys.map(i => (s"u$i", "b", if (i % 2 == 0) 2L else 0L)).toDF("k", "v", "ver")
    assert(jobsStartedBy(sink.upsert(batch, 1)) == 1)
    val live = dir.resolve(Files.readString(dir.resolve("_latest")))
    val parts = live.toFile.list().filter(_.startsWith("part-"))
    assert(parts.length == 1, parts.mkString(","))
    val got = sink.snapshot(spark).get.collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(got == keys.map(i => s"u$i" -> (if (i % 2 == 0) ("b", 2L) else ("a", 1L))).toMap)
  }

  test("a merge input above the broadcast threshold keeps the shuffle: two jobs") {
    import spark.implicits._
    val sink = newSink()
    val keys = 1 to 200
    sink.upsert(keys.map(i => (s"u$i", "a", 1L)).toDF("k", "v", "ver"), 0)
    val batch = keys.map(i => (s"u$i", "b", if (i % 2 == 0) 2L else 0L)).toDF("k", "v", "ver")
    withConf("spark.sql.autoBroadcastJoinThreshold", Some("-1")) {
      assert(jobsStartedBy(sink.upsert(batch, 1)) == 2)
    }
    val got = sink.snapshot(spark).get.collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(got == keys.map(i => s"u$i" -> (if (i % 2 == 0) ("b", 2L) else ("a", 1L))).toMap)
  }

  test("an empty batch leaves the rows unchanged and is marked applied") {
    import spark.implicits._
    val sink = newSink()
    sink.upsert(Seq(("u1", "a", 1L), ("u2", "b", 2L)).toDF("k", "v", "ver"), 0)
    val before = sink.snapshot(spark).get.orderBy("k").collect().toSeq
    sink.upsert(Seq.empty[(String, String, Long)].toDF("k", "v", "ver"), 1)
    assert(sink.alreadyApplied(1))
    assert(sink.snapshot(spark).get.orderBy("k").collect().toSeq == before)
  }

  test("a reopened register upserts and snapshots like one long-lived instance") {
    import spark.implicits._
    // Four batches over 23 keys; versions are unique, values include nulls.
    val batches = (0 until 4).map { b =>
      (1 to 30).map { i =>
        val n = b * 30 + i
        (s"u${n * 7 % 23}", if (n % 5 == 0) None else Some(s"v$n"), n.toLong)
      }.toDF("k", "v", "ver")
    }
    val longLived = newSink()
    batches.zipWithIndex.foreach { case (df, id) => longLived.upsert(df, id.toLong) }
    // The recovery path: a new instance on a populated register does not
    // yet know the written schema. One instance takes batches 0-1, a second
    // reopens for 2-3, and a third only reads the snapshot.
    val dir = Files.createTempDirectory("upsert-reopen-").toString
    def open() = new UpsertSink(dir, Seq("k"), Seq("ver"))
    val first = open()
    batches.zipWithIndex.take(2).foreach { case (df, id) => first.upsert(df, id.toLong) }
    val second = open()
    batches.zipWithIndex.drop(2).foreach { case (df, id) => second.upsert(df, id.toLong) }
    val want = longLived.snapshot(spark).get
    Seq(second, open()).foreach { s =>
      val got = s.snapshot(spark).get
      assert(got.schema == want.schema)
      assert(got.orderBy("k").collect().toSeq == want.orderBy("k").collect().toSeq)
    }
  }
}
