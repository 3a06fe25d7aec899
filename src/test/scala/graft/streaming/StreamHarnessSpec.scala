package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Totality contract of the harness feed primitives (ADVICE r5): every
  * input row lands in exactly one [[StreamHarness.rangeChunks]] chunk —
  * including NULL ids, extreme long ranges whose span overflows Int64, and
  * degenerate inputs — and [[StreamHarness.drain]] restores the caller's
  * shuffle-partition setting and returns every data-carrying progress. */
class StreamHarnessSpec extends SparkSpec {

  import spark.implicits._

  test("rangeChunks partitions rows exactly (disjoint, complete, ordered)") {
    val df = (1L to 100L).toDF("id")
    val chunks = StreamHarness.rangeChunks(df, "id", 4)
    assert(chunks.length == 4)
    val counts = chunks.map(_.count())
    assert(counts.sum == 100, counts.toString)
    assert(counts.forall(_ == 25), counts.toString) // uniform ids split evenly
    // Disjoint: no id occurs in two chunks.
    val union = chunks.reduce(_ union _)
    assert(union.distinct().count() == 100)
  }

  test("rangeChunks routes NULL ids into the last chunk") {
    val df = Seq[Option[Long]](Some(1L), Some(2L), None, Some(9L), None)
      .toDF("id")
    val chunks = StreamHarness.rangeChunks(df, "id", 3)
    assert(chunks.map(_.count()).sum == 5)
    assert(chunks.last.filter(col("id").isNull).count() == 2)
    assert(chunks.init.map(_.filter(col("id").isNull).count()).sum == 0)
  }

  test("rangeChunks survives a span that overflows Int64") {
    val df = Seq(Long.MinValue + 1, -1L, 0L, 1L, Long.MaxValue - 1)
      .toDF("id")
    val chunks = StreamHarness.rangeChunks(df, "id", 2)
    assert(chunks.length == 2)
    assert(chunks.map(_.count()).sum == 5) // no row lost to wrapped bounds
    val union = chunks.reduce(_ union _)
    assert(union.distinct().count() == 5)
  }

  test("rangeChunks keeps the chunk count on empty / all-null input") {
    val empty = Seq.empty[Long].toDF("id")
    assert(StreamHarness.rangeChunks(empty, "id", 3).length == 3)
    val allNull = Seq[Option[Long]](None, None).toDF("id")
    val chunks = StreamHarness.rangeChunks(allNull, "id", 3)
    assert(chunks.length == 3)
    assert(chunks.map(_.count()).sum == 2) // rows ride the last chunk once
  }

  test("drain restores the caller's shuffle-partition setting") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    var inside: String = null
    TestFeeds.drainLines(spark, Seq("fitbit,2024-01-01 10:00:00,u1,1,2,70.0,36.6,30,NORMAL,1"), 1) { raw =>
      inside = spark.conf.get(key)
      raw.writeStream.format("memory")
        .queryName("harness_conf_probe")
        .option("checkpointLocation", StreamHarness.checkpointDir("conf-probe"))
        .outputMode("append").start()
    }
    assert(inside == StreamHarness.StreamShufflePartitions.toString)
    assert(spark.conf.get(key) == before)
  }

  test("drainMeasured reports one positive duration per data micro-batch") {
    val source = new MemoryStreamSource(spark)
    val chunks = Seq(Seq("a", "b"), Seq("c"), Seq("d", "e", "f"))
      .map(_.toDF("value"))
    val durations = StreamHarness.drain(spark, source,
        StreamHarness.appends(source, chunks)) { raw =>
      raw.writeStream.format("memory")
        .queryName("harness_measure_probe")
        .option("checkpointLocation", StreamHarness.checkpointDir("measure"))
        .outputMode("append").start()
    }.map(_.durationMs.get("triggerExecution").longValue())
    // One data batch per chunk (no-data triggers excluded), each with a
    // real (non-negative, bounded) triggerExecution reading.
    assert(durations.length == 3, durations.toString)
    assert(durations.forall(d => d >= 0 && d < 600000), durations.toString)
    assert(spark.table("harness_measure_probe").count() == 6)
  }

  test("drain returns every data progress past the recent-progress window") {
    // recentProgress keeps only the last numRecentProgressUpdates entries;
    // the drain must not lose the first batches of a longer feed.
    val key = "spark.sql.streaming.numRecentProgressUpdates"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "2")
    try {
      val source = new MemoryStreamSource(spark)
      val chunks = Seq(Seq("a"), Seq("b", "c"), Seq("d"), Seq("e", "f", "g"))
        .map(_.toDF("value"))
      val progress = StreamHarness.drain(spark, source,
          StreamHarness.appends(source, chunks)) { raw =>
        raw.writeStream.format("memory")
          .queryName("harness_retention_probe")
          .option("checkpointLocation", StreamHarness.checkpointDir("retention"))
          .outputMode("append").start()
      }
      assert(progress.map(_.numInputRows) == Seq(1L, 2L, 1L, 3L), progress.toString)
      assert(progress.map(_.batchId) == progress.map(_.batchId).sorted)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("latencyProbe measures the s01-shaped pipeline per batch (VERDICT r10 #8)") {
    val dir = "/root/testdata/sf0.001"
    val ms = graft.queries.StreamingQueries.latencyProbe(spark, dir, 3, 50)
    assert(ms.length == 3, ms.toString) // every data batch observed
    assert(ms.forall(d => d >= 0 && d < 600000), ms.toString)
  }
}
