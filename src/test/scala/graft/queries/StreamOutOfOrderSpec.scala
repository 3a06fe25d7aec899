package graft.queries

import java.util.UUID

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.streaming.{FileStreamSource, StreamHarness}
import graft.sources.Tables

/** Pins s26/s27's semantics under an OUT-OF-ORDER feed (VERDICT r11 next
  * #5): the registered queries feed doc_id-ordered chunks, and the r11
  * scaladocs only claimed behavior under that precondition — leaving a real
  * crawl's shuffled arrival undefined. The contract, now documented on both
  * operators and asserted here over a permuted feed driving the IDENTICAL
  * pipelines:
  *
  *  - s26 admission = FIRST-SEEN WINS at micro-batch granularity: a doc is
  *    flagged iff one of its buckets was claimed in an earlier batch, or by
  *    a smaller doc_id within the same batch (a batch is a set).
  *  - s27 packing = ARRIVAL order at micro-batch granularity, doc_id-sorted
  *    within each batch: per-shard offsets accumulate in the order batches
  *    arrive.
  *
  * Both expectations are recomputed independently in plain Scala from the
  * raw tables plus the arrival schedule — no shared code path with the
  * streaming implementations.
  */
class StreamOutOfOrderSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  /** Batch arrival order: chunk 2 first, then 0, then 1 — every cross-batch
    * direction (later-ids-first, earlier-ids-later) is exercised. */
  private val perm = Seq(2, 0, 1)

  private def permutedChunks = {
    val docs = Tables.load(spark, dir, "documents")
    val ordered = StreamHarness.rangeChunks(docs, "doc_id", perm.size)
    perm.map(ordered).map(_.select(
      concat(col("doc_id"), lit("|"), col("text")).as("value")))
  }

  private def arrivalBatches: Seq[Set[Long]] = {
    val docs = Tables.load(spark, dir, "documents")
    val ordered = StreamHarness.rangeChunks(docs, "doc_id", perm.size)
    perm.map(ordered).map(_.select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  test("s26 admission under a permuted feed is first-seen-wins per batch") {
    val qn = "oo26_" + UUID.randomUUID().toString.replace("-", "")
    val src = new FileStreamSource(StreamHarness.tempDir("oo26-feed"))
    StreamHarness.drain(spark, src, StreamHarness.appends(src, permutedChunks)) { raw =>
      StreamingQueries.s26Admission(raw)
        .writeStream.format("memory").queryName(qn)
        .option("checkpointLocation", StreamHarness.checkpointDir("oo26"))
        .outputMode("append").start()
    }
    val got = spark.table(qn).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getBoolean(2)).toMap

    // Independent recomputation: per-doc band keys from the batch pipeline,
    // admission simulated over the arrival schedule.
    val sig = call_function("graft_minhash_sig",
      call_function("graft_shingle_hashes",
        call_function("graft_token_hashes", col("text")), lit(3)))
    val bandsOf = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        posexplode(graft.functions.DedupFunctions.bandKeys(sig))
          .as(Seq("band", "bh")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1)
    val state = scala.collection.mutable.Map.empty[(Int, Long), Long]
    val expected = scala.collection.mutable.Map.empty[(Long, Int), Boolean]
    for (batch <- arrivalBatches) {
      val rows = batch.toSeq.flatMap(id => bandsOf(id).map(t => (id, t._2, t._3)))
      val byBucket = rows.groupBy(t => (t._2, t._3))
      for ((id, band, bh) <- rows) {
        val sameBatch = byBucket((band, bh)).exists(_._1 < id)
        val earlier = state.get((band, bh)).exists(_ < id)
        expected((id, band)) = earlier || sameBatch
      }
      for (((band, bh), ids) <- byBucket.view.mapValues(_.map(_._1))) {
        val m = ids.min
        state((band, bh)) = math.min(state.getOrElse((band, bh), Long.MaxValue), m)
      }
    }
    assert(got.size == expected.size)
    val bad = expected.filter { case (k, v) => got(k) != v }
    assert(bad.isEmpty, s"${bad.size} admission flags differ, e.g. ${bad.take(3)}")
    // The permuted schedule actually discriminates: some doc is admitted
    // (unflagged) that the id-ordered feed would flag, or vice versa.
    assert(expected.values.exists(identity), "fixture has no collisions at all")
  }

  test("s27 packing under a permuted feed follows arrival order per shard") {
    val qn = "oo27_" + UUID.randomUUID().toString.replace("-", "")
    val src = new FileStreamSource(StreamHarness.tempDir("oo27-feed"))
    StreamHarness.drain(spark, src, StreamHarness.appends(src, permutedChunks)) { raw =>
      StreamingQueries.s27Segments(raw)
        .writeStream.format("memory").queryName(qn)
        .option("checkpointLocation", StreamHarness.checkpointDir("oo27"))
        .outputMode("append").start()
    }
    val got = spark.table(qn).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3),
        r.getLong(4), r.getInt(5))).toSeq.sorted

    val S = TextQueries.PackSeqTokens.toLong
    val shards = StreamingQueries.PackShards
    val nTok = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def simulate(batches: Seq[Set[Long]]) = {
      val off = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Long, Int, Long, Int)]
      for (batch <- batches; id <- batch.toSeq.sorted) {
        val shard = id % shards
        val o = off(shard); val n = nTok(id)
        for (seq <- o / S to (o + n - 1) / S) {
          val gs = math.max(o, seq * S); val ge = math.min(o + n, (seq + 1) * S)
          out += ((shard, seq, id, (gs - seq * S).toInt, gs - o, (ge - gs).toInt))
        }
        off(shard) = o + n
      }
      out.toSeq.sorted
    }
    val expected = simulate(arrivalBatches)
    assert(got == expected, "streamed packing != arrival-order simulation")
    // Arrival order is load-bearing: the id-ordered schedule packs
    // differently, so this spec genuinely pins the unordered contract.
    val orderedExpected = simulate(arrivalBatches.sortBy(_.min))
    assert(expected != orderedExpected,
      "permuted and ordered packings coincide — pick a different permutation")
  }

  test("s28 admission under a permuted feed is first-seen-wins per list") {
    // The registered CandCap (96) never engages at this scale (50 increment
    // vectors over 22 lists), which would make the contract vacuously true;
    // a cap of 2 makes admission genuinely schedule-dependent while driving
    // the IDENTICAL pipeline.
    val cap = 2
    val swap = (cs: Seq[org.apache.spark.sql.DataFrame]) => Seq(cs(1), cs(0))
    val t28 = StreamingQueries.s28Maintain(spark, dir, swap, cap)
    val nBase = t28.nBase
    val got = StreamingQueries.readParts(spark, t28.postDir)
      .select("list", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    // Each arrival's top-1 list comes from the frozen router (bounded index
    // metadata, same as the pipeline); ADMISSION itself is simulated in
    // plain Scala over the arrival schedule — first-seen-wins per list at
    // micro-batch granularity, vec_id order within a batch, never displaced.
    val cb = SimilarityQueries.cbCache.get((dir, true, nBase))
    assert(cb != null, "base index build did not cache its codebook")
    val inc = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("ve"))
      .withColumn("nrm", sqrt(call_function("graft_dot", col("ve"), col("ve"))))
      .filter(col("vec_id") >= nBase)
    val listOf = inc
      .withColumn("rl",
        SimilarityQueries.cbRank2(spark, "oo28", cb, col("ve"), col("nrm")))
      .select(col("vec_id"), element_at(col("rl"), 1).as("list"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val chunkIds = StreamHarness.rangeChunks(inc, "vec_id", 2)
      .map(_.select("vec_id").collect().map(_.getLong(0)).toSet)
    def simulate(batches: Seq[Set[Long]]): Set[(Long, Long)] = {
      val n = scala.collection.mutable.Map.empty[Long, Int].withDefaultValue(0)
      val admitted = Set.newBuilder[(Long, Long)]
      for (batch <- batches; id <- batch.toSeq.sorted) {
        val l = listOf(id)
        if (n(l) < cap) { admitted += ((l, id)); n(l) += 1 }
      }
      admitted.result()
    }
    val expected = simulate(Seq(chunkIds(1), chunkIds(0)))
    assert(got == expected,
      s"streamed admissions != first-seen simulation: only-streamed=" +
        s"${(got -- expected).take(3)} only-sim=${(expected -- got).take(3)}")
    // The permuted schedule actually discriminates: at least one list admits
    // a different member set than the id-ordered feed would.
    val orderedExpected = simulate(Seq(chunkIds(0), chunkIds(1)))
    assert(expected != orderedExpected,
      "permuted and ordered admissions coincide — lower the cap")
  }
}
