package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** SCD2 register semantics: change compression, version close-out across
  * batches, immutable closed history, replay idempotence, and independence
  * from micro-batch boundaries. */
class Scd2SinkSpec extends SparkSpec {

  private def updates(rows: (String, Long, Int)*): DataFrame = {
    import spark.implicits._
    rows.toDF("user_id", "seq", "v")
  }

  private def fresh() = new Scd2Sink(
    StreamHarness.tempDir("scd2-spec"), Seq("user_id"), "seq", Seq("v"))

  private def history(sink: Scd2Sink): Seq[(String, Int, Long, Option[Long], Boolean)] =
    sink.snapshot(spark).get
      .select(col("user_id"), col("v"), col("valid_from"), col("valid_to"),
        col("is_current"))
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getBoolean(4)))
      .toSeq.sortBy(t => (t._1, t._3))

  test("changes open versions, equal values compress, history closes out") {
    val sink = fresh()
    sink.upsert(updates(("u1", 1L, 10), ("u1", 2L, 10), ("u1", 3L, 20)), 0L)
    assert(history(sink) == Seq(
      ("u1", 10, 1L, Some(3L), false), // seq=2 compressed into [1,3)
      ("u1", 20, 3L, None, true)))
  }

  test("a later batch closes the open version; closed rows are untouched") {
    val sink = fresh()
    sink.upsert(updates(("u1", 1L, 10), ("u1", 5L, 20)), 0L)
    sink.upsert(updates(("u1", 9L, 20), ("u1", 12L, 30), ("u2", 2L, 7)), 1L)
    assert(history(sink) == Seq(
      ("u1", 10, 1L, Some(5L), false),
      ("u1", 20, 5L, Some(12L), false), // seq=9 same value: no new version
      ("u1", 30, 12L, None, true),
      ("u2", 7, 2L, None, true)))
  }

  test("result is independent of micro-batch boundaries") {
    val rows = Seq(("u1", 1L, 10), ("u1", 4L, 20), ("u1", 6L, 20),
      ("u1", 9L, 10), ("u2", 3L, 5), ("u2", 8L, 6))
    val oneShot = fresh()
    oneShot.upsert(updates(rows: _*), 0L)
    val perRow = fresh()
    rows.zipWithIndex.foreach { case (r, i) => perRow.upsert(updates(r), i.toLong) }
    assert(history(oneShot) == history(perRow))
  }

  test("random in-order feeds under random batch splits match the reference") {
    def lcg(seed: Long): Iterator[Long] =
      Iterator.iterate(seed)(x => x * 6364136223846793005L + 1442695040888963407L).drop(1)
    for (seed <- Seq(11L, 404L)) {
      val r = lcg(seed).map(math.abs)
      // Global seqs ascending => in-order per key (the sink's contract).
      val rows = (1 to 150).map { i =>
        (s"u${r.next() % 9}", i.toLong * 2, (r.next() % 4).toInt)
      }
      // Reference: change-compress each key's seq-ordered run.
      val expected = rows.groupBy(_._1).flatMap { case (k, rs) =>
        val sorted = rs.sortBy(_._2)
        val starts = sorted.zip(None +: sorted.map(x => Some(x._3)))
          .collect { case ((_, seq, v), prev) if !prev.contains(v) => (seq, v) }
        starts.zip(starts.drop(1).map(s => Some(s._1)) :+ None).map {
          case ((from, v), to) => (k, v, from, to, to.isEmpty)
        }
      }.toSet
      val sink = fresh()
      // Random batch boundaries (always ascending seq across batches).
      var rest = rows
      var id = 0L
      while (rest.nonEmpty) {
        val take = 1 + (r.next() % 40).toInt
        sink.upsert(updates(rest.take(take): _*), id)
        rest = rest.drop(take); id += 1
      }
      assert(history(sink).map(t => (t._1, t._2, t._3, t._4, t._5)).toSet == expected,
        s"seed $seed diverged from the reference")
    }
  }

  test("replayed batches are no-ops (marker) and re-merges converge (content)") {
    val sink = fresh()
    val b0 = updates(("u1", 1L, 10), ("u1", 5L, 20))
    sink.upsert(b0, 0L)
    val before = history(sink)
    sink.upsert(b0, 0L) // marker short-circuit
    assert(history(sink) == before)
    sink.upsert(b0, 1L) // same rows under a NEW id: equal (seq,v) compress away
    assert(history(sink) == before)
  }

  test("a reopened register upserts and snapshots like one long-lived instance") {
    // Seqs ascend across batches, so every key's updates arrive in order.
    val batches = (0 until 4).map { b =>
      updates((1 to 25).map { i =>
        val n = b * 25 + i
        (s"u${n % 6}", n.toLong, n / 7 % 3)
      }: _*)
    }
    val longLived = fresh()
    batches.zipWithIndex.foreach { case (df, id) => longLived.upsert(df, id.toLong) }
    // The recovery path: a new instance on a populated register does not
    // yet know the written schema.
    val dir = StreamHarness.tempDir("scd2-reopen")
    def open() = new Scd2Sink(dir, Seq("user_id"), "seq", Seq("v"))
    val first = open()
    batches.zipWithIndex.take(2).foreach { case (df, id) => first.upsert(df, id.toLong) }
    val second = open()
    batches.zipWithIndex.drop(2).foreach { case (df, id) => second.upsert(df, id.toLong) }
    Seq(second, open()).foreach { s =>
      assert(s.snapshot(spark).get.schema == longLived.snapshot(spark).get.schema)
      assert(history(s) == history(longLived))
    }
  }
}
