package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Slowly-changing-dimension type-2 register: instead of overwriting a
  * key's row ([[UpsertSink]], the reference's Cassandra PK tables), every
  * tracked-value CHANGE opens a new version row and closes the previous
  * one, so the register holds the key's full validity history:
  *
  * {{{ keyCols..., valueCols..., valid_from, valid_to (null = open), is_current }}}
  *
  * Change compression: an update carrying the same tracked values as the
  * key's current version does NOT open a new row — versions are runs of
  * equal values, bounded by the sequence numbers at which the value
  * changed. This is the standard warehouse dimension-history discipline
  * (Kimball SCD2) driven by a stream.
  *
  * Merge per micro-batch (storage/idempotence from [[SnapshotSink]]):
  * CLOSED versions pass through untouched — history is immutable. Each
  * key's OPEN version re-enters the change-point computation as a synthetic
  * update at its own `valid_from`, unioned with the batch's updates;
  * change points (value ≠ previous value per key, seq-ordered) become the
  * new version rows, `valid_to` = the next change's seq. Per-batch work is
  * one window over (open rows ∪ batch); closed rows never enter the
  * change-point computation, though the register's write copies them.
  *
  * Ordering contract: updates must arrive in non-decreasing `seqCol` order
  * per key ACROSS batches (the per-key-ordered log every CDC transport
  * provides, e.g. a key-partitioned Kafka topic). Out-of-order *within* a
  * batch is fine (the window sorts). Replay safety: updates at or after the
  * open version's `valid_from` compress away (equal (seq, value) rows),
  * and updates OLDER than it are dropped as stale — under the ordering
  * contract those can only be replays of already-applied updates, and
  * admitting them would duplicate closed versions. Retroactive repair of
  * genuinely out-of-order history is out of scope, as in any streaming
  * SCD2.
  */
final class Scd2Sink(path: String, keyCols: Seq[String], seqCol: String,
                     valueCols: Seq[String])
    extends SnapshotSink(path) {

  private val ValidFrom = "valid_from"
  private val ValidTo = "valid_to"
  private val IsCurrent = "is_current"

  override protected def merge(prev: Option[DataFrame], batch: DataFrame): DataFrame = {
    val updateCols = (keyCols.map(col) :+ col(seqCol)) ++ valueCols.map(col)
    val updates = batch.select(updateCols: _*)
    val candidates = prev match {
      case None => updates
      case Some(p) =>
        val open = p.filter(col(IsCurrent))
        // Updates older than the key's open version are stale: by the
        // per-key ordering contract they can only be replays of already-
        // applied updates (or contract violations), and letting them into
        // the change-point window would regenerate already-closed versions
        // as duplicates. Dropping them is what makes a replayed batch
        // converge instead of corrupting history.
        val fresh = updates
          .join(open.select(keyCols.map(col) :+
            col(ValidFrom).as("_open_from"): _*), keyCols, "left")
          .filter(col("_open_from").isNull || col(seqCol) >= col("_open_from"))
          .drop("_open_from")
          .select(updateCols: _*)
        val reopened = open
          .select((keyCols.map(col) :+ col(ValidFrom).as(seqCol)) ++
            valueCols.map(col): _*)
        fresh.unionByName(reopened)
    }
    val vs = struct(valueCols.map(col): _*)
    // Deterministic under seq ties (a replayed duplicate row): equal
    // (seq, values) sort adjacent and compress; the tie order itself is
    // value-deterministic because the struct is the secondary sort key.
    val wSeq = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(seqCol), vs)
    val changePoints = candidates
      .withColumn("_chg", !(vs <=> lag(vs, 1).over(wSeq)))
      .filter(col("_chg"))
      .drop("_chg")
    val wPts = Window.partitionBy(keyCols.map(col): _*).orderBy(col(seqCol))
    val rebuilt = changePoints
      .withColumn(ValidFrom, col(seqCol))
      .withColumn(ValidTo, lead(col(seqCol), 1).over(wPts))
      .withColumn(IsCurrent, col(ValidTo).isNull)
      .drop(seqCol)
    prev match {
      case None    => rebuilt
      case Some(p) => p.filter(!col(IsCurrent)).unionByName(rebuilt)
    }
  }
}
