package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Idempotent keyed upsert sink over parquet — the Spark-native replacement
  * for the reference's Cassandra PK-overwrite tables (K1 `user_details`,
  * K2 `sales`, K3 `latest_location`; reference
  * `IOTSparkStreaming.scala:68-69,76,166`), designed for `foreachBatch`.
  *
  * Storage, idempotence, and GC live in [[SnapshotSink]]; this class
  * supplies the register discipline: **last-write-wins by version, not by
  * arrival**. The caller names a set of ordering columns; the surviving row
  * per key is the max by that ordering across the snapshot and the
  * incoming batch. The result is independent of micro-batch boundaries
  * AND of replay — reprocessing a batch after checkpoint recovery
  * converges to the same snapshot (the reference is only at-least-once,
  * SURVEY.md §2.7; this is effectively exactly-once).
  *
  * Scale: an upsert is two Spark jobs, the merge's one shuffle of
  * (snapshot ∪ batch) on the upsert key and the write of the whole
  * register, so it costs O(register + batch) per batch.
  */
final class UpsertSink(path: String, keyCols: Seq[String], orderCols: Seq[String])
    extends SnapshotSink(path) {

  /** Dedupe to max-by-ordering per key across (snapshot ∪ batch). */
  override protected def merge(prev: Option[DataFrame], batch: DataFrame): DataFrame = {
    val merged = prev.map(_.unionByName(batch)).getOrElse(batch)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols.map(c => col(c).desc): _*)
    merged
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }
}
