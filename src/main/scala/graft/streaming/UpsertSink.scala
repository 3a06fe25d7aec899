package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

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
  * Scale: an upsert costs O(register + batch) per batch, since it reads
  * the live version and the batch, merges them and writes the register's
  * next whole version. When Spark's size estimate of (live ∪ batch) is
  * within the session's `spark.sql.autoBroadcastJoinThreshold`, the size
  * its planner already treats as small enough for one task to hold whole,
  * the merge runs on one partition. That satisfies the window's clustering,
  * so Spark plans no shuffle: the upsert is one Spark job with one task and
  * writes one part file. A larger input keeps the shuffle and its parallel
  * tasks (two jobs). Measured on 4 vCPUs: the Orchestrator's registers
  * estimate at most 2.9 MB and drain faster on one task; the registered
  * s02/s06/s07/s13 feeds estimate 1-10 MB at sf0.1, where one task is
  * 5-11% faster, and 11-101 MB at ten times that scale, where it was
  * 1.3-2.4 times slower.
  */
final class UpsertSink(path: String, keyCols: Seq[String], orderCols: Seq[String])
    extends SnapshotSink(path) {

  /** Dedupe to max-by-ordering per key across (snapshot ∪ batch). */
  override protected def merge(prev: Option[DataFrame], batch: DataFrame): DataFrame = {
    val union = prev.map(_.unionByName(batch)).getOrElse(batch)
    val merged =
      if (union.queryExecution.optimizedPlan.stats.sizeInBytes <=
          SQLConf.get.autoBroadcastJoinThreshold) union.coalesce(1)
      else union
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols.map(c => col(c).desc): _*)
    merged
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }
}
