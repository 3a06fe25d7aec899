package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The keyed-register sink seam (SURVEY.md §7.1): what the reference's
  * Cassandra PK-overwrite tables do (`IOTSparkStreaming.scala:68-69,76,166`),
  * abstracted to the two operations every adapter must provide. The
  * [[Orchestrator]] and the registered streaming queries are typed against
  * this trait; the bundled implementation is the parquet [[UpsertSink]]
  * (on [[SnapshotSink]]), and a production Cassandra/JDBC/Delta adapter
  * drops in by implementing the same contract:
  *
  *  - `upsert` MUST be idempotent per `batchId` (foreachBatch redelivers
  *    batches on recovery — at-least-once in, exactly-once effect out);
  *  - last-write-wins must be decided by the caller's version/ordering
  *    columns, never by arrival order, so results are independent of
  *    micro-batch boundaries and replay.
  */
trait TableSink {
  /** Idempotently merge one micro-batch into the keyed register. */
  def upsert(batch: DataFrame, batchId: Long): Unit

  /** The register's current contents, or None before the first batch. */
  def snapshot(spark: SparkSession): Option[DataFrame]
}
