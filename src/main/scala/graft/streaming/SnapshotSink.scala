package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Shared machinery for idempotent keyed registers over parquet, so every
  * merge discipline ([[UpsertSink]]'s last-write-wins, [[Scd2Sink]]'s
  * versioned history) reuses one storage, idempotence and GC story:
  *
  *  - Each micro-batch merges the whole current snapshot with the batch and
  *    writes the result to a fresh `v<batchId>` directory; `_latest` names
  *    the live version and is swapped atomically, so readers always see a
  *    complete, consistent snapshot. Per-batch cost is O(register + batch).
  *  - **Batch markers** (`_batch_<id>` files) short-circuit replayed batches
  *    so checkpoint recovery does no duplicate work (at-least-once in,
  *    exactly-once effect out).
  *
  * Subclasses provide only [[merge]]. The merge MUST be deterministic and
  * independent of micro-batch boundaries (decided by version/ordering
  * columns, never arrival order).
  */
abstract class SnapshotSink(path: String) extends TableSink {
  private val root = Paths.get(path)
  Files.createDirectories(root)

  private def latestPtr = root.resolve("_latest")

  /** The live version's directory name (e.g. "v7"); None before the first batch. */
  private def liveVersion: Option[String] =
    if (Files.exists(latestPtr)) Some(Files.readString(latestPtr).trim) else None

  def alreadyApplied(batchId: Long): Boolean =
    Files.exists(root.resolve(s"_batch_$batchId"))

  /** Schema of the rows this register last wrote. Reads pass it to the
    * parquet reader, which then skips the footer-inference job; None until
    * this instance first reads or writes, so the first read after a reopen
    * infers it once. */
  @volatile private var writtenSchema: Option[StructType] = None

  /** Read the current snapshot, or None before the first batch. */
  override def snapshot(spark: SparkSession): Option[DataFrame] =
    liveVersion.map { v =>
      val dir = root.resolve(v).toString
      writtenSchema match {
        case Some(s) => spark.read.schema(s).parquet(dir)
        case None =>
          val df = spark.read.parquet(dir)
          writtenSchema = Some(df.schema)
          df
      }
    }

  /** The register's next full contents, given its current rows (None
    * before the first write) and the incoming batch rows. */
  protected def merge(prev: Option[DataFrame], batch: DataFrame): DataFrame

  /** Merge one micro-batch: feed the current snapshot and the batch through
    * [[merge]], write the result under `v<batchId>`, atomically swap
    * `_latest`, then delete every other version. */
  final override def upsert(batch: DataFrame, batchId: Long): Unit = {
    if (alreadyApplied(batchId)) return
    val version = s"v$batchId"
    // A live `v<batchId>` means a crash landed between the pointer swap and
    // the marker write. Re-merging would overwrite the very directory the
    // merge plan reads, wedging recovery forever; only the marker is left.
    if (!liveVersion.contains(version)) {
      val merged = merge(snapshot(batch.sparkSession), batch)
      merged.write.mode("overwrite").parquet(root.resolve(version).toString)
      writtenSchema = Some(merged.schema)
      val tmp = root.resolve(s"_latest.tmp.$batchId")
      Files.writeString(tmp, version)
      Files.move(tmp, latestPtr, StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE)
      // GC, safe once the swap is durable: a full sweep, so versions
      // orphaned by a past crash between a swap and its GC go too.
      versionsOnDisk.filterNot(_ == version).foreach(deleteRecursively)
    }
    Files.writeString(root.resolve(s"_batch_$batchId"), "")
  }

  private def versionsOnDisk: Seq[String] = {
    import scala.jdk.CollectionConverters._
    val s = Files.list(root)
    try s.iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("v")).toSeq
    finally s.close()
  }

  private def deleteRecursively(name: String): Unit = {
    import scala.jdk.CollectionConverters._
    val s = Files.walk(root.resolve(name))
    try s.sorted(java.util.Comparator.reverseOrder())
      .iterator().asScala.foreach(Files.delete)
    finally s.close()
  }
}
