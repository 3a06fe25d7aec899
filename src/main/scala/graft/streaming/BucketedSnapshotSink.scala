package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Shared machinery for idempotent keyed registers over parquet — the
  * hash-bucketed snapshot + atomically-swapped manifest design (the
  * Iceberg-manifest shape, SURVEY.md §7.4.1) that [[UpsertSink]] introduced,
  * factored out so other merge disciplines (e.g. [[Scd2Sink]]'s versioned
  * history) reuse the exact same storage, idempotence, and GC story:
  *
  *  - The key space is hashed into `nBuckets` fixed buckets. Each micro-batch
  *    merges and rewrites ONLY the buckets its keys touch; untouched buckets'
  *    files are never read or rewritten — their manifest entries keep
  *    pointing at the version directory that last wrote them. Per-batch cost
  *    is therefore O(rows in touched buckets + batch), not O(total rows).
  *  - `_latest` holds the bucket → version-directory manifest; a batch
  *    writes its buckets under a fresh `v<batchId>` directory and swaps the
  *    manifest atomically, so readers always see a complete, consistent
  *    snapshot.
  *  - **Batch markers** (`_batch_<id>` files) short-circuit replayed batches
  *    so checkpoint recovery does no duplicate work (at-least-once in,
  *    exactly-once effect out).
  *
  * Subclasses provide only [[merge]]: how the previous touched-bucket rows
  * and the incoming batch combine into the buckets' next contents. The
  * merge MUST be deterministic and independent of micro-batch boundaries
  * (decided by version/ordering columns, never arrival order).
  */
abstract class BucketedSnapshotSink(path: String, keyCols: Seq[String],
                                    nBuckets: Int) extends TableSink {
  require(nBuckets > 0)
  private val root = Paths.get(path)
  Files.createDirectories(root)

  // nBuckets governs where persisted rows live: reopening an existing
  // register (the checkpoint-recovery path) with a different bucket count
  // would point bucketOf at the wrong buckets and leave stale duplicates of
  // a key alive in others — so the count is persisted on first open and
  // enforced on every reopen.
  locally {
    val metaPath = root.resolve("_meta")
    if (Files.exists(metaPath)) {
      val persisted = Files.readString(metaPath).trim.stripPrefix("nBuckets=").toInt
      require(persisted == nBuckets,
        s"register at $path was created with nBuckets=$persisted; reopening with " +
          s"nBuckets=$nBuckets would mis-bucket keys")
    } else Files.writeString(metaPath, s"nBuckets=$nBuckets\n")
  }

  /** Partition-column name for the bucket id; never collides with data
    * columns (and must not start with `_`/`.` — Spark's file listing hides
    * such directory names). */
  protected val BucketCol = "graft_bucket"

  private def latestPtr = root.resolve("_latest")

  /** bucket → version-dir name (e.g. 3 → "v7"); empty before first batch. */
  private def currentManifest: Map[Int, String] =
    if (!Files.exists(latestPtr)) Map.empty
    else Files.readString(latestPtr).linesIterator.filter(_.nonEmpty).map { l =>
      val Array(b, v) = l.split("\t")
      b.toInt -> v
    }.toMap

  def alreadyApplied(batchId: Long): Boolean =
    Files.exists(root.resolve(s"_batch_$batchId"))

  private def bucketOf = pmod(hash(keyCols.map(col): _*), lit(nBuckets))

  private def bucketPath(version: String, bucket: Int) =
    root.resolve(version).resolve(s"$BucketCol=$bucket")

  /** Schema of the rows this register last wrote (bucket column excluded).
    * Reads pass it to the parquet reader, which then skips the footer-
    * inference job; None until this instance first reads or writes, so the
    * first read after a reopen infers it once. */
  @volatile private var writtenSchema: Option[StructType] = None

  /** The rows of the given buckets' current files. */
  private def readBuckets(spark: SparkSession, buckets: Seq[(Int, String)]): DataFrame = {
    val paths = buckets.map { case (b, v) => bucketPath(v, b).toString }
    writtenSchema match {
      case Some(s) => spark.read.schema(s).parquet(paths: _*)
      case None =>
        val df = spark.read.parquet(paths: _*)
        writtenSchema = Some(df.schema)
        df
    }
  }

  /** Read the current snapshot (union of every bucket's current files), or
    * None before the first batch. */
  override def snapshot(spark: SparkSession): Option[DataFrame] = {
    val man = currentManifest
    if (man.isEmpty) None else Some(readBuckets(spark, man.toSeq))
  }

  /** The next full contents of the touched buckets, given their previous
    * rows (None before the first write) and the incoming batch rows. */
  protected def merge(prev: Option[DataFrame], batch: DataFrame): DataFrame

  /** Merge one micro-batch: feed the touched buckets' current rows and the
    * batch through [[merge]], write the result under `v<batchId>`, then
    * atomically swap the manifest. Buckets the batch does not touch are
    * left byte-untouched on disk. */
  final override def upsert(batch: DataFrame, batchId: Long): Unit = {
    if (alreadyApplied(batchId)) return
    val man = currentManifest
    val version = s"v$batchId"
    if (man.values.exists(_ == version)) {
      // Crash landed between the manifest swap and the marker write: the
      // batch's buckets are already live. Re-merging would overwrite the
      // very directories the merge plan reads (wedging recovery forever) —
      // just complete the interrupted commit.
      Files.writeString(root.resolve(s"_batch_$batchId"), "")
      return
    }
    val spark = batch.sparkSession
    // Two actions consume the batch (touched-bucket discovery, then the
    // merge write), and a foreachBatch DataFrame re-executes its whole
    // upstream plan — source file read + wire parse — per action; one
    // persist makes the second action read the computed rows instead
    // (guide §5: cache exactly what is reused). Unpersisted in the finally
    // below so the engine never carries sink-batch blocks across triggers.
    val cached = batch.persist()
    try {
      // Touched-bucket discovery is metadata, not data: one job with no
      // shuffle, in which each partition returns its distinct bucket ids
      // (≤ nBuckets ints); the collected ids form the touched set.
      val touched = cached.select(bucketOf).as(Encoders.scalaInt)
        .mapPartitions((ids: Iterator[Int]) => ids.toSet.iterator)(Encoders.scalaInt)
        .collect().toSet
      if (touched.nonEmpty) {
        val prevBuckets = touched.toSeq.sorted.flatMap(b => man.get(b).map(b -> _))
        val prev =
          if (prevBuckets.isEmpty) None else Some(readBuckets(spark, prevBuckets))
        val merged = merge(prev, cached)
        merged
          .withColumn(BucketCol, bucketOf)
          .write.mode("overwrite").partitionBy(BucketCol)
          .parquet(root.resolve(version).toString)
        writtenSchema = Some(merged.schema)
        val nextMan = man ++ touched.map(_ -> version)
        val tmp = root.resolve(s"_latest.tmp.$batchId")
        Files.writeString(tmp,
          nextMan.toSeq.sorted.map { case (b, v) => s"$b\t$v" }.mkString("\n"))
        Files.move(tmp, latestPtr, StandardCopyOption.REPLACE_EXISTING,
          StandardCopyOption.ATOMIC_MOVE)
        // GC (safe: the manifest swap above is already durable). Full sweep,
        // not just this batch's delta: any bucket dir the NEW manifest does
        // not reference is dead — including ones orphaned by a past crash
        // between a manifest swap and its GC (ADVICE r3) — and so is any
        // whole version dir no bucket references anymore.
        val live = nextMan.values.toSet
        versionsOnDisk.foreach { v =>
          if (!live(v)) deleteRecursively(v)
          else bucketDirsIn(v).foreach { b =>
            if (!nextMan.get(b).contains(v))
              deleteRecursively(s"$v/$BucketCol=$b")
          }
        }
      }
    } finally { cached.unpersist(); () }
    Files.writeString(root.resolve(s"_batch_$batchId"), "")
  }

  /** Bucket ids that have a directory under `version` (metadata listing,
    * ≤ nBuckets entries). */
  private def bucketDirsIn(version: String): Seq[Int] = {
    import scala.jdk.CollectionConverters._
    val dir = root.resolve(version)
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith(s"$BucketCol="))
        .map(_.substring(BucketCol.length + 1).toInt).toSeq
      finally s.close()
    }
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
    val dir = root.resolve(name)
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.delete)
      finally s.close()
    }
  }
}
