package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Driver contract: (sfDir, outDir). Optional third arg = comma-separated
    // query-name filter for fast local iteration (driver never passes it).
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(",").toSet))
      case _ => throw new IllegalArgumentException(
        "usage: graft.Verify <sfDir> <outDir> [name,name,...]")
    }
    val spark = GraftSession.create()
    new java.io.File(outDir).mkdirs()
    // A failing query must surface as an explicit per-query error artifact,
    // not vanish from the output set: the driver's CORRECTNESS file is built
    // from what exists in outDir, so a swallowed exception would silently
    // shrink a red round into a shorter list of green (r9 post-mortem).
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
          System.err.println(s"[verify] $name failed: $msg")
          failures(name) = msg.linesIterator.take(3).mkString(" | ").take(500)
        }
      }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), ArtifactOut.json(SparkEntry.oracleSql))
    // errors.json: name -> first-lines-of-message for every failed query.
    // Written even when empty so "no failures" is an asserted fact, not an
    // absence; tools/parity.py reports each entry. Exit 1 on any failure so
    // the driver records a red run as red.
    Files.writeString(Paths.get(s"$outDir/errors.json"), ArtifactOut.json(failures))
    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(s"[verify] ${failures.size} quer${if (failures.size == 1) "y" else "ies"} failed: ${failures.keys.mkString(", ")}")
      sys.exit(1)
    }
  }
}
