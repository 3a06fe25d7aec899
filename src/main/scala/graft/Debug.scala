package graft

/** Scratch timing harness (not part of the driver contract): times each
  * named query once into the `noop` sink. `name@dir` runs a query against
  * an explicit directory (two-dir warm/cold experiments in one JVM); bare
  * names use `SPARK_GRAFT_SF_DIR`. */
object Debug {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.create()
    val names = if (args.nonEmpty) args.toSeq else Seq("d07_minhash_pairs", "d08_simhash", "d09_ngram_jaccard")
    names.foreach { spec =>
      val (n, d) = spec.split("@") match {
        case Array(n0, d0) => (n0, d0)
        case _ => (spec, dir)
      }
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, d).write.format("noop").mode("overwrite").save()
      println(f"[debug] $n@$d: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
