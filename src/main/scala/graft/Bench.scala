package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every registered query on
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line ([[artifact]]).
  *
  *  - Every run is [[timed]]: a `noop`-format write with its error captured.
  *  - One warmup query runs first, untimed, so the first measured query does
  *    not absorb JVM and codegen warmup.
  *  - Each query runs `SPARK_GRAFT_REPS` times (default 3), interleaved
  *    round-robin, and reports the median, which is robust to one GC pause
  *    or page-cache miss.
  *  - A second, smaller scale factor (`SPARK_GRAFT_SCALE_DIR`, default
  *    sf0.01, one rep) is timed in the same JVM under `"scaling"`: data-bound
  *    queries should grow ~linearly with the 10× size ratio, streaming
  *    queries stay ~flat (their cost is per-batch overhead, not rows).
  *  - A derived 10× scale point (`"scale_up"`, built once by [[ScaleUp]]
  *    from the primary SF) times the data-path queries, so the artifact
  *    carries a measured slope above the largest driver SF.
  *  - Failures are reported per query in `"err"` maps instead of being
  *    swallowed into a fast-looking elapsed time.
  */
object Bench {
  /** Queries whose first run per directory BUILDS a memoized index/training
    * structure (sketch tables, graph + cluster-label tables, IVF postings,
    * trained codebooks, CMS, coreset centers) — pre-run untimed at every
    * measured scale so medians and single-rep columns time the probe path.
    * d07 and e07 are pre-built first (their tables feed whole families);
    * e02 also populates the float-seed postings e14's vector leg shares,
    * e04 the quantized-seed postings e06 shares. `BenchRegistrySpec` pins
    * every name to the live registry so a rename cannot silently drop a
    * pre-build (the `if contains` guard would just skip it). */
  val IndexPrebuild: Seq[String] = Seq(
    "d07_minhash_pairs", "e07_knn_graph",
    "e08_semantic_clusters", "e15_semdedup", "d36_cms_heavy",
    "e12_kcenter_coreset", "e05_ann_ivf_trained", "e09_ann_pq",
    "e02_ann_ivf", "e04_ann_int8", "e11_ann_filtered",
    "e13_incremental_index", "m04_media_dup_clusters")

  /** Memoized-structure dependencies by CONSUMER: queries that read an
    * index/training table whose build is OWNED by a different query.
    * Under `SPARK_GRAFT_ONLY` the prebuild set is the dependency closure of
    * the selected names — a subset containing a consumer (e.g. e06) but not
    * its build owner (e04) must still pre-build the shared structure, or
    * the consumer's first rep and single-rep scaling cells silently
    * re-absorb build cost (ADVICE r11). Owners pre-build themselves via
    * membership in [[IndexPrebuild]]; this map adds only cross-query edges.
    * `BenchRegistrySpec` pins every key and value to the live registry. */
  val BuildDeps: Map[String, Seq[String]] = Map(
    "d09_ngram_jaccard" -> Seq("d07_minhash_pairs"),
    "d11_minhash_union" -> Seq("d07_minhash_pairs"),
    "d13_minhash_udaf" -> Seq("d07_minhash_pairs"),
    "d21_dup_clusters" -> Seq("d07_minhash_pairs"),
    "d28_incremental_dedup" -> Seq("d07_minhash_pairs"),
    "e06_ann_rerank" -> Seq("e04_ann_int8"),
    "e08_semantic_clusters" -> Seq("e07_knn_graph"),
    "e14_hybrid_rrf" -> Seq("e02_ann_ivf"),
    "e15_semdedup" -> Seq("e07_knn_graph"),
    "e16_balanced_sample" -> Seq("e07_knn_graph", "e08_semantic_clusters"),
    "e17_index_stats" -> Seq("e07_knn_graph"),
    "e18_recall_eval" -> Seq("e05_ann_ivf_trained"),
    "e19_maintained_recall" -> Seq("e13_incremental_index"),
    "e20_recall_alert" -> Seq("e13_incremental_index"),
    "m07_crossmodal_dedup" ->
      Seq("e07_knn_graph", "e15_semdedup", "m04_media_dup_clusters"),
    "s28_stream_ann_maintain" -> Seq("e13_incremental_index"),
    "s30_stream_recall_alert" -> Seq("e13_incremental_index"))

  /** The pre-build list for a selected name set: every [[IndexPrebuild]]
    * owner that is selected itself OR depended on by a selected consumer. */
  def prebuildFor(names: Seq[String]): Seq[String] =
    IndexPrebuild.filter(b => names.contains(b) ||
      names.exists(n => BuildDeps.getOrElse(n, Nil).contains(b)))

  /** Streaming-latency attestation: per-batch processing time of the
    * s01-shaped pipeline over 100 measured batches of 10k rows each (10×
    * the reference's ~1000 events per 1 s trigger), reported against the
    * reference's implicit 1000 ms bound. 100 batches make p99 meaningful
    * and max interpretable against it. */
  val LatBatches = 100
  val LatRows = 10000

  /** Reps per query at the derived scale point: single-shot cells there
    * could not tell sub-second queries' slopes from first-run codegen and
    * page-cache noise. */
  val ScaleUpReps = 3

  /** One timed run: wall seconds, and the first line of the error if the
    * query threw (its time is then a time-to-error, not a runtime). */
  final case class Run(sec: Double, err: Option[String])

  /** How every Bench error cell reads: the first line of the message (else
    * the class name), at most 200 characters. */
  private def firstLine(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.take(1).mkString.take(200)

  /** Runs `name` on `dir` once into the `noop` sink, which fully evaluates
    * every projection and sort in the plan (`.count()` would let Catalyst
    * prune them). A failure is captured, never a fast-looking elapsed time. */
  def timed(spark: SparkSession, name: String, dir: String): Run = {
    val t0 = System.nanoTime()
    val err =
      try {
        SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
        None
      } catch { case e: Throwable => Some(firstLine(e)) }
    Run((System.nanoTime() - t0) / 1e9, err)
  }

  /** `reps` runs of every query in `names` on `dir`, per query in rep order.
    * Reps interleave round-robin (rep 1 of every query, then rep 2, …), so
    * a contended wall-clock stretch inflates one rep of many queries, which
    * each median rejects, instead of every rep of the few queries that ran
    * inside it. */
  private def interleaved(spark: SparkSession, names: Seq[String], dir: String,
                          reps: Int): Seq[(String, Seq[Run])] =
    names.zip((1 to reps).map(_ => names.map(timed(spark, _, dir))).transpose)

  /** Bench's one JSON line. `runs`, `scaling` and `scaleUp` hold every run
    * of each query at the primary, secondary and derived scale; a section
    * with no runs is left out, as `rep_times` is unless `allReps`.
    *
    *  - A cell is the median of its runs, errored if any run errored. The
    *    primary `queries` map keeps an errored query's time-to-error; the
    *    scale sections write it as `null`. Every error lands in an `err` map.
    *  - The headline `value` sums only queries that ran: a time-to-error is
    *    not a runtime, and `errored_count` makes the omission visible.
    *  - `rep_cv` is each query's [[Stats.repCv]], and `rep_cv_median` the
    *    run's contention flag (README: above 0.35, re-run before quoting).
    */
  def artifact(runs: Seq[(String, Seq[Run])], reps: Int, sf: String,
               scaleDir: String, scaling: Seq[(String, Seq[Run])],
               scaleUpDir: String, scaleUpFactor: Int, scaleUp: Seq[(String, Seq[Run])],
               latency: Either[String, Seq[Long]], allReps: Boolean): String = {
    def cells(rs: Seq[(String, Seq[Run])]): Seq[(String, Run)] = rs.map { case (k, r) =>
      k -> Run(Stats.median(r.map(_.sec)), r.flatMap(_.err).headOption)
    }
    def errs(cs: Seq[(String, Run)]) = ListMap.from(cs.collect { case (k, Run(_, Some(e))) => k -> e })
    def section(head: (String, Any)*)(rs: Seq[(String, Seq[Run])]) =
      Option.when(rs.nonEmpty) {
        val cs = cells(rs)
        ListMap.from(head) ++ Seq(
          "queries" -> ListMap.from(cs.map { case (k, c) => k -> (if (c.err.isEmpty) Some(c.sec) else None) }),
          "err" -> errs(cs))
      }
    val results = cells(runs)
    val ok = results.filter(_._2.err.isEmpty)
    val lat = latency match {
      case Right(ms) if ms.nonEmpty => ListMap(
        "pipeline" -> "s01-shaped", "batches" -> ms.size, "rows_per_batch" -> LatRows,
        "max_batch_ms" -> ms.max, "p99_batch_ms" -> Stats.percentileMs(ms, 0.99),
        "median_batch_ms" -> Stats.medianMs(ms), "bound_ms" -> 1000)
      case Right(_) => ListMap("err" -> "no data batches observed")
      case Left(e) => ListMap("err" -> e)
    }
    val repCv = runs.flatMap { case (k, r) => Stats.repCv(r.map(_.sec)).map(k -> _) }
    ArtifactOut.json(ListMap[String, Any](
      "metric" -> "total", "value" -> ok.map(_._2.sec).sum, "unit" -> "sec",
      "errored_count" -> (results.size - ok.size),
      "queries" -> ListMap.from(results.map { case (k, c) => k -> c.sec }),
      "err" -> errs(results), "reps" -> reps, "sf" -> sf) ++
      section("sf" -> scaleDir)(scaling).map("scaling" -> _) ++
      section("dir" -> scaleUpDir, "factor" -> scaleUpFactor, "reps" -> ScaleUpReps)(scaleUp)
        .map("scale_up" -> _) ++
      Seq("latency" -> lat) ++
      (if (repCv.isEmpty) Nil
       else Seq("rep_cv" -> ListMap.from(repCv.map { case (k, c) => k -> ArtifactOut.round4(c) }),
                "rep_cv_median" -> ArtifactOut.round4(Stats.median(repCv.map(_._2))))) ++
      (if (allReps) Seq("rep_times" -> ListMap.from(runs.map { case (k, r) => k -> r.map(_.sec) }))
       else Nil))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt)
    val scaleDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.create()

    // Optional comma-separated name filter (exact names or prefixes) so a
    // caller — e.g. BenchAB — can time a subset without paying for the
    // whole registry.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').map(_.trim).toSeq)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.exists(p => n == p || n.startsWith(p))))
    require(names.nonEmpty, s"SPARK_GRAFT_ONLY matched no queries: $only")
    val scaleDirOk = scaleDir != sfDir &&
      java.nio.file.Files.isDirectory(java.nio.file.Paths.get(scaleDir))
    timed(spark, names.head, sfDir) // warmup: JVM + codegen + parquet footer caches
    // Pre-build every memoized index/training structure at both scale
    // factors ([[IndexPrebuild]]): index construction is one job at
    // corpus-load time in production, so medians and the single-rep scaling
    // column measure the probe/consume path.
    for (n <- prebuildFor(names)) {
      timed(spark, n, sfDir)
      if (scaleDirOk) timed(spark, n, scaleDir)
    }
    // Stage every wire feed untimed, next to the index pre-build: staging
    // renders the same bytes a broker would already hold — fixture
    // manufacture, not the stream under test — so no query's timed rep
    // absorbs it and all streaming medians time the same thing: the
    // micro-batch engine, state stores, sinks, and readback.
    if (names.exists(_.matches("s\\d\\d_.*"))) {
      graft.queries.StreamingQueries.prestageFeeds(spark, sfDir)
      if (scaleDirOk) graft.queries.StreamingQueries.prestageFeeds(spark, scaleDir)
    }

    val runs = interleaved(spark, names, sfDir, reps)
    // Scale slope: one rep per query at the secondary SF (skipped when it
    // is missing or identical to the primary).
    val scaling =
      if (!scaleDirOk) Nil else names.map(n => n -> Seq(timed(spark, n, scaleDir)))

    // Measured ≥10× scale point: replicate the primary SF into a derived dir
    // (one-time, content-decorrelated — see ScaleUp's scaladoc) and run the
    // data-path queries there. Streaming/sink queries are excluded: their
    // cost is micro-batch machinery, already shown ~flat by the
    // sf0.01→sf0.1 slope. Index structures are pre-built untimed, as at the
    // primary SF.
    val scaleUpFactor = sys.env.getOrElse("SPARK_GRAFT_SCALEUP_FACTOR", "10").toInt
    val scaleUpDir = sys.env.getOrElse("SPARK_GRAFT_SCALEUP_DIR", "derived/x10")
    val dataPath = names.filter(n =>
      !n.matches("s\\d\\d_.*") && !n.startsWith("k0") && n != "c01_multiplex_parse")
    val scaleUp =
      if (scaleUpFactor <= 1) Nil
      else
        try {
          ScaleUp.ensure(spark, sfDir, scaleUpDir, scaleUpFactor)
          for (n <- prebuildFor(dataPath)) timed(spark, n, scaleUpDir)
          interleaved(spark, dataPath, scaleUpDir, ScaleUpReps)
        } catch {
          case e: Throwable => Seq("_scaleup_build" -> Seq(Run(0.0, Some(firstLine(e)))))
        }

    // The latency block is an attestation, not a correctness gate: a
    // failure lands in its `err` rather than failing the bench.
    val latency: Either[String, Seq[Long]] =
      if (only.isDefined) Left("skipped: SPARK_GRAFT_ONLY filter active")
      else
        try Right(graft.queries.StreamingQueries.latencyProbe(spark, sfDir, LatBatches, LatRows))
        catch { case e: Throwable => Left(firstLine(e)) }

    // Per-query raw rep times (SPARK_GRAFT_BENCH_ALLREPS=1) feed BenchAB's
    // pooled medians and rep CVs.
    val json = artifact(runs, reps, sfDir, scaleDir, scaling, scaleUpDir, scaleUpFactor, scaleUp,
      latency, allReps = sys.env.get("SPARK_GRAFT_BENCH_ALLREPS").contains("1"))
    println(json)
    // Also write the complete line to a file, so per-query medians stay
    // auditable however stdout is captured. A failed write warns but does
    // not fail the bench: stdout carries the same line (the driver contract).
    ArtifactOut.write(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json"), json)
    spark.stop()
    // A run with erroring queries is a red run: exit non-zero so the driver
    // records it as such instead of rc 0 over a broken artifact.
    val nErr = runs.count(_._2.exists(_.err.isDefined))
    if (nErr > 0) {
      System.err.println(s"[bench] $nErr queries errored at $sfDir")
      sys.exit(1)
    }
  }
}
