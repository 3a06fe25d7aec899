package graft

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import scala.sys.process._

import com.fasterxml.jackson.databind.JsonNode

/** Same-box A/B bench: checks out two commits into scratch worktrees and
  * runs each one's own `graft.Bench` in identical cold sbt-launched JVMs,
  * so a comparison across commits is a committed artifact instead of two
  * numbers from different sessions on a shared machine.
  *
  * Legs, in order: a discarded control-shaped warmup (the run's first
  * process alone pays page-cache and first-build cold start), the early
  * control, base, head, head, base, the late control. The base/head/head/
  * base palindrome cancels linear drift to first order; the two same-shaped
  * control legs (base commit, only [[ControlQueries]], [[ControlReps]]
  * reps) bracket that window, so their late/early ratio isolates
  * time-varying box noise. (Comparing a short control JVM against the same
  * queries inside the full base leg measures JVM warmth instead.) Scale
  * sections are off in every leg: the question is per-query medians at the
  * primary SF. [[summary]] turns the six legs into the `noise` and `paired`
  * blocks; a run that does not self-qualify exits 3, to be redone on a
  * quieter box rather than quoted.
  *
  * Usage: `sbt "runMain graft.BenchAB <baseCommit> [headCommit]"`
  * (headCommit defaults to HEAD). Env honored: SPARK_GRAFT_SF_DIR,
  * SPARK_GRAFT_REPS (default 3), SPARK_GRAFT_ONLY (forwarded to a head
  * side that supports it; base sides predating the filter run the full
  * registry), SPARK_GRAFT_AB_OUT (default bench_ab.json).
  */
object BenchAB {

  /** Control set for the same-code drift leg: dependency-light, mid-cost,
    * deterministic data-path queries spanning the relational/text/
    * similarity/multimodal families. Mid-cost on purpose — sub-100 ms
    * queries measure JVM jitter, multi-second ones stretch the control leg
    * past the drift window it is supposed to sample. */
  val ControlQueries: Seq[String] = Seq(
    "q02_tag_filter", "q04_health_classify", "q14_semi_join",
    "d01_dedup_exact", "d03_token_stats", "d15_repetition",
    "e01_cosine_knn", "m01_binary_meta")

  /** Absolute ceiling on acceptable same-code geomean drift, in log-ratio
    * units (|log geomean|: the same scale `order_spread` and the 3·SE term
    * use, so both qualification gates share exact units; at these
    * magnitudes log(1+x) ≈ x, so 0.05 still reads "≈5%"). The band the run
    * actually applies is variance-justified:
    * `min(0.05, max(0.03, 3·SE))` where SE is the standard error of the
    * control legs' geomean (stddev of per-query log-ratios / √n) — so a
    * run qualifies either inside a tight 3% band or inside a band its own
    * measured control variance justifies, never past 5%. */
  val ControlDriftBand: Double = 0.05

  /** Tight default band — drift at or under this always qualifies. */
  val ControlDriftTight: Double = 0.03

  /** Rep count for the control legs: 3-rep control medians spent most of
    * the 5% band on their own noise; more reps steady the medians without
    * touching the base/head legs' comparability with earlier artifacts. */
  val ControlReps: Int = 5

  private def sh(cmd: Seq[String], cwd: Option[java.io.File] = None,
                 env: Seq[(String, String)] = Seq.empty): Int =
    Process(cmd, cwd, env: _*).!(ProcessLogger(_ => (), e => System.err.println(e)))

  private def shOut(cmd: Seq[String]): String =
    Process(cmd).!!.trim

  /** What the summary reads of one Bench line: the medians and rep times
    * of the queries that ran, and the names of those that errored. An
    * errored query's times are times-to-error, not runtimes, so they are
    * left out of both maps. A failed leg (`{"err":"bench rc=…"}`) reads as
    * empty. */
  private final case class Leg(queries: Map[String, Double],
                               repTimes: Map[String, Seq[Double]], errored: Set[String])

  private def leg(line: String): Leg = {
    val j = ArtifactOut.parse(line)
    def obj(key: String): Map[String, JsonNode] =
      Option(j.get(key)).filter(_.isObject)
        .map(_.properties.asScala.map(e => e.getKey -> e.getValue).toMap).getOrElse(Map.empty)
    val errored = obj("err").keySet
    Leg(obj("queries").collect { case (q, v) if !errored(q) => q -> v.asDouble },
        obj("rep_times").collect { case (q, v) if !errored(q) => q -> v.asScala.map(_.asDouble).toSeq },
        errored)
  }

  /** The artifact's `noise` and `paired` blocks, and whether the run
    * self-qualified. */
  final case class Summary(noise: ListMap[String, Any], paired: ListMap[String, Any],
                           qualified: Boolean)

  /** The summary over the six leg lines, in run order: the early control,
    * the A/B/B/A palindrome (base, head, head2, base2) and the late control.
    *
    *  - `noise`: the two same-code control legs' per-query late/early ratios,
    *    their geomean drift in log units and its standard error, the band
    *    the drift is held to (see [[ControlDriftBand]]), per-control rep CV
    *    and the head leg's rep-CV spread.
    *  - `paired`: per-query medians pooled across each side's two legs
    *    (first rep of each leg dropped), their sum and geomean ratios, and
    *    the two orderings' whole-leg sum ratios, whose spread
    *    (`order_spread`) must sit inside the same band.
    *  - A query errored in any of the four A/B legs is left out of `paired`
    *    and of every pair sum.
    *  - A figure with no data (say, every control query errored) is `null`.
    */
  def summary(ctl0Line: String, baseLine: String, headLine: String,
              head2Line: String, base2Line: String, ctlLine: String): Summary = {
    val ctl0 = leg(ctl0Line)
    val ctl = leg(ctlLine)
    val common = ControlQueries.filter(q => ctl0.queries.contains(q) && ctl.queries.contains(q))
    val ratios = common.map(q => q -> ctl.queries(q) / ctl0.queries(q))
    val logRatios = ratios.map(r => math.log(r._2))
    val geomean =
      if (ratios.isEmpty) Double.NaN else math.exp(logRatios.sum / logRatios.size)
    // Log units, the scale `order_spread` and the 3·SE band also use.
    val drift = math.abs(math.log(geomean))
    // Standard error of the control geomean from the per-query log-ratio
    // spread: the measured variance that justifies a band wider than the
    // tight 3% (never past the 5% ceiling).
    val se =
      if (logRatios.size < 2) Double.NaN
      else {
        val m = logRatios.sum / logRatios.size
        math.sqrt(logRatios.map(x => (x - m) * (x - m)).sum /
          (logRatios.size - 1)) / math.sqrt(logRatios.size.toDouble)
      }
    val bandUsed =
      if (se.isNaN) ControlDriftTight
      else math.min(ControlDriftBand, math.max(ControlDriftTight, 3.0 * se))
    def repCvs(l: Leg): Map[String, Double] =
      l.repTimes.flatMap { case (q, ts) => Stats.repCv(ts).map(q -> _) }
    // Per-control rep CV: the worst of the two control legs per query, the
    // record of which control members are noisy and by how much.
    val (ctl0Cv, ctlCv) = (repCvs(ctl0), repCvs(ctl))
    val controlCv = common.map(q =>
      q -> math.max(ctl0Cv.getOrElse(q, 0.0), ctlCv.getOrElse(q, 0.0)))

    val (base, head, head2, base2) = (leg(baseLine), leg(headLine), leg(head2Line), leg(base2Line))
    val errored = Seq(base, head, head2, base2).flatMap(_.errored).toSet
    val headCv = repCvs(head).values.toSeq.sorted
    // Pooled per-query medians across a side's two legs, first-in-JVM rep
    // of each leg dropped (cold codegen): the palindrome's point estimate,
    // immune to any single leg's window.
    def pooledMedians(l1: Leg, l2: Leg): Map[String, Double] =
      ((l1.repTimes.keySet ++ l2.repTimes.keySet) -- errored).iterator.flatMap { q =>
        val rs = Seq(l1, l2).map(_.repTimes.getOrElse(q, Seq.empty))
        val steady = rs.flatMap(_.drop(1))
        val xs = if (steady.nonEmpty) steady else rs.flatten
        Option.when(xs.nonEmpty)(q -> Stats.median(xs))
      }.toMap
    def legSum(l: Leg): Double = l.queries.collect { case (q, t) if !errored(q) => t }.sum
    val baseMed = pooledMedians(base, base2)
    val headMed = pooledMedians(head, head2)
    val pairedQ = (baseMed.keySet intersect headMed.keySet).toSeq.sorted
    val sumRatio = pairedQ.map(headMed).sum / pairedQ.map(baseMed).sum
    val geoRatio =
      if (pairedQ.isEmpty) Double.NaN
      else math.exp(pairedQ.map(q => math.log(headMed(q) / baseMed(q))).sum / pairedQ.size)
    // Internal consistency: the two orderings' whole-leg sum ratios. A real
    // code delta shows up in both with the same sign; a box window shows up
    // with opposite signs, so their spread is the residual whole-leg noise
    // after the palindrome cancellation.
    val pair1 = legSum(head) / legSum(base)
    val pair2 = legSum(head2) / legSum(base2)
    val orderSpread =
      if (pair1 > 0 && pair2 > 0) math.abs(math.log(pair1 / pair2)) else Double.NaN
    def pct(xs: Seq[Double], p: Double): Double =
      if (xs.isEmpty) Double.NaN else Stats.percentile(xs, p)
    val qualified = ratios.nonEmpty && drift <= bandUsed &&
      !orderSpread.isNaN && orderSpread <= bandUsed
    import ArtifactOut.round4
    def rounded(xs: Seq[(String, Double)]) = ListMap.from(xs.map { case (q, x) => q -> round4(x) })
    Summary(
      ListMap(
        "control_queries" -> ControlQueries, "control_reps" -> ControlReps,
        "control_ratio" -> rounded(ratios), "control_cv" -> rounded(controlCv),
        "control_geomean" -> round4(geomean), "control_drift" -> round4(drift),
        "control_geomean_se" -> round4(se),
        "band_ceiling" -> ControlDriftBand, "band_tight" -> ControlDriftTight,
        "band_used" -> round4(bandUsed),
        "head_rep_cv_median" -> round4(pct(headCv, 0.5)),
        "head_rep_cv_p90" -> round4(pct(headCv, 0.9)),
        "self_qualified" -> qualified),
      ListMap(
        "design" -> "ABBA", "n_queries" -> pairedQ.size,
        "sum_ratio" -> round4(sumRatio), "geomean_ratio" -> round4(geoRatio),
        "pair1_sum_ratio" -> round4(pair1), "pair2_sum_ratio" -> round4(pair2),
        "order_spread" -> round4(orderSpread),
        "per_query_ratio" -> rounded(pairedQ.map(q => q -> headMed(q) / baseMed(q)))),
      qualified)
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: BenchAB <baseCommit> [headCommit]")
    val base = shOut(Seq("git", "rev-parse", args(0)))
    val head = shOut(Seq("git", "rev-parse", if (args.length > 1) args(1) else "HEAD"))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val outFile = sys.env.getOrElse("SPARK_GRAFT_AB_OUT", "bench_ab.json")

    def run(commit: String, tag: String,
            extraEnv: Seq[(String, String)] = Seq.empty): String = {
      val wt = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"), s"graft_ab_${tag}_$commit").toString
      sh(Seq("git", "worktree", "remove", "--force", wt))
      require(sh(Seq("git", "worktree", "add", "--force", "--detach", wt, commit)) == 0,
        s"worktree add failed for $commit")
      val childOut = java.nio.file.Paths.get(wt, "ab_out.json")
      // extraEnv last: with duplicate keys the later entry wins in the
      // child process env, and a leg's explicit settings (the control
      // legs' ONLY=ControlQueries, their rep count) must beat the caller's
      // forwarded SPARK_GRAFT_ONLY, or the control legs run the caller's
      // subset and the drift geomean has no common queries to average.
      val env = Seq(
        "SPARK_GRAFT_SF_DIR" -> sfDir,
        "SPARK_GRAFT_REPS" -> reps.toString,
        // Skip both scale sections: secondary dir == primary is a no-op,
        // factor 1 disables the derived 10x build.
        "SPARK_GRAFT_SCALE_DIR" -> sfDir,
        "SPARK_GRAFT_SCALEUP_FACTOR" -> "1",
        "SPARK_GRAFT_BENCH_OUT" -> childOut.toString) ++
        sys.env.get("SPARK_GRAFT_ONLY").map("SPARK_GRAFT_ONLY" -> _) ++
        sys.env.get("SPARK_GRAFT_CPUS").map("SPARK_GRAFT_CPUS" -> _) ++
        extraEnv
      val rc = sh(Seq("sbt", "-batch", "runMain graft.Bench"),
        Some(new java.io.File(wt)), env)
      val text =
        if (rc == 0 && java.nio.file.Files.exists(childOut))
          java.nio.file.Files.readString(childOut).trim
        else ""
      sh(Seq("git", "worktree", "remove", "--force", wt))
      val parsed = try ArtifactOut.parse(text).isObject catch { case _: java.io.IOException => false }
      if (parsed) text
      else ArtifactOut.json(ListMap("err" -> s"bench rc=$rc for $commit: no JSON object in $childOut"))
    }

    val ctlEnv = Seq(
      "SPARK_GRAFT_ONLY" -> ControlQueries.mkString(","),
      "SPARK_GRAFT_REPS" -> ControlReps.toString,
      "SPARK_GRAFT_BENCH_ALLREPS" -> "1")
    val allReps = Seq("SPARK_GRAFT_BENCH_ALLREPS" -> "1")
    run(base, "warm", ctlEnv) // discarded
    val ctl0Json = run(base, "ctl0", ctlEnv)
    val baseJson = run(base, "base", allReps)
    val headJson = run(head, "head", allReps)
    val headJson2 = run(head, "head2", allReps)
    val baseJson2 = run(base, "base2", allReps)
    val ctlJson = run(base, "ctl", ctlEnv)

    val sum = summary(ctl0Json, baseJson, headJson, headJson2, baseJson2, ctlJson)
    val legs = Seq("base" -> (base, baseJson), "head" -> (head, headJson),
      "head2" -> (head, headJson2), "base2" -> (base, baseJson2),
      "control_early" -> (base, ctl0Json), "control" -> (base, ctlJson))
    val out = ListMap[String, Any]("sf" -> sfDir, "reps" -> reps,
      "noise" -> sum.noise, "paired" -> sum.paired) ++
      legs.map { case (k, (commit, line)) =>
        k -> ListMap("commit" -> commit, "bench" -> ArtifactOut.parse(line)) }
    val wrote = ArtifactOut.write(outFile, ArtifactOut.json(out))
    println(s"wrote $outFile (base=$base head=$head sum_ratio=${sum.paired("sum_ratio")} " +
      s"pair1=${sum.paired("pair1_sum_ratio")} pair2=${sum.paired("pair2_sum_ratio")} " +
      s"control_drift=${sum.noise("control_drift")} self_qualified=${sum.qualified})")
    if (!wrote) sys.exit(2)
    // A drift beyond the band means the base and head legs are not
    // comparable at the claimed precision — flag loudly so the run is
    // redone instead of quoted.
    if (!sum.qualified) {
      System.err.println(s"[bench_ab] NOT SELF-QUALIFIED: control drift " +
        s"${sum.noise("control_drift")}, order spread ${sum.paired("order_spread")}, " +
        s"band ${sum.noise("band_used")}")
      sys.exit(3)
    }
  }
}
