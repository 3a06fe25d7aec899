package graft.queries

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.expr.HashExpressions

/** Plan-shape evidence for the 100 TB design claims: bucketed co-located
  * joins avoid the shuffle entirely, and partition/filter pushdown reaches
  * the parquet scan. These are the properties the DataFrame code relies on
  * Catalyst to deliver — asserted here so a regression in plan shape fails
  * the suite, not just the benchmark. */
class ScalePlanSpec extends SparkSpec {

  test("bucketed tables join with zero shuffle (co-located join)") {
    import spark.implicits._
    val left = (1 to 1000).map(i => (i.toLong, s"l$i")).toDF("k", "lv")
    val right = (1 to 1000).map(i => (i.toLong, s"r$i")).toDF("k", "rv")
    left.write.mode("overwrite").bucketBy(8, "k").sortBy("k")
      .saveAsTable("bkt_left")
    right.write.mode("overwrite").bucketBy(8, "k").sortBy("k")
      .saveAsTable("bkt_right")
    // Tiny tables would be broadcast (which also skips the shuffle but
    // proves nothing about bucketing) — force the sort-merge path the way a
    // two-large-tables join would take it at scale.
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("bkt_left").join(spark.table("bkt_right"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"), plan)
      assert(joined.count() == 1000)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("partition pruning: a dt filter reads only matching partitions") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("prune-").toString
    (1 to 300).map(i => (i, s"2024-01-${"%02d".format(i % 3 + 1)}"))
      .toDF("id", "dt")
      .write.mode("overwrite").partitionBy("dt").parquet(dir)
    val q = spark.read.parquet(dir).filter(col("dt") === "2024-01-02")
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(dt"), scan)
    assert(q.count() == 100)
  }

  test("predicate pushdown reaches the parquet reader on the events table") {
    val q = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "events")
      .filter(col("event_type") === "click").select("event_id")
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,click)]"), scan)
  }

  test("e02 IVF probe join broadcasts the probe side (no shuffle of the corpus)") {
    val plan = SimilarityQueries.e02AnnIvf
      .run(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("d14 rollup aggregates map-side before its single shuffle (partial agg)") {
    val qe = TextQueries.d14CorpusStats
      .run(spark, "/root/testdata/sf0.001").queryExecution
    val plan = qe.executedPlan.toString
    // Two HashAggregate levels around one exchange = partial + final merge.
    assert(plan.contains("HashAggregate"), plan)
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
  }

  test("d22 top-K is a heap (TakeOrderedAndProject), never a global sort") {
    val plan = TextQueries.d22VocabTopK
      .run(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // Partial + final aggregate around the one token shuffle.
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
  }

  test("d23 broadcasts the vocab-sized df table and prunes the window map-side") {
    val plan = TextQueries.d23TfidfTop
      .run(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    // WindowGroupLimit pre-filters rank<=K before the doc_id exchange.
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("q32 pushes all three predicates to the scans and heap-selects the top 10") {
    val plan = RelationalQueries.q32TpchQ3
      .run(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(plan.contains("EqualTo(c_mktsegment,BUILDING)"), plan)
    assert(plan.contains("LessThan(o_orderdate"), plan)
    assert(plan.contains("GreaterThan(l_shipdate"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("m03 phash near-dup is a band equi-join, never all-pairs") {
    val plan = MultimodalQueries.m03PhashNeardup
      .run(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    // Candidate generation must be an equi-join on (band_no, band_value) —
    // a hash or sort-merge join — with no cartesian fallback; the signature
    // itself is a codegen'd native expression (graft_phash), so the scan
    // projection stays inside whole-stage codegen.
    assert(plan.contains("SortMergeJoin") || plan.contains("HashJoin"), plan)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("phashsig") || plan.contains("graft_phash"), plan)
  }

  test("d32 substring dup is keyed aggregation + gram-hash equi-join, no pair join") {
    val plan = TextQueries.d32SubstringDup
      .run(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    // The whole operator is groupBys + one equi-join on the 64-bit gram
    // key: document PAIRS must never materialize (the point of replacing
    // the suffix array with a keyed aggregation), so any nested-loop or
    // cartesian shape is a defect, and the positional shingle kernel runs
    // as the native codegen expression.
    assert(plan.contains("SortMergeJoin") || plan.contains("HashJoin"), plan)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("shinglehashesall") || plan.contains("graft_shingle_hashes_all"),
      plan)
  }

  test("e10 range search probes via a bucket equi-join with the multi-probe explode map-side") {
    val plan = SimilarityQueries.e10RangeSearch
      .run(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin") || plan.contains("HashJoin"), plan)
    assert(plan.contains("Generate"), plan) // probe expansion is an explode, not a join
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("e11 filtered ANN broadcasts the widened probe table onto the list-keyed corpus") {
    val plan = SimilarityQueries.e11AnnFiltered
      .run(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("approximate distinct (HLL sketch) lands within 5% of exact") {
    import spark.implicits._
    val df = (1 to 20000).map(i => i % 7919).toDF("v")
    val approx = df.agg(approx_count_distinct(col("v")).as("a"))
      .head().getLong(0)
    assert(math.abs(approx - 7919.0) / 7919.0 < 0.05, approx)
  }

  test("q33 broadcasts every dimension and never goes cartesian") {
    val plan = RelationalQueries.q33MinCostSupplier
      .run(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    // part, supplier+nation, and the min-cost join-back: the dims must be
    // broadcast; the only shuffles belong to the two-level aggregation.
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2, plan)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    // The p_size filter reaches the fact BELOW the cost aggregation: a
    // broadcast SEMI join must sit under the first HashAggregate, so the
    // fact-sized shuffle carries only surviving parts' rows.
    val firstAgg = plan.indexOf("HashAggregate")
    assert(firstAgg >= 0 && plan.substring(firstAgg).contains("LeftSemi"),
      s"no semi join below the cost aggregate:\n$plan")
  }

  test("d26 scrubs map-side — no corpus shuffle, no join in the main plan") {
    val df = TextQueries.d26StopwordScrub.run(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    // Optimization r18: the K-row stop list is computed by a bounded
    // TakeOrdered collect (its own job at build time) and ships as the
    // exact-set kernel, so the MAIN plan is a pure map pipeline + cached
    // presentation sort: no join of any kind, and no exchange keyed on
    // doc_id — the corpus never shuffles. The scrub runs under sortedOnce's
    // cache, so the kernel is asserted on the cached child's plan.
    val cached = df.queryExecution.withCachedData.collect {
      case r: InMemoryRelation => r.cacheBuilder.cachedPlan
    }
    assert(cached.size == 1, s"d26 is not one cached presentation sort:\n$plan")
    val kernels = AdaptivePlans.flatMap(cached.head)(_.expressions.flatMap(_.collect {
      case k: HashExpressions.StringSetContains => k
    }))
    assert(kernels.nonEmpty,
      s"d26's cached child does not probe the exact-set kernel:\n${cached.head}")
    assert(!plan.contains("hashpartitioning(doc_id"),
      s"d26 reassembly shuffles the corpus again:\n$plan")
    assert(!plan.contains("Join"), s"d26 main plan regained a join:\n$plan")
  }

  test("d27 shard shuffle partitions by shard, no global sort before the window") {
    val plan = TextQueries.d27ShardShuffle
      .run(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    // The row_number window must sit on a hash exchange keyed by shard —
    // per-shard local sorts, parallel across shards. (The final
    // display-order ORDER BY is allowed to range-partition.)
    assert(plan.contains("Exchange hashpartitioning(shard"), plan)
  }

  test("m05 frame overlap is a (frame_no, digest) equi-join, never all-pairs") {
    val plan = MultimodalQueries.m05FrameOverlap
      .run(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin") || plan.contains("HashJoin"), plan)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("d28 incremental probe is a band equi-join against the signature index") {
    val plan = TextQueries.d28IncrementalDedup
      .run(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    // The new batch probes the standing index by (band, bh) — an equi-join,
    // with the signature table coming off its materialized parquet scan.
    assert(plan.contains("SortMergeJoin") || plan.contains("HashJoin"), plan)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q36 decorrelates both EXISTS subqueries into semi/anti joins") {
    val plan = RelationalQueries.q36ExistsSubquery
      .run(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    // Catalyst must rewrite the correlated EXISTS / NOT EXISTS into
    // LeftSemi / LeftAnti joins — a surviving subquery would re-execute
    // per outer row.
    assert(plan.contains("LeftSemi"), plan)
    assert(plan.contains("LeftAnti"), plan)
    assert(!plan.toLowerCase.contains("subquery"), plan)
  }

  test("q38 plans the native as-of exec with one exchange per side") {
    val plan = RelationalQueries.q38AsofNative
      .run(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), plan)
    // One hash exchange per side on its own key — the SMJ contract; the
    // final display ORDER BY adds range exchanges, not hash ones.
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 2, plan)
  }

  test("q41 broadcasts the HAVING survivors back; the fact shuffles once") {
    val plan = RelationalQueries.q41TpchQ18
      .run(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2, plan)
    // lineitem aggregates partial+final around its one orderkey shuffle.
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("e07 k-NN graph pairs come from a list-key equi-join, never all-pairs") {
    // The probe join lives in the BUILD plan (listPairs); since r10 the
    // consumers read the materialized graph tables, so the audit targets
    // the build directly and keeps the consumer cartesian-free.
    val (pairs0, _, _, _, _) = SimilarityQueries.listPairs(spark, "/root/testdata/sf0.001")
    val plan = pairs0.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin") || plan.contains("HashJoin"), plan)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    val cplan = SimilarityQueries.e07KnnGraph
      .run(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(!cplan.contains("CartesianProduct") &&
      !cplan.contains("BroadcastNestedLoopJoin"), cplan)
  }

  test("q44 gap fill shuffles on the user key only (grid explode is map-side)") {
    val plan = RelationalQueries.q44GapFill
      .run(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(plan.contains("Exchange hashpartitioning(user_id"), plan)
    assert(plan.contains("Generate explode"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("e06 re-rank broadcasts the shortlist onto the float table") {
    val plan = SimilarityQueries.e06AnnRerank
      .run(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    // Stage 2 must fetch full-precision vectors via a broadcast of the
    // queries x C candidate list — never by shuffling the embedding table.
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("similarity index parameters grow with the corpus (VERDICT r8 #1/#2)") {
    // e07/e08's IVF list count: sqrt growth with a floor of 16, so probe
    // candidates stay <= GraphNProbe * min(n/NList, CandCap) * n — linear.
    assert(SimilarityQueries.graphNList(0) == 16)
    assert(SimilarityQueries.graphNList(500) == 23)
    assert(SimilarityQueries.graphNList(5000) == 71)
    assert(SimilarityQueries.graphNList(50000) == 224)
    assert(SimilarityQueries.graphNList(5000000) == 2237)
    // d10's planes per band: smallest p in [4, 16] with 32*2^p >= n, so
    // expected bucket occupancy stays ~<= 32 whatever the corpus size.
    assert(SimilarityQueries.lshPlanes(0) == 4)
    assert(SimilarityQueries.lshPlanes(500) == 4)
    assert(SimilarityQueries.lshPlanes(5000) == 8)
    assert(SimilarityQueries.lshPlanes(50000) == 11)
    assert(SimilarityQueries.lshPlanes(Long.MaxValue) == 16) // hash-family cap
    assert(SimilarityQueries.LshBands * 16 <=
      graft.functions.PortableHash.A.length)
    // Monotone: a bigger corpus never gets a smaller index.
    val ns = Seq(1L, 100L, 1000L, 10000L, 100000L, 10000000L)
    assert(ns.map(SimilarityQueries.graphNList) == ns.map(SimilarityQueries.graphNList).sorted)
    assert(ns.map(SimilarityQueries.lshPlanes) == ns.map(SimilarityQueries.lshPlanes).sorted)
  }

  test("d36 CMS width and e12 coreset K derive from the corpus (VERDICT r10 #5)") {
    // d36: smallest power of two >= 4x the vocabulary estimate, clamped to
    // [512, 65536] — expected colliders per counter stay <= 1/4 as the
    // vocabulary grows, and the sketch stays bounded driver-side state.
    assert(TextQueries.cmsWidth(31.0) == 512)     // committed-gate scale: floor
    assert(TextQueries.cmsWidth(128.0) == 512)    // 4*128 = 512 exactly: floor
    assert(TextQueries.cmsWidth(129.0) == 1024)
    assert(TextQueries.cmsWidth(1000.0) == 4096)
    assert(TextQueries.cmsWidth(1e9) == 65536)    // cap: bounded forever
    val es = Seq(1.0, 100.0, 1e3, 1e4, 1e6, 1e8)
    assert(es.map(TextQueries.cmsWidth(_)) == es.map(TextQueries.cmsWidth(_)).sorted)
    // e12: K = sqrt(n)/16 with floor 8 — the cover grows with the same
    // index granularity as graphNList, while K - 1 scans stay sublinear.
    assert(SimilarityQueries.coresetK(500) == 8)
    assert(SimilarityQueries.coresetK(20000) == 8)  // committed-gate scale
    assert(SimilarityQueries.coresetK(1000000) ==
      SimilarityQueries.graphNList(1000000) / 16)
    assert(SimilarityQueries.coresetK(1000000) > 8)
    val ks = Seq(1L, 1000L, 100000L, 10000000L)
      .map(SimilarityQueries.coresetK(_))
    assert(ks == ks.sorted)
  }

  test("native sign-LSH bucket matches the declarative aggregate/transform tree") {
    import org.apache.spark.sql.functions._
    val P = graft.functions.PortableHash.P
    def coef(p: Int, i1: org.apache.spark.sql.Column) =
      (((lit(graft.functions.PortableHash.A(p)) * i1
        + lit(graft.functions.PortableHash.B(p))) % lit(P))
        % lit(2001L) - lit(1000L)).cast("double")
    val ppb = 8
    def declBucket(b: Int) = (0 until ppb).map { j =>
      val p = b * ppb + j
      val dot = aggregate(
        transform(col("ve"), (x, i) => x * coef(p, i + lit(1))),
        lit(0.0), (a, x) => a + x)
      when(dot >= 0.0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    val ve = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("ve"))
    val diff = ve.select(
        declBucket(0).as("d0"), declBucket(1).as("d1"),
        call_function("graft_sign_lsh", col("ve"), lit(0), lit(ppb)).as("n0"),
        call_function("graft_sign_lsh", col("ve"), lit(1), lit(ppb)).as("n1"))
      .filter(col("d0") =!= col("n0") || col("d1") =!= col("n1"))
      .count()
    assert(diff == 0L)
  }

  test("q48's bloom prune sits on the fact side BELOW the semi join") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join}
    val lp = RelationalQueries.q48BloomSemiJoin
      .run(spark, "/root/testdata/sf0.001")
      .queryExecution.optimizedPlan
    val joins = lp.collect { case j: Join => j }
    assert(joins.nonEmpty, lp.toString)
    // The runtime filter must survive optimization as a Filter on the
    // probe (left) subtree — pruning before the shuffle is the point.
    assert(joins.exists(_.left.collect {
      case f: Filter if f.condition.exists(
        _.isInstanceOf[graft.functions.expr.HashExpressions.BloomContains]) => f
    }.nonEmpty), lp.toString)
  }

  test("d31's sketch aggregates in one pass — no COUNT(DISTINCT) Expand") {
    val plan = TextQueries.d31KmvDistinct
      .run(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    // A count-distinct formulation would plan an Expand + double shuffle;
    // the KMV aggregator must keep the single partial->final agg shape.
    assert(!plan.contains("Expand"), plan)
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"), plan)
  }
}

/** Plan traversal that descends into adaptive plans and query stages. */
private object AdaptivePlans extends AdaptiveSparkPlanHelper
