package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Derived-scale-factor generator: replicates a testdata directory N× into
  * a new directory so the bench can measure a ≥10× scale point above the
  * largest driver-provided SF (VERDICT r7 missing #2 — the 100×-scale
  * claims were plan-audited but measured only to sf0.1).
  *
  * Replication is NOT naive row duplication — duplicating every row 10×
  * would (a) multiply every key's group size instead of the key count,
  * and (b) hand the near-dup operators a corpus where every document has 9
  * verbatim twins, making their candidate work measure a fixture artifact
  * (quadratic clique growth) instead of engine scaling. Instead each
  * replica i gets:
  *
  *  - int64 keys offset by `i × (max(key)+1)` per table, with foreign keys
  *    offset by the referenced table's stride (orders.o_custkey moves with
  *    customer, lineitem.l_orderkey with orders, …) so join fan-outs and
  *    group cardinalities scale the way a genuinely bigger dataset's would;
  *  - document text mapped through a per-replica alphabet BIJECTION
  *    (Caesar shift ∘ seeded permutation; `translate`, codegen'd): lengths,
  *    token shapes and WITHIN-replica near-dup structure are preserved,
  *    while token/shingle/bigram hashes across replicas decorrelate — at
  *    EVERY factor, not just ≤ 26 — so near-dup pair density stays
  *    constant per replica and dedup cost scales like real corpus growth;
  *  - embedding vectors rotated left by i % dim positions with a ±1
  *    sign-flip overlay for i ≥ dim: both transforms are orthogonal (all
  *    intra-replica cosines exactly preserved) and jointly distinct per
  *    replica, so ANN index/bucket load scales linearly in corpus size;
  *  - dimension tables (region, nation) copied as-is — at any real scale
  *    these stay broadcast-sized, and inflating them would distort every
  *    star-join plan the bench is trying to measure.
  *
  * Events keep their user population and time window (10× events = rate
  * growth, the realistic axis) with only event_id offset. `ts` is read RAW
  * (no nano→micro conversion) so the derived file round-trips through
  * [[graft.sources.Tables.load]] identically to the source.
  */
object ScaleUp {

  /** Marker file recording what the derived dir was built from; a content
    * mismatch (different source or factor) forces a rebuild. */
  private def marker(outDir: String) =
    java.nio.file.Paths.get(outDir, "_GRAFT_SCALEUP")

  /** Build `outDir` as `factor`× `srcDir` unless an up-to-date build is
    * already there. Returns true when the derived dir is ready. */
  def ensure(spark: SparkSession, srcDir: String, outDir: String, factor: Int): Boolean = {
    val want = s"src=$srcDir factor=$factor v3"
    val m = marker(outDir)
    if (java.nio.file.Files.exists(m) &&
        java.nio.file.Files.readString(m).trim == want) return true
    build(spark, srcDir, outDir, factor)
    java.nio.file.Files.createDirectories(m.getParent)
    java.nio.file.Files.writeString(m, want + "\n")
    true
  }

  private def raw(spark: SparkSession, srcDir: String, name: String): DataFrame = {
    graft.sources.Tables.prepare(spark) // nanosAsLong so events.ts reads raw
    spark.read.parquet(s"$srcDir/$name.parquet")
  }

  private def stride(df: DataFrame, key: String): Long =
    df.agg(max(col(key))).head().getLong(0) + 1L

  /** Union of `factor` replicas, replica i transformed by `mod(df, i)`. */
  private def replicate(df: DataFrame, factor: Int)(mod: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until factor).map(i => mod(df, i)).reduce(_ union _)

  private def shiftKeys(df: DataFrame, i: Int, strides: (String, Long)*): DataFrame =
    strides.foldLeft(df) { case (d, (k, s)) =>
      d.withColumn(k, col(k) + lit(i * s))
    }

  def build(spark: SparkSession, srcDir: String, outDir: String, factor: Int): Unit = {
    // File counts for the REPLICATED tables scale with the factor (v3,
    // optimization r17): a fixed count left the factor-100 documents corpus
    // as 8 ~7 MB single-row-group files — ONE openCost-packed scan split,
    // so every map-heavy text query measured a single-task scan stage
    // (guide §2.5 input skew / §6 small-files), a fixture artifact rather
    // than engine scaling; a corpus 100× the bytes carries ~100× the files
    // in any real lakehouse. Factor ≤ 10 builds keep the v2 counts, so the
    // x10 bench column stays comparable with prior rounds.
    val fScale = math.max(1, factor / 10)
    def write(df: DataFrame, name: String, baseFiles: Int,
              scaled: Boolean = true): Unit =
      df.repartition(if (scaled) baseFiles * fScale else baseFiles)
        .write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")

    // Dimension tables: copy (broadcast-sized at every real scale — file
    // count stays 1, they do not grow).
    for (t <- Seq("region", "nation"))
      write(raw(spark, srcDir, t), t, 1, scaled = false)

    val customer = raw(spark, srcDir, "customer")
    val supplier = raw(spark, srcDir, "supplier")
    val part = raw(spark, srcDir, "part")
    val orders = raw(spark, srcDir, "orders")
    val custS = stride(customer, "c_custkey")
    val suppS = stride(supplier, "s_suppkey")
    val partS = stride(part, "p_partkey")
    val orderS = stride(orders, "o_orderkey")

    write(replicate(customer, factor)((d, i) => shiftKeys(d, i, "c_custkey" -> custS)),
      "customer", 4)
    write(replicate(supplier, factor)((d, i) => shiftKeys(d, i, "s_suppkey" -> suppS)),
      "supplier", 1)
    write(replicate(part, factor)((d, i) => shiftKeys(d, i, "p_partkey" -> partS)),
      "part", 4)
    write(replicate(orders, factor)((d, i) =>
      shiftKeys(d, i, "o_orderkey" -> orderS, "o_custkey" -> custS)), "orders", 8)
    write(replicate(raw(spark, srcDir, "lineitem"), factor)((d, i) =>
      shiftKeys(d, i, "l_orderkey" -> orderS, "l_partkey" -> partS,
        "l_suppkey" -> suppS)), "lineitem", 32)

    val events = raw(spark, srcDir, "events")
    val eventS = stride(events, "event_id")
    write(replicate(events, factor)((d, i) =>
      shiftKeys(d, i, "event_id" -> eventS)), "events", 16)

    // Documents: a per-replica alphabet BIJECTION decorrelates token/
    // shingle/bigram hashes across replicas while preserving within-replica
    // near-dup structure (a bijective char map preserves every equality
    // relation between texts of the same replica). A bare Caesar shift
    // (i % 26) hands replicas 26 apart VERBATIM twin texts at factor > 26 —
    // the quadratic-clique fixture artifact this generator exists to avoid
    // — so the map is caesar(i % 26) composed with a Fisher–Yates
    // permutation seeded by i / 26 (identity at i < 26, keeping every
    // factor ≤ 26 build byte-identical to the v1 outputs), with pairwise
    // distinctness of the built maps asserted.
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val upper = lower.toUpperCase
    def alphaMap(i: Int): String = {
      val k = i % 26
      val shifted = (lower.drop(k) + lower.take(k)).toCharArray
      val g = i / 26
      if (g > 0) {
        var st = g.toLong
        def nxt(bound: Int): Int = {
          st = st * 6364136223846793005L + 1442695040888963407L
          math.floorMod(st >>> 17, bound.toLong).toInt
        }
        var j = shifted.length - 1
        while (j > 0) {
          val p = nxt(j + 1)
          val t = shifted(j); shifted(j) = shifted(p); shifted(p) = t
          j -= 1
        }
      }
      val lo = new String(shifted)
      lo + lo.toUpperCase
    }
    val maps = (0 until factor).map(alphaMap)
    require(maps.distinct.size == factor,
      s"replica alphabet maps collide at factor=$factor — decorrelation broken")
    val documents = raw(spark, srcDir, "documents")
    val docS = stride(documents, "doc_id")
    write(replicate(documents, factor) { (d, i) =>
      shiftKeys(d, i, "doc_id" -> docS)
        .withColumn("text", translate(col("text"), lower + upper, maps(i)))
    }, "documents", 8)

    // Embeddings: rotate dimensions by i % dim, then for i >= dim overlay a
    // per-group ±1 sign flip (flip dim j when bit (i/dim − 1) of j is 0).
    // Rotations and diagonal ±1 matrices are both ORTHOGONAL — every
    // intra-replica cosine is exactly preserved — while the overlay keeps
    // replicas dim apart from being verbatim vector twins (a bare rotation
    // wraps: slice-based rotation by i >= dim degenerated to the identity,
    // handing factor-100 builds 37 exact copies of replica 0). i < dim
    // builds stay byte-identical to v1.
    val embeddings = raw(spark, srcDir, "embeddings")
    val vecS = stride(embeddings, "vec_id")
    // Ragged embeddings fail LOUDLY (ADVICE r11): dim was probed from an
    // arbitrary first row, so mixed lengths would make the budget check and
    // the per-replica transforms silently inconsistent instead of erroring.
    val dimRow = embeddings
      .agg(min(size(col("embedding"))), max(size(col("embedding")))).head()
    require(dimRow.getInt(0) == dimRow.getInt(1),
      s"ragged embedding lengths: min ${dimRow.getInt(0)} != max ${dimRow.getInt(1)}")
    val dim = dimRow.getInt(0)
    require(factor <= dim * (1 + 31 - Integer.numberOfLeadingZeros(dim)),
      s"factor=$factor exceeds the distinct (rotation × sign-flip) budget for dim=$dim")
    write(replicate(embeddings, factor) { (d, i) =>
      val r = i % dim
      val rot =
        if (r == 0) col("embedding")
        else concat(slice(col("embedding"), r + 1, 100000),
          slice(col("embedding"), 1, r))
      val g = i / dim
      val out =
        if (g == 0) rot
        else transform(rot, (x, idx) =>
          when(shiftright(idx, g - 1) % 2 === 0, -x).otherwise(x))
      shiftKeys(d, i, "vec_id" -> vecS).withColumn("embedding", out)
    }, "embeddings", 2)
  }

  /** Standalone entry: `runMain graft.ScaleUp [srcDir] [outDir] [factor]`. */
  def main(args: Array[String]): Unit = {
    val srcDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "derived/x10"
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = GraftSession.create()
    ensure(spark, srcDir, outDir, factor)
    spark.stop()
  }
}
