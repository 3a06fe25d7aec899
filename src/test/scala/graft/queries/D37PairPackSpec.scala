package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.expr.HashOps

/** d37's packed pair key (optimization r18): the pair-count exchange — the
  * repo's largest shuffle (Σdf²/2 rows) — now carries ONE long
  * `(min << 32) | max` per pair instead of the (doc_a, doc_b) two-long key,
  * and the expansion emits n·(n−1)/2 rows from one Generate instead of n²
  * filtered to half. Correctness rests on the packing being injective on
  * [0, 2³²)² — which the kernel GUARDS by throwing on wider ids — and on the
  * unpack using the unsigned shift so ids ≥ 2³¹ survive the sign bit. These
  * tests pin the kernel contract, the guard, and row-for-row equality of the
  * registered query against the r17 explode×explode formulation (both
  * orderings' containment values included), on the fixture and on a
  * synthetic corpus with ids at the 32-bit boundary. */
class D37PairPackSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def packs(ids: Long*): Seq[Long] = {
    val arr = new org.apache.spark.sql.catalyst.util.GenericArrayData(ids.toArray)
    val out = HashOps.pairPack(arr)
    (0 until out.numElements()).map(out.getLong)
  }

  test("kernel: canonical packed pairs, order-insensitive, self-pairs dropped") {
    assert(packs(3L, 1L, 2L).sorted ===
      Seq((1L << 32) | 2L, (1L << 32) | 3L, (2L << 32) | 3L).sorted)
    assert(packs(5L) === Seq.empty)
    assert(packs() === Seq.empty)
    // equal values never pair (doc_a < doc_b strictness)
    assert(packs(4L, 4L) === Seq.empty)
  }

  test("kernel: an id array past 65 536 entries is refused, not wrapped") {
    // 65 537 ids give 2 147 516 416 pairs: over Int.MaxValue, where the old
    // Int product wrapped to a negative size.
    val e = intercept[IllegalArgumentException](packs((0L until 65537L): _*))
    assert(e.getMessage.contains("graft_pair_pack"), e.getMessage)
    assert(e.getMessage.contains("2147516416"), e.getMessage)
  }

  test("kernel: 32-bit boundary ids pack and unpack exactly (unsigned shift)") {
    val hi = 0xFFFFFFFFL // 2^32 - 1: sets the sign bit of the packed long
    val pk = packs(7L, hi)
    assert(pk.size == 1)
    assert(pk.head == ((7L << 32) | hi))
    // the unpack the query performs
    assert((pk.head >>> 32) == 7L)
    assert((pk.head & 0xFFFFFFFFL) == hi)
    // both ids >= 2^31: packed long is negative, unsigned shift still exact
    val a = 0x80000001L
    val b = 0xFFFFFFFEL
    val pk2 = packs(a, b)
    assert(pk2.head < 0L, "expected the sign bit set - the case the guard text cites")
    assert((pk2.head >>> 32) == a && (pk2.head & 0xFFFFFFFFL) == b)
  }

  test("kernel: guard throws on ids outside [0, 2^32)") {
    intercept[IllegalArgumentException](packs(1L << 32, 1L))
    intercept[IllegalArgumentException](packs(-1L, 1L))
  }

  /** The r17 formulation, verbatim: explode×explode + doc_a < doc_b filter,
    * two-long group key, sizes recomputed from the corpus scan. */
  private def d37R17(s: org.apache.spark.sql.SparkSession, dir: String) = {
    graft.sources.Tables.prepare(s)
    def docsT = graft.sources.Tables.load(s, dir, "documents")
    val sh = docsT.repartition(col("doc_id"))
      .select(col("doc_id"),
        call_function("graft_shingle_hashes",
          call_function("graft_token_hashes", col("text")), lit(3)).as("sh"))
      .filter(size(col("sh")) > 0)
    val sizes = sh.select(col("doc_id"), size(col("sh")).as("n_sh"))
    val post = sh.select(col("doc_id"), explode(col("sh")).as("g"))
    val informative = post.groupBy(col("g"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, 64))
      .select(col("g"))
    val shared = post.join(informative, "g")
      .groupBy(col("g"))
      .agg(collect_list(col("doc_id")).as("ds"))
      .select(explode(col("ds")).as("doc_a"), col("ds"))
      .select(col("doc_a"), explode(col("ds")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
    shared
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (col("n_shared").cast("double") / col("n_a")).as("cont_a_in_b"),
        (col("n_shared").cast("double") / col("n_b")).as("cont_b_in_a"))
      .filter(greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= 0.8)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map { r =>
      (0 until r.length).map { i =>
        r.get(i) match {
          case d: java.lang.Double =>
            java.lang.Double.doubleToLongBits(d).toString
          case v => String.valueOf(v)
        }
      }.mkString("|")
    }.toSeq

  test("packed d37 equals the r17 explode-squared formulation bit-for-bit") {
    val old = rows(d37R17(spark, dir))
    val now = rows(TextQueries.d37ContainmentDup.run(spark, dir))
    assert(old.nonEmpty, "vacuous: no containment pairs at sf0.001")
    assert(now == old,
      s"packed d37 diverged: packed-only=${now.diff(old).take(3)} " +
        s"r17-only=${old.diff(now).take(3)}")
  }

  test("packed d37 matches on a synthetic corpus with 32-bit-boundary ids") {
    import spark.implicits._
    val tmp = graft.streaming.StreamHarness.tempDir("d37-edge")
    // Three docs sharing a passage, ids straddling 2^31 (sign bit of the
    // packed low/high halves) — plus a subset page (containment 1.0).
    val passage = (1 to 12).map(i => s"tok$i").mkString(" ")
    Seq(
      (5L, s"$passage extra words here and more filler tokens beyond"),
      (0x80000000L, s"prefix $passage suffix tail words going on further"),
      (0xFFFFFFFFL, passage),
      (17L, "completely unrelated text with its own private tokens only"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val old = rows(d37R17(spark, tmp))
    val now = rows(TextQueries.d37ContainmentDup.run(spark, tmp))
    assert(old.nonEmpty, "vacuous: synthetic corpus produced no pairs")
    assert(now == old,
      s"boundary-id d37 diverged: packed-only=${now.diff(old).take(3)} " +
        s"r17-only=${old.diff(now).take(3)}")
  }
}
