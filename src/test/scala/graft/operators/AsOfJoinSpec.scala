package graft.operators

import graft.SparkSpec

/** As-of join edge semantics: <=-inclusivity, no-prior-match nulls,
  * latest-wins among multiple candidates, null right keys and times. */
class AsOfJoinSpec extends SparkSpec {

  test("each left row gets the latest right row at or before its time") {
    import spark.implicits._
    val clicks = Seq(("u1", 10L, "c1"), ("u1", 25L, "c2"), ("u2", 5L, "c3"))
      .toDF("k", "t", "cid")
    val purchases = Seq(("u1", 10L, 100L, 1.0), ("u1", 20L, 101L, 2.0),
      ("u2", 9L, 102L, 3.0))
      .toDF("k", "t", "pid", "pv")
    val got = AsOfJoin(clicks, purchases, "k", "t",
      rightCols = Seq("pid", "pv"), tiebreak = "pid")
      .orderBy("k", "t")
      .collect().map(r => (r.getAs[String]("cid"),
        Option(r.getAs[Any]("pid")), Option(r.getAs[Any]("pv")))).toSeq
    assert(got == Seq(
      ("c1", Some(100L), Some(1.0)),  // update at exactly t=10 IS visible
      ("c2", Some(101L), Some(2.0)),  // latest of the two prior updates
      ("c3", None, None)))            // u2's purchase at t=9 is after t=5
  }

  test("ties at equal time resolve to the max tiebreak value") {
    import spark.implicits._
    val clicks = Seq(("u1", 10L, "c1")).toDF("k", "t", "cid")
    val purchases = Seq(("u1", 10L, 7L, 1.0), ("u1", 10L, 9L, 2.0))
      .toDF("k", "t", "pid", "pv")
    val got = AsOfJoin(clicks, purchases, "k", "t",
      rightCols = Seq("pid", "pv"), tiebreak = "pid")
      .collect().map(r => (r.getLong(r.fieldIndex("pid")),
        r.getDouble(r.fieldIndex("pv")))).toSeq
    assert(got == Seq((9L, 2.0)))
  }

  test("a non-long tiebreak column keeps its own type's ordering") {
    import spark.implicits._
    val clicks = Seq(("u1", 10L, "c1")).toDF("k", "t", "cid")
    val purchases = Seq(("u1", 10L, "b", 1.0), ("u1", 10L, "a", 2.0))
      .toDF("k", "t", "pid", "pv")
    // String tiebreak: max is lexicographic "b"; before the typed-null fix
    // this would have thrown (or coerced) on the union's long/string clash.
    val got = AsOfJoin(clicks, purchases, "k", "t",
      rightCols = Seq("pid", "pv"), tiebreak = "pid")
      .collect().map(r => (r.getString(r.fieldIndex("pid")),
        r.getDouble(r.fieldIndex("pv")))).toSeq
    assert(got == Seq(("b", 1.0)))
  }

  test("null keys and null times on the right never match") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val cSchema = StructType(Seq(StructField("k", StringType), StructField("t", LongType),
      StructField("cid", StringType)))
    val pSchema = StructType(Seq(StructField("k", StringType), StructField("t", LongType),
      StructField("pid", LongType), StructField("pv", DoubleType)))
    val clicks = spark.createDataFrame(
      java.util.Arrays.asList(Row("u1", 10L, "c1"), Row(null, 10L, "c2")), cSchema)
    val purchases = spark.createDataFrame(
      java.util.Arrays.asList(Row(null, 5L, 1L, 1.0), Row("u1", null, 2L, 2.0)), pSchema)
    val got = AsOfJoin(clicks, purchases, "k", "t",
      rightCols = Seq("pid", "pv"), tiebreak = "pid")
      .select("cid", "pid").orderBy("cid").collect()
      .map(r => (r.getString(0), Option(r.get(1)))).toSeq
    assert(got == Seq(("c1", None), ("c2", None)))
  }
}
