package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join: attach to each left row the most recent right row of the
  * same key with time ≤ the left row's time.
  *
  * Composed from existing operators (the brief's preference order (a)):
  * union both sides with a side tag, one window pass per key ordered by
  * (time, side, tiebreak) with `last(..., ignoreNulls)` carrying the right
  * side's attributes forward, then keep left rows. ONE shuffle on the key —
  * the naive alternative (range join + per-row max) explodes into a
  * per-key cross product at scale. Left-outer semantics: rows with no
  * prior right match keep nulls. A right row with a null key or a null
  * time never matches (DuckDB's `ASOF LEFT JOIN`, `AsOfJoinExec`).
  */
object AsOfJoin {

  /** @param left      event side (must contain `key` and `time`)
    * @param right     state/update side (must contain `key` and `time`)
    * @param key       equi-join key column name (same name both sides)
    * @param time      event-time column name (same name both sides)
    * @param rightCols right-side attribute columns to carry (renamed as-is)
    * @param tiebreak  right-side column ordering ties at equal time
    */
  def apply(left: DataFrame, right: DataFrame, key: String, time: String,
            rightCols: Seq[String], tiebreak: String): DataFrame = {
    val leftCols = left.columns.filterNot(c => c == key || c == time)
    // side = 0 sorts the right row BEFORE a left row at equal time, so an
    // update at exactly t is visible to an event at t (<= semantics).
    val taggedRight = right.filter(col(key).isNotNull && col(time).isNotNull)
      .select(Seq(col(key), col(time), lit(0).as("_side"), col(tiebreak).as("_tb")) ++
        rightCols.map(col) ++ leftCols.map(c => lit(null).as(c)): _*)
    // The left side's tiebreak placeholder must carry the RIGHT side's
    // tiebreak type: a hard-coded long would union-coerce a string tiebreak
    // to string and make numeric ties compare lexicographically ("9" > "10").
    val tiebreakType = right.schema(tiebreak).dataType
    val taggedLeft = left.select(
      Seq(col(key), col(time), lit(1).as("_side"), lit(null).cast(tiebreakType).as("_tb")) ++
        rightCols.map(c => lit(null).as(c)) ++ leftCols.map(col): _*)
    val w = Window.partitionBy(col(key))
      .orderBy(col(time), col("_side"), col("_tb"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = rightCols.foldLeft(taggedRight.unionByName(taggedLeft)) {
      (df, c) => df.withColumn(c, last(col(c), ignoreNulls = true).over(w))
    }
    carried.filter(col("_side") === 1).drop("_side", "_tb")
  }
}
