package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join: attach to each left row the most recent right row at or
  * before its timestamp, per key — the standard point-in-time lookup
  * (label propagation, slowly-changing joins, sensor alignment).
  *
  * Spark has no native as-of join; a theta-join on
  * `l.ts >= r.ts` explodes into a broadcast-nested-loop. This runs it as
  * union + per-key ordered forward-fill instead: ONE shuffle on the key,
  * each partition scanned once by a window — the plan scales linearly in
  * rows regardless of time overlap (the reference's kNN-prefilter
  * interval matching, io/dataset_reader.py:264-298, is the ratio-based
  * cousin; see [[IntervalJoin]]).
  *
  * Tie rule: a right row at exactly left.ts matches (right sorts before
  * left at equal timestamps); among equal-timestamp right rows the one
  * with the highest tiebreak column wins (deterministic).
  */
object AsOfJoin {

  /** @param left  table with `keyCol`, `tsCol` (+ payload)
    * @param right table with `keyCol`, `tsCol` (+ payload); its columns
    *              are re-emitted with `rightPrefix`
    * @param toleranceUs when set, matches older than this are nulled
    * @return left rows + prefixed right-match columns (null = no match)
    */
  def asOf(left: DataFrame, right: DataFrame, keyCol: String = "user_id",
           tsCol: String = "t_us", rightPrefix: String = "right_",
           tiebreakCol: Option[String] = None,
           toleranceUs: Option[Long] = None): DataFrame = {
    val leftCols = left.columns
    val rightCols = right.columns.filterNot(c => c == keyCol)

    val rStructType = org.apache.spark.sql.types.StructType(
      right.select(rightCols.map(col): _*).schema.fields)
    val lStructType = org.apache.spark.sql.types.StructType(
      left.select(leftCols.map(col): _*).schema.fields)

    val l = left.select(
      col(keyCol), col(tsCol).as("_ts"), lit(1).as("_side"), lit(0L).as("_tb"),
      struct(leftCols.map(col): _*).as("_l"),
      lit(null).cast(rStructType).as("_r"))
    val r = right.select(
      col(keyCol), col(tsCol).as("_ts"), lit(0).as("_side"),
      tiebreakCol.map(col(_).cast("long")).getOrElse(lit(0L)).as("_tb"),
      lit(null).cast(lStructType).as("_l"),
      struct(rightCols.map(col): _*).as("_r"))

    val w = Window.partitionBy(keyCol)
      .orderBy(col("_ts"), col("_side"), col("_tb"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val filled = l.unionByName(r)
      .withColumn("_match", last(col("_r"), ignoreNulls = true).over(w))
      .filter(col("_side") === 1)

    val bounded = toleranceUs match {
      case Some(tol) =>
        filled.withColumn("_match",
          when(col("_ts") - col("_match").getField(tsCol) <= tol, col("_match")))
      case None => filled
    }

    val out = leftCols.map(c => col("_l").getField(c).as(c)) ++
      rightCols.map(c => col("_match").getField(c).as(s"$rightPrefix$c"))
    bounded.select(out: _*)
  }
}
