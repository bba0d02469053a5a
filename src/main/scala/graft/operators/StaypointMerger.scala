package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Merge temporally-close staypoints at the same location, unless a
  * tripleg lies between them.
  *
  * Reference: trackintel/preprocessing/staypoints.py:250-370. The
  * reference runs a while-changed label-propagation loop; merging is
  * transitive only over *consecutive* rows, which is exactly
  * run-grouping — so the loop collapses into a single window pass: a row
  * continues its predecessor's run iff the predecessor was mergeable with
  * it, and the run id is a cumulative sum of "starts a new run" flags
  * (see SURVEY.md §4, an algorithmic improvement over the reference).
  */
object StaypointMerger {

  /** @param sp staypoints with `location_id`
    * @param tpls triplegs (pass an empty frame to allow merging across triplegs)
    * @param aggExtra extra output columns: name → "first" | "last" |
    *        "mean" | "sum" | "min" | "max" | "count" — the engine twin of
    *        the reference's pandas agg dict (staypoints.py:346-358),
    *        which forwards to DataFrame.agg
    */
  def mergeStaypoints(sp: DataFrame, tpls: DataFrame, maxTimeGapMinutes: Double = 10.0,
                      aggExtra: Map[String, String] = Map.empty): DataFrame = {
    require(sp.columns.contains("location_id"), "staypoints must contain column location_id")
    val gapUs = (maxTimeGapMinutes * 60e6).toLong

    // interleave with triplegs to know whether a tripleg sits between
    // consecutive staypoints
    val spPart = sp.select(col("id").as("_id"), col("user_id"), col("started_at"),
      lit("staypoint").as("_type"))
    val tplPart = tpls.select(col("id").as("_id"), col("user_id"), col("started_at"),
      lit("tripleg").as("_type"))
    val ord = when(col("_type") === "staypoint", 0).otherwise(1)
    val wAll = Window.partitionBy("user_id").orderBy(col("started_at"), ord, col("_id"))
    val nextType = spPart.unionByName(tplPart)
      .withColumn("_next_type", lead(col("_type"), 1).over(wAll))
      .filter(col("_type") === "staypoint")
      .select(col("_id"), col("_next_type"))

    val withNext = sp.join(nextType, sp("id") === nextType("_id"), "left").drop("_id")

    val w = Window.partitionBy("user_id").orderBy("started_at", "id")
    val prevFin = lag(unix_micros(col("finished_at")), 1).over(w)
    val prevLoc = lag(col("location_id"), 1).over(w)
    val prevNextType = lag(col("_next_type"), 1).over(w)

    // mergeable with previous row: same user (window), time gap within
    // threshold, same location, no tripleg after the previous staypoint
    val continues =
      (unix_micros(col("started_at")) - prevFin <= gapUs) &&
        (col("location_id") === prevLoc) &&
        (!(prevNextType <=> lit("tripleg")))
    val newRun = when(coalesce(continues, lit(false)), 0L).otherwise(1L)

    val runs = withNext
      .withColumn("_run", sum(newRun).over(w))

    // "first"/"last" are row-position semantics in the reference's
    // time-ordered frame — made deterministic here with min_by/max_by on
    // the (started_at, id) sort key.
    val rowKey = struct(col("started_at"), col("id"))
    def firstBy(c: Column): Column = min_by(c, rowKey)
    def lastBy(c: Column): Column = max_by(c, rowKey)

    // Base columns carry default aggregations, but — as in the reference,
    // where the user agg dict is merged over the defaults
    // (staypoints.py:346-358) — an aggExtra entry for a base column
    // overrides it (e.g. finished_at -> "first"). user_id is one of the
    // reference's defaults too (staypoints.py:349): grouping happens on a
    // hidden copy so an override aggregates the column instead of
    // colliding with the grouping key.
    val baseDefaults = Seq(
      "user_id" -> "first", "id" -> "first", "started_at" -> "first",
      "finished_at" -> "last", "location_id" -> "first")
    val baseNames = baseDefaults.map(_._1).toSet
    val resolved: Seq[(String, String)] =
      baseDefaults.map { case (c, d) => c -> aggExtra.getOrElse(c, d) } ++
        aggExtra.toSeq.filterNot { case (c, _) => baseNames(c) }
    val aggs: Seq[Column] = resolved.map {
      case (c, "first") => firstBy(col(c)).as(c)
      case (c, "last")  => lastBy(col(c)).as(c)
      case (c, "mean")  => avg(col(c)).as(c)
      case (c, "sum")   => sum(col(c)).as(c)
      case (c, "min")   => min(col(c)).as(c)
      case (c, "max")   => max(col(c)).as(c)
      case (c, "count") => count(col(c)).as(c)
      case (c, how) => throw new IllegalArgumentException(
        s"agg '$how' for $c not supported (first/last/mean/sum/min/max/count)")
    }

    val outCols = Seq("id", "user_id", "started_at", "finished_at", "location_id") ++
      aggExtra.keys.filterNot(baseNames)
    runs.withColumn("_uid", col("user_id"))
      .groupBy(col("_uid"), col("_run"))
      .agg(aggs.head, aggs.tail: _*)
      .drop("_uid", "_run")
      .select(outCols.map(col): _*)
  }
}
