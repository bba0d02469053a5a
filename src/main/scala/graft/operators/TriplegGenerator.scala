package graft.operators

import graft.model.Tables
import graft.util.{Ids, SortedScan}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable.ArrayBuffer

/** Tripleg generation ("between_staypoints"): all positionfixes between two
  * staypoints form one tripleg, split further at temporal gaps.
  *
  * Reference: trackintel/preprocessing/positionfixes.py:200-458. The
  * reference builds boolean "new tripleg" flags with shift() and then does
  * an imperative arange/ffill id pass. Here that chain is one per-user
  * [[SortedScan]] run over the fixes in (tracked_at, id) order, the same
  * shape as [[StaypointGenerator]], whose only state is the open segment.
  * One shuffle by user, one linear pass, no window and no aggregate.
  *
  * Semantics reproduced exactly:
  *  - new tripleg starts at: first non-staypoint fix of a user; a fix
  *    following a temporal gap > gapThreshold; the first fix after a
  *    staypoint (a change of `staypoint_id + 1 fillna 0`, the reference's
  *    +1 trick, positionfixes.py:319-321);
  *  - fixes inside staypoints never belong to triplegs;
  *  - candidate triplegs with < 2 fixes are dropped (their fixes keep a
  *    null tripleg_id);
  *  - tripleg geometry is the time-ordered LineString of its fixes,
  *    started_at/finished_at are min/max tracked_at;
  *  - ids are dense int64 in (user, time) order.
  * Fix ids are unique, as the join back to the fixes requires.
  */
object TriplegGenerator {

  /** @param pfs positionfixes carrying a nullable `staypoint_id` column
    * @param share applied to the intermediates both outputs read (the
    *        scan output, which the id sort samples and then sorts, and the
    *        id-assigned tripleg table) — pass a persist so the scan runs
    *        once across both outputs.
    * @return (pfs with nullable `tripleg_id`, triplegs table)
    */
  def generate(pfs: DataFrame, gapThresholdMinutes: Double = 15.0,
               share: DataFrame => DataFrame = identity): (DataFrame, DataFrame) = {
    Tables.positionfixes.validate(pfs)
    require(pfs.columns.contains("staypoint_id"), "positionfixes need a staypoint_id column; run generateStaypoints first")

    val segs = share(segments(pfs, gapThresholdMinutes))
    val tpls = share(Ids.withSequentialId(segs, "id", col("user_id"), col("started_us"))
      .select(col("id"), col("user_id"),
        timestamp_micros(col("started_us")).as("started_at"),
        timestamp_micros(col("finished_us")).as("finished_at"),
        col("points"), col("pfs_ids")))

    // Join tripleg ids back to the member fixes via the exploded id list.
    val membership = tpls.select(col("id").as("tripleg_id"), explode(col("pfs_ids")).as("_pf_id"))
    val pfsOut = pfs
      .join(membership, pfs("id") === membership("_pf_id"), "left")
      .drop("_pf_id")

    (pfsOut, tpls.drop("pfs_ids"))
  }

  /** The scan kernel: one row per tripleg (>= 2 fixes) with
    * (user_id, started_us, finished_us, points, pfs_ids), before ids.
    */
  private[graft] def segments(pfs: DataFrame, gapThresholdMinutes: Double): DataFrame = {
    val gapUs = (gapThresholdMinutes * 60e6).toLong
    val f = pfs.schema
    // the triplegs schema declares nullable started_at/finished_at
    val schema = StructType(Seq(
      f("user_id"),
      StructField("started_us", LongType),
      StructField("finished_us", LongType),
      StructField("points", ArrayType(StructType(Seq(
        StructField("lon", f("lon").dataType, f("lon").nullable),
        StructField("lat", f("lat").dataType, f("lat").nullable))), containsNull = false), nullable = false),
      StructField("pfs_ids", ArrayType(f("id").dataType, containsNull = false), nullable = false)))

    val input = pfs.select(col("user_id"), unix_micros(col("tracked_at")).as("t_us"), col("id"),
      col("staypoint_id"), col("lon"), col("lat"))
    SortedScan(input, Seq("user_id"), Seq("t_us", "id"), schema)(segmentScan(gapUs))
  }

  /** One user's (user_id, t_us, id, staypoint_id, lon, lat) in (t_us, id)
    * order → its triplegs. A segment opens at a non-staypoint fix that
    * starts the user, follows a gap, or follows a staypoint-key change; it
    * closes at the next staypoint fix or start, and at the user's end, and
    * is emitted when it holds >= 2 fixes.
    */
  private def segmentScan(gapUs: Long)(rows: Iterator[Row]): Iterator[Row] = {
    var first = true
    var prevT = 0L
    var prevKey = 0L
    var user: Any = null
    var segStart = 0L
    var segEnd = 0L
    val points = ArrayBuffer.empty[Row]
    val ids = ArrayBuffer.empty[Any]

    def close(): Option[Row] = {
      val seg = if (points.length >= 2) Some(Row(user, segStart, segEnd, points.toArray, ids.toArray)) else None
      points.clear(); ids.clear()
      seg
    }

    def step(r: Row): Option[Row] = {
      if (r.isNullAt(1)) throw new IllegalArgumentException("positionfixes.tracked_at must not be null")
      val t = r.getLong(1)
      val transit = r.isNullAt(3)
      val key = if (transit) 0L else r.getAs[Number](3).longValue + 1
      val starts = transit && (first || t - prevT > gapUs || key != prevKey)
      val closed = if (starts || !transit) close() else None
      if (starts) { user = r.get(0); segStart = t }
      if (transit) {
        if (r.isNullAt(2)) throw new IllegalArgumentException("positionfixes.id must not be null")
        points += Row(r.get(4), r.get(5)); ids += r.get(2); segEnd = t
      }
      first = false; prevT = t; prevKey = key
      closed
    }

    rows.flatMap(step) ++ close()
  }

  /** Tripleg generation with staypoint overlap ("overlap_staypoints",
    * positionfixes.py:417-477): same segments and ids as
    * between_staypoints, but triplegs share their boundary with the
    * neighboring staypoints —
    *  - time: a tripleg's `finished_at` extends to the first fix of the
    *    following staypoint (when no temporal gap separates them), so
    *    staypoints and triplegs tile time without holes;
    *  - geometry: the LineString gains the previous staypoint's centroid
    *    as its first point and the next staypoint's centroid as its last
    *    point. A single-fix staypoint is claimed entirely by the
    *    preceding tripleg, so the following tripleg does NOT spatially
    *    overlap it (reference Notes, positionfixes.py:437-440).
    *
    * Per-user independence: the reference computes its shift() masks over
    * the globally (user, time)-sorted frame, so at a user boundary the
    * previous user's trailing staypoint fix can observe the next user's
    * tripleg id (an artifact of the global shift, not documented
    * behavior). This engine partitions every window by `user_id` — users
    * are fully independent, which is both the intended semantics and the
    * only shape that scales.
    */
  def generateOverlap(pfs: DataFrame, sp: DataFrame,
                      gapThresholdMinutes: Double = 15.0,
                      share: DataFrame => DataFrame = identity): (DataFrame, DataFrame) = {
    val (pfsBetween, _) = generate(pfs, gapThresholdMinutes, share)
    overlapFromBetween(pfsBetween, sp, gapThresholdMinutes, share)
  }

  /** Overlap step over an already-computed between_staypoints result
    * (`pfsBetween` carries nullable `staypoint_id` and `tripleg_id`).
    * Split out so a pipeline that has the between output cached does not
    * recompute the segmentation.
    */
  def overlapFromBetween(pfsBetween: DataFrame, sp: DataFrame,
                         gapThresholdMinutes: Double = 15.0,
                         share: DataFrame => DataFrame = identity): (DataFrame, DataFrame) = {
    require(pfsBetween.columns.contains("staypoint_id") && pfsBetween.columns.contains("tripleg_id"),
      "overlap_staypoints needs the between_staypoints output (staypoint_id + tripleg_id columns)")
    val gapUs = (gapThresholdMinutes * 60e6).toLong
    val w = Window.partitionBy("user_id").orderBy("tracked_at", "id")

    // Overlap masks (positionfixes.py:443-463). `_start_id`: the first
    // fix of a staypoint extends the preceding tripleg (time + geometry)
    // when its predecessor is a tripleg fix and no gap separates them.
    // `_end_id`: the last fix of a staypoint joins the following
    // tripleg's geometry, unless `_start_id` already claimed it (the
    // single-fix-staypoint rule).
    val annotated = pfsBetween
      .withColumn("_t_us", unix_micros(col("tracked_at")))
      .withColumn("_prev_t", lag("_t_us", 1).over(w))
      .withColumn("_gap", coalesce(col("_t_us") - col("_prev_t") > gapUs, lit(false)))
      .withColumn("_next_gap", coalesce(lead(col("_gap"), 1).over(w), lit(false)))
      .withColumn("_start_id",
        when(col("_prev_t").isNotNull && col("staypoint_id").isNotNull && !col("_gap"),
          lag(col("tripleg_id"), 1).over(w)))
      .withColumn("_end_id",
        when(col("_prev_t").isNotNull && col("staypoint_id").isNotNull && !col("_next_gap")
          && col("_start_id").isNull,
          lead(col("tripleg_id"), 1).over(w)))
      // time spans use the start-overlap assignment only; geometry uses both
      .withColumn("_tid_time", coalesce(col("_start_id"), col("tripleg_id")))
      .withColumn("_tid_geom", coalesce(col("_start_id"), col("_end_id"), col("tripleg_id")))

    // Staypoint fixes contribute the staypoint centroid to tripleg
    // geometry (positionfixes.py:466-470). sp is tiny next to pfs at any
    // scale — AQE broadcasts this join.
    val spGeom = sp.select(col("id").as("_sp_id"), col("lon").as("_sp_lon"), col("lat").as("_sp_lat"))
    // withGeom feeds the time agg, the geometry agg, and the pfs output —
    // share it so the window chain + join run once across all three.
    val withGeom = share(annotated
      .join(spGeom, col("staypoint_id") === col("_sp_id"), "left")
      .withColumn("_glon", when(col("staypoint_id").isNotNull, col("_sp_lon")).otherwise(col("lon")))
      .withColumn("_glat", when(col("staypoint_id").isNotNull, col("_sp_lat")).otherwise(col("lat"))))

    val timeAgg = withGeom.filter(col("_tid_time").isNotNull)
      .groupBy(col("_tid_time").as("_tid"))
      .agg(min(col("user_id")).as("user_id"),
        min(col("tracked_at")).as("started_at"),
        max(col("tracked_at")).as("finished_at"))

    val geomAgg = withGeom.filter(col("_tid_geom").isNotNull)
      .groupBy(col("_tid_geom").as("_gid"))
      .agg(transform(
        array_sort(collect_list(struct(col("_t_us"), col("id"), col("_glon"), col("_glat")))),
        p => struct(p.getField("_glon").as("lon"), p.getField("_glat").as("lat"))).as("points"))

    val tpls = timeAgg.join(geomAgg, col("_tid") === col("_gid"))
      .select(col("_tid").as("id"), col("user_id"), col("started_at"), col("finished_at"), col("points"))

    val pfsOut = withGeom
      .withColumn("tripleg_id", col("_tid_geom"))
      .drop("_t_us", "_prev_t", "_gap", "_next_gap", "_start_id", "_end_id",
        "_tid_time", "_tid_geom", "_sp_id", "_sp_lon", "_sp_lat", "_glon", "_glat")

    (pfsOut, tpls)
  }
}
