package graft.operators

import graft.functions.GeoFunctions
import graft.model.Tables
import graft.util.{Ids, SortedScan}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable.ArrayBuffer

/** Sliding-window staypoint detection (Li et al. 2008), the semantics of
  * the reference's `generate_staypoints(method="sliding")`
  * (trackintel/preprocessing/positionfixes.py:16-184, per-user loop at
  * 478-535).
  *
  * Spark-first design: instead of the reference's per-user joblib fan-out
  * over collected pandas groups, each user's fixes stream in
  * (tracked_at, id) order through one [[SortedScan]] run. No per-user
  * materialization: the only buffered state is the candidate window since
  * the current anchor (bounded by staypoint size), so a user of any
  * length streams through. Users are the parallelism axis, exactly like
  * the reference's joblib, but executed as one shuffle.
  */
object StaypointGenerator {

  final case class Params(
      distThresholdMeters: Double = 100.0,
      timeThresholdMinutes: Double = 5.0,
      gapThresholdMinutes: Double = 15.0,
      includeLast: Boolean = false,
      excludeDuplicatePfs: Boolean = true)

  private val spSchema = StructType(Seq(
    StructField("user_id", LongType, nullable = false),
    StructField("started_us", LongType, nullable = false),
    StructField("finished_us", LongType, nullable = false),
    StructField("lon", DoubleType, nullable = false),
    StructField("lat", DoubleType, nullable = false),
    StructField("elevation", DoubleType, nullable = true),
    StructField("pfs_ids", ArrayType(LongType, containsNull = false), nullable = false)))

  /** @param pfs positionfixes with at least (id, user_id, tracked_at, lon, lat[, elevation])
    * @param share applied to every intermediate that appears in BOTH output
    *        lineages (the deduped input, the raw scan output, the staypoint
    *        table before its membership explode). Pass a persist (or a
    *        checkpoint-to-parquet at cluster scale) so materializing the two
    *        outputs runs the expensive scan chain exactly once — the default
    *        identity recomputes it per output, and `Ids.withSequentialId`'s
    *        range sort adds one more pass for partition-boundary sampling.
    * @return (pfs with nullable `staypoint_id` column, staypoints table)
    */
  def generate(pfs: DataFrame, params: Params = Params(),
               share: DataFrame => DataFrame = identity): (DataFrame, DataFrame) = {
    Tables.positionfixes.validate(pfs)
    val hasElev = pfs.columns.contains("elevation")

    // Duplicate exclusion before detection (positionfixes.py:105-114).
    // Only the deduped *intermediate* is shared; with exclusion off the
    // input passes through untouched — whether that lineage is persisted
    // is the caller's call, not this operator's.
    val deduped = if (params.excludeDuplicatePfs) share(pfs.dropDuplicates()) else pfs

    val input = deduped.select(
      col("id").cast(LongType),
      col("user_id").cast(LongType),
      unix_micros(col("tracked_at")).as("t_us"),
      col("lon").cast(DoubleType),
      col("lat").cast(DoubleType),
      (if (hasElev) col("elevation").cast(DoubleType) else lit(null).cast(DoubleType)).as("elevation"))

    val gapUs = (params.gapThresholdMinutes * 60e6).toLong
    val timeUs = (params.timeThresholdMinutes * 60e6).toLong
    val distM = params.distThresholdMeters
    val includeLast = params.includeLast

    // check_gdf_planar twin: a projected CRS switches the CENTROID to a
    // plain mean — the reference's breach distance stays haversine even
    // for planar frames (positionfixes.py:508-522 passes `planar` only
    // into __create_new_staypoints), reproduced faithfully here.
    val planar = GeoFunctions.isPlanar(pfs)
    val rawSp = share(SortedScan(input, Seq("user_id"), Seq("t_us", "id"), spSchema)(
      slidingScan(gapUs, timeUs, distM, includeLast, planar)))

    // Dense int64 ids in (user, time) order — reference positional index
    // semantics (positionfixes.py:163-164) without a global single
    // -partition window.
    val spWithId = Ids.withSequentialId(rawSp, "id", col("user_id"), col("started_us"), col("finished_us"))

    val spCols = Seq(
      col("id"), col("user_id"),
      timestamp_micros(col("started_us")).as("started_at"),
      timestamp_micros(col("finished_us")).as("finished_at"),
      col("lon"), col("lat")) ++ (if (hasElev) Seq(col("elevation")) else Nil)

    val sp = share(spWithId.select(spCols :+ col("pfs_ids"): _*))

    // Link pfs → staypoint via the exploded membership list
    // (_explode_agg, preprocessing/util.py:87-114): equi-join on the pf id.
    val membership = sp.select(col("id").as("staypoint_id"), explode(col("pfs_ids")).as("pf_id"))
    val pfsOut = deduped
      .join(membership, deduped("id") === membership("pf_id"), "left")
      .drop("pf_id")

    (pfsOut, sp.drop("pfs_ids"))
  }

  /** One user's fixes in (t_us, id) order → its staypoints. Exact
    * semantics of _generate_staypoints_sliding_user
    * (positionfixes.py:478-535); the only state is the candidate window
    * since the anchor (bounded by staypoint size):
    *
    *  - gap > gapThreshold resets the anchor without emitting;
    *  - a distance breach (>= dist) emits iff the dwell >= timeThreshold;
    *    `finished_at` is the breaching fix's time but geometry/membership
    *    cover only [anchor, breach);
    *  - includeLast aggregates the tail *including* the final fix.
    */
  private def slidingScan(gapUs: Long, timeUs: Long, distM: Double, includeLast: Boolean,
                          planar: Boolean)(rows: Iterator[Row]): Iterator[Row] = {
    // the window since the anchor (inclusive), as parallel arrays
    val ids = ArrayBuffer.empty[Long]
    val lons = ArrayBuffer.empty[Double]
    val lats = ArrayBuffer.empty[Double]
    val elevs = ArrayBuffer.empty[Any]
    var user = 0L
    var anchorTs = 0L
    var prevTs = 0L

    def staypoint(finishedTs: Long): Row = {
      val (cLon, cLat) = centroid(lons, lats, planar)
      Row(user, anchorTs, finishedTs, cLon, cLat, medianElev(elevs), ids.toArray)
    }

    def step(r: Row): Option[Row] = {
      val ts = r.getLong(2); val lon = r.getDouble(3); val lat = r.getDouble(4)
      val breach = ids.nonEmpty && ts - prevTs <= gapUs &&
        GeoFunctions.haversineMeters(lons(0), lats(0), lon, lat) >= distM
      val closed = if (breach && ts - anchorTs >= timeUs) Some(staypoint(ts)) else None
      if (ids.isEmpty || ts - prevTs > gapUs || breach) {
        ids.clear(); lons.clear(); lats.clear(); elevs.clear()
        anchorTs = ts
      }
      ids += r.getLong(0); lons += lon; lats += lat
      elevs += (if (r.isNullAt(5)) null else r.getDouble(5))
      user = r.getLong(1); prevTs = ts
      closed
    }

    rows.flatMap(step) ++
      (if (includeLast && ids.nonEmpty && prevTs - anchorTs >= timeUs) Iterator.single(staypoint(prevTs))
       else Iterator.empty)
  }

  /** Wrap-aware centroid over *unique* coordinates, sorted like
    * np.unique for bit-parity with the reference
    * (_centroid_from_coordinates, positionfixes.py:549-557). The
    * streaming detector shares it with `planar = false`.
    */
  private[graft] def centroid(lons: collection.Seq[Double], lats: collection.Seq[Double],
                              planar: Boolean): (Double, Double) = {
    val uniq = lons.zip(lats).distinct.sorted
    val m = uniq.length.toDouble
    if (planar) {
      // projected CRS: plain mean (positionfixes.py:551-552)
      var sLon = 0.0; var sLat = 0.0
      for ((lo, la) <- uniq) { sLon += lo; sLat += la }
      (sLon / m, sLat / m)
    } else {
      var sSin = 0.0; var sCos = 0.0; var sLat = 0.0
      for ((lo, la) <- uniq) {
        val lr = math.toRadians(lo)
        sSin += math.sin(lr); sCos += math.cos(lr); sLat += la
      }
      (math.toDegrees(math.atan2(sSin / m, sCos / m)), sLat / m)
    }
  }

  /** Median elevation; null when any member's is (numpy's median
    * propagates NaN).
    */
  private def medianElev(elevs: ArrayBuffer[Any]): Any =
    if (elevs.contains(null)) null
    else {
      val s = elevs.map(_.asInstanceOf[Double]).sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
}
