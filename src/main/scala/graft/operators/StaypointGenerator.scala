package graft.operators

import graft.functions.GeoFunctions
import graft.model.Tables
import graft.util.Ids
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable.ArrayBuffer

/** Sliding-window staypoint detection (Li et al. 2008), the semantics of
  * the reference's `generate_staypoints(method="sliding")`
  * (trackintel/preprocessing/positionfixes.py:16-184, per-user loop at
  * 478-535).
  *
  * Spark-first design: instead of the reference's per-user joblib fan-out
  * over collected pandas groups, we hash-partition by `user_id`, secondary
  * -sort each partition by (user_id, tracked_at, id), and run the
  * sequential scan as a *streaming* `mapPartitions` pass. No per-user
  * materialization: the only buffered state is the candidate window since
  * the current anchor (bounded by staypoint size), so a partition of any
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

    // Shuffle once by user, sort inside partitions, stream the scan.
    val sorted = input
      .repartition(col("user_id"))
      .sortWithinPartitions(col("user_id"), col("t_us"), col("id"))

    // check_gdf_planar twin: a projected CRS switches the CENTROID to a
    // plain mean — the reference's breach distance stays haversine even
    // for planar frames (positionfixes.py:508-522 passes `planar` only
    // into __create_new_staypoints), reproduced faithfully here.
    val planar = GeoFunctions.isPlanar(pfs)
    val rawSp = share(sorted.mapPartitions { rows =>
      new StaypointScanIterator(rows, gapUs, timeUs, distM, includeLast, planar)
    }(RowEncoder.encoderFor(spSchema)).toDF())

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

  /** Streaming scan over a (user_id, t_us, id)-sorted partition iterator.
    * Emits one Row per staypoint; state is the candidate buffer since the
    * current anchor. Exact per-user semantics of
    * _generate_staypoints_sliding_user (positionfixes.py:478-535):
    *
    *  - gap > gapThreshold resets the anchor without emitting;
    *  - a distance breach (>= dist) emits iff the dwell >= timeThreshold;
    *    `finished_at` is the breaching fix's time but geometry/membership
    *    cover only [anchor, breach);
    *  - includeLast aggregates the tail *including* the final fix.
    */
  private final class StaypointScanIterator(
      rows: Iterator[Row], gapUs: Long, timeUs: Long, distM: Double, includeLast: Boolean,
      planar: Boolean = false)
      extends Iterator[Row] {

    private val out = ArrayBuffer.empty[Row]
    private var outPos = 0

    private var curUser = 0L
    private var hasUser = false
    private var prevTs = 0L
    // Buffer since anchor (inclusive); parallel arrays for cache-friendliness.
    private val bIds = ArrayBuffer.empty[Long]
    private val bLon = ArrayBuffer.empty[Double]
    private val bLat = ArrayBuffer.empty[Double]
    private val bElev = ArrayBuffer.empty[Any]
    private var anchorTs = 0L
    private var lastTs = 0L

    private def resetBuffer(id: Long, ts: Long, lon: Double, lat: Double, elev: Any): Unit = {
      bIds.clear(); bLon.clear(); bLat.clear(); bElev.clear()
      bIds += id; bLon += lon; bLat += lat; bElev += elev
      anchorTs = ts
    }

    private def append(id: Long, lon: Double, lat: Double, elev: Any): Unit = {
      bIds += id; bLon += lon; bLat += lat; bElev += elev
    }

    /** Wrap-aware centroid over *unique* coordinates, sorted like
      * np.unique for bit-parity with the reference
      * (_centroid_from_coordinates, positionfixes.py:549-557).
      */
    private def centroid(extraLon: Double, extraLat: Double, includeExtra: Boolean): (Double, Double) = {
      val n = bLon.length
      val coords = new Array[(Double, Double)](if (includeExtra) n + 1 else n)
      var i = 0
      while (i < n) { coords(i) = (bLon(i), bLat(i)); i += 1 }
      if (includeExtra) coords(n) = (extraLon, extraLat)
      val uniq = coords.distinct.sorted
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

    private def medianElev(extra: Any, includeExtra: Boolean): Any = {
      val vals = ArrayBuffer.empty[Double]
      var anyNull = false
      bElev.foreach {
        case null => anyNull = true
        case d: Double => vals += d
        case other => vals += other.asInstanceOf[Number].doubleValue()
      }
      if (includeExtra) extra match {
        case null => anyNull = true
        case d: Double => vals += d
        case other => vals += other.asInstanceOf[Number].doubleValue()
      }
      if (anyNull || vals.isEmpty) null // numpy median propagates NaN
      else {
        val s = vals.sorted
        val n = s.length
        if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
      }
    }

    private def emit(finishedTs: Long, includeCurrent: Boolean,
                     curId: Long, curLon: Double, curLat: Double, curElev: Any): Unit = {
      val (cLon, cLat) = centroid(curLon, curLat, includeCurrent)
      val ids = if (includeCurrent) (bIds :+ curId).toArray else bIds.toArray
      out += Row(curUser, anchorTs, finishedTs, cLon, cLat, medianElev(curElev, includeCurrent), ids)
    }

    private def finishUser(): Unit = {
      if (hasUser && includeLast && bIds.nonEmpty) {
        // Tail aggregation: curr == last fix, buffer already includes it.
        if (lastTs - anchorTs >= timeUs) {
          val (cLon, cLat) = centroid(0, 0, includeExtra = false)
          out += Row(curUser, anchorTs, lastTs, cLon, cLat, medianElev(null, includeExtra = false), bIds.toArray)
        }
      }
    }

    private def process(r: Row): Unit = {
      val id = r.getLong(0); val user = r.getLong(1); val ts = r.getLong(2)
      val lon = r.getDouble(3); val lat = r.getDouble(4)
      val elev: Any = if (r.isNullAt(5)) null else r.getDouble(5)

      if (!hasUser || user != curUser) {
        finishUser()
        curUser = user; hasUser = true
        resetBuffer(id, ts, lon, lat, elev)
      } else if (ts - prevTs > gapUs) {
        resetBuffer(id, ts, lon, lat, elev) // gap: discard candidate, no emit
      } else {
        val d = GeoFunctions.haversineMeters(bLon(0), bLat(0), lon, lat)
        if (d >= distM) {
          if (ts - anchorTs >= timeUs) emit(ts, includeCurrent = false, id, lon, lat, elev)
          resetBuffer(id, ts, lon, lat, elev)
        } else {
          append(id, lon, lat, elev)
        }
      }
      prevTs = ts
      lastTs = ts
    }

    override def hasNext: Boolean = {
      while (outPos >= out.length && rows.hasNext) process(rows.next())
      if (outPos >= out.length && !rows.hasNext && hasUser) {
        finishUser(); hasUser = false
      }
      outPos < out.length
    }

    override def next(): Row = {
      if (!hasNext) throw new NoSuchElementException
      val r = out(outPos); outPos += 1
      if (outPos == out.length) { out.clear(); outPos = 0 }
      r
    }
  }
}
