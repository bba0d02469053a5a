package graft.operators

import graft.functions.GeoFunctions
import graft.util.{Ids, SortedScan}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable

/** Tour generation: find sequences of trips that start and end at the same
  * place within a time budget; nested/overlapping tours allowed (N:N).
  *
  * Reference: trackintel/preprocessing/trips.py:54-452. The per-user stack
  * scan is inherently sequential, so — like staypoint detection — each
  * user's time-sorted trips are one [[SortedScan]] run. The candidate
  * stack is bounded by `maxTime` (older candidates are cropped), so
  * memory stays O(trips within the time window).
  *
  * Two linking modes, as in the reference:
  *  - location mode (staypoints with `location_id` given): trips chain when
  *    destination/origin staypoints share a location;
  *  - distance mode: trips chain when end/start points are within
  *    `maxDistMeters` — haversine for geographic frames, euclidean when
  *    the `geom` column's CRS metadata marks the frame projected (the
  *    reference's `_check_max_dist` switch, trips.py:385-404).
  */
object TourGenerator {

  final case class Params(
      maxDistMeters: Double = 100.0,
      maxTimeDays: Double = 1.0,
      maxNrGaps: Int = 0)

  private val tourSchema = StructType(Seq(
    StructField("user_id", LongType, nullable = false),
    StructField("started_us", LongType, nullable = false),
    StructField("finished_us", LongType, nullable = false),
    StructField("origin_staypoint_id", LongType, nullable = true),
    StructField("destination_staypoint_id", LongType, nullable = true),
    StructField("trips", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("location_id", LongType, nullable = true),
    StructField("seq", LongType, nullable = false)))

  /** @param trips trips table (id, user_id, started_at, finished_at,
    *              origin/destination_staypoint_id, geom struct)
    * @param staypoints optional staypoints with location_id → location mode
    * @return (trips + `tour_id` array column, tours table)
    */
  def generate(trips: DataFrame, staypoints: Option[DataFrame] = None,
               params: Params = Params(),
               share: DataFrame => DataFrame = identity): (DataFrame, DataFrame) = {
    val maxTimeUs = (params.maxTimeDays * 86400e6).toLong
    val useLocations = staypoints.isDefined
    val planar = GeoFunctions.isPlanar(trips, "geom")

    // In location mode, resolve each trip's origin/destination staypoint
    // to its location up front — two broadcast-friendly equi-joins instead
    // of the reference's per-row staypoint table lookups.
    val prepared: DataFrame = if (useLocations) {
      val locMap = staypoints.get.select(col("id").as("_sp"), col("location_id"))
      trips
        .join(locMap.withColumnRenamed("location_id", "_o_loc"),
          trips("origin_staypoint_id") === col("_sp"), "left").drop("_sp")
        .join(locMap.withColumnRenamed("location_id", "_d_loc"),
          trips("destination_staypoint_id") === col("_sp"), "left").drop("_sp")
        .select(col("id"), col("user_id"),
          unix_micros(col("started_at")).as("_s_us"), unix_micros(col("finished_at")).as("_f_us"),
          col("origin_staypoint_id"), col("destination_staypoint_id"),
          col("_o_loc").cast(LongType), col("_d_loc").cast(LongType),
          lit(null).cast(DoubleType).as("_o_lon"), lit(null).cast(DoubleType).as("_o_lat"),
          lit(null).cast(DoubleType).as("_d_lon"), lit(null).cast(DoubleType).as("_d_lat"))
    } else {
      trips.select(col("id"), col("user_id"),
        unix_micros(col("started_at")).as("_s_us"), unix_micros(col("finished_at")).as("_f_us"),
        col("origin_staypoint_id"), col("destination_staypoint_id"),
        lit(null).cast(LongType).as("_o_loc"), lit(null).cast(LongType).as("_d_loc"),
        col("geom.origin.lon").as("_o_lon"), col("geom.origin.lat").as("_o_lat"),
        col("geom.destination.lon").as("_d_lon"), col("geom.destination.lat").as("_d_lat"))
    }

    // shared: the id sort's range sampling and the trip-mapping explode
    // both re-read the scan output
    val rawTours = share(SortedScan(prepared, Seq("user_id"), Seq("_s_us", "id"), tourSchema)(
      tourScan(useLocations, params.maxDistMeters, maxTimeUs, params.maxNrGaps, planar)))

    // Dense tour ids: the reference numbers tours in per-user concat order
    // = (user, emission order); the scan emits a per-user sequence number
    // to reproduce it exactly.
    val tours = share(Ids.withSequentialId(rawTours, "id", col("user_id"), col("seq"))
      .select(col("id"), col("user_id"),
        timestamp_micros(col("started_us")).as("started_at"),
        timestamp_micros(col("finished_us")).as("finished_at"),
        col("origin_staypoint_id"), col("destination_staypoint_id"),
        col("trips"), col("location_id")))

    // trip → [tour ids] (N:N, preprocessing/trips.py:178-183)
    val mapping = tours.select(col("id").as("_tour_id"), explode(col("trips")).as("_trip_id"))
      .groupBy(col("_trip_id")).agg(sort_array(collect_list(col("_tour_id"))).as("tour_id"))
    val tripsOut = trips.join(mapping, trips("id") === col("_trip_id"), "left").drop("_trip_id")

    (tripsOut, tours)
  }

  /** All member trips of every tour (get_trips_grouped, reference
    * preprocessing/trips.py:12-51): `generate` assigns each trip only the
    * tour ids it belongs to, but a nested tour's members also belong to
    * the enclosing tour — this explodes the tours' `trips` list and
    * equi-joins the trips table, returning one row per (tour, member
    * trip): the relational form of the reference's DataFrameGroupBy.
    */
  def getTripsGrouped(trips: DataFrame, tours: DataFrame): DataFrame = {
    val t = trips.drop("tour_id")
    val mapping = tours.select(col("id").as("tour_id"), explode(col("trips")).as("trip_id"))
    mapping.join(t, col("trip_id") === t("id"), "left").drop("id")
  }

  private final case class Trip(
      id: Long, sUs: Long, fUs: Long,
      oSp: Option[Long], dSp: Option[Long],
      oLoc: Option[Long], dLoc: Option[Long],
      oLon: Double, oLat: Double, dLon: Double, dLat: Double)

  /** One user's trips in (started_at, id) order → its tours, numbered by
    * `seq` in emission order. Exact port of the reference's
    * _generate_tours_user semantics (trips.py:191-359):
    *   - walk trips in time order, keeping a candidate list of potential
    *     tour-start trips (NaN entries mark spatial gaps);
    *   - a trip whose destination matches a candidate's origin closes a
    *     tour over the candidates since that point;
    *   - candidates older than maxTime (or beyond the gap budget) are
    *     cropped as they're encountered.
    */
  private def tourScan(useLocations: Boolean, maxDistM: Double, maxTimeUs: Long, maxNrGaps: Int,
                       planar: Boolean)(rows: Iterator[Row]): Iterator[Row] = {
    var seqNo = 0L
    // candidate stack: Some(trip) or None (= spatial-gap marker)
    var candidates = mutable.ArrayBuffer.empty[Option[Trip]]

    def sameLoc(a: Option[Long], b: Option[Long]): Boolean =
      a.isDefined && b.isDefined && a.get == b.get

    def near(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Boolean =
      !lon1.isNaN && !lon2.isNaN && {
        val d =
          if (planar) GeoFunctions.euclideanMeters(lon1, lat1, lon2, lat2)
          else GeoFunctions.haversineMeters(lon1, lat1, lon2, lat2)
        d <= maxDistM
      }

    // previous trip's end connects to this trip's start?
    def connects(prev: Trip, cur: Trip): Boolean =
      if (useLocations) sameLoc(prev.dLoc, cur.oLoc)
      else near(prev.dLon, prev.dLat, cur.oLon, cur.oLat)

    // candidate's origin == current trip's destination?
    def closes(cand: Trip, cur: Trip): Boolean =
      if (useLocations) sameLoc(cand.oLoc, cur.dLoc)
      else near(cand.oLon, cand.oLat, cur.dLon, cur.dLat)

    def tour(user: Long, members: Seq[Trip]): Row = {
      val first = members.head
      val last = members.last
      val row = Row(user, first.sUs, last.fUs,
        first.oSp.map(Long.box).orNull, last.dSp.map(Long.box).orNull,
        members.map(_.id).toArray,
        (if (useLocations) first.oLoc.map(Long.box).orNull else null),
        seqNo)
      seqNo += 1L
      row
    }

    def step(r: Row): Option[Row] = {
      def optLong(i: Int): Option[Long] = if (r.isNullAt(i)) None else Some(r.getLong(i))
      def dbl(i: Int): Double = if (r.isNullAt(i)) Double.NaN else r.getDouble(i)
      val cur = Trip(r.getLong(0), r.getLong(2), r.getLong(3),
        optLong(4), optLong(5), optLong(6), optLong(7), dbl(8), dbl(9), dbl(10), dbl(11))

      if (candidates.nonEmpty) {
        // reference checks the literal last entry; a gap marker can only be
        // last transiently (a real trip always follows it immediately)
        val connected = candidates.last match {
          case Some(t) => connects(t, cur)
          case None    => false // defensive; not reachable in reference flow
        }
        if (!connected) {
          if (maxNrGaps == 0) {
            candidates = mutable.ArrayBuffer(Some(cur))
            return None
          } else {
            candidates += None
          }
        }
      }
      candidates += Some(cur)

      if (cur.dSp.isEmpty) return None // unknown destination activity (both modes)

      var closed: Option[Row] = None
      var newListStart = 0
      var gapCounter = 0
      var j = 0
      var break = false
      val endTime = cur.fUs
      while (j < candidates.length && !break) {
        val cand = candidates(candidates.length - 1 - j)
        cand match {
          case None =>
            gapCounter += 1
            if (gapCounter > maxNrGaps) {
              newListStart = j + 1
              break = true
            }
          case Some(c) =>
            if (endTime - c.sUs > maxTimeUs) {
              newListStart = candidates.length - j - 1
              // reference: new_list_start = len - j - 1 (keep from this
              // position on); note it *breaks* out of candidate scan
              break = true
            } else if (c.oSp.isEmpty) {
              // unknown origin — skip (both modes, trips.py:320)
            } else if (closes(c, cur)) {
              val members = candidates.view.drop(candidates.length - 1 - j).collect { case Some(t) => t }.toSeq
              closed = Some(tour(r.getLong(1), members))
              break = true
            }
        }
        j += 1
      }
      if (newListStart > 0) candidates = candidates.drop(newListStart)
      closed
    }

    rows.flatMap(step)
  }
}
