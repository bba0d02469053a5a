package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MetadataBuilder

/** Geometry/distance column functions. All are pure Catalyst expressions
  * (no UDFs) so they stay inside whole-stage codegen and remain
  * pushdown/prune friendly.
  *
  * Reference semantics: trackintel/geogr/distances.py.
  */
object GeoFunctions {

  val EarthRadiusMeters = 6371000.0

  /** Great-circle distance in meters, spherical-law-of-cosines form —
    * same formula as the reference (geogr/distances.py:15-86). The acos
    * argument is clamped to [-1, 1] to guard floating-point overshoot on
    * identical points (the clamp is value-preserving otherwise).
    */
  def haversineMeters(lon1: Column, lat1: Column, lon2: Column, lat2: Column): Column = {
    val la1 = radians(lat1)
    val la2 = radians(lat2)
    val arg = cos(la1 - la2) - cos(la1) * cos(la2) * (lit(1.0) - cos(radians(lon1) - radians(lon2)))
    // guard: least/greatest skip nulls, which would otherwise turn a null
    // coordinate into acos(-1) = π·R instead of null
    when(lon1.isNotNull && lat1.isNotNull && lon2.isNotNull && lat2.isNotNull,
      lit(EarthRadiusMeters) * acos(least(lit(1.0), greatest(lit(-1.0), arg))))
  }

  /** Scalar (driver-side / test) version, identical math. */
  def haversineMeters(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double = {
    val la1 = math.toRadians(lat1); val la2 = math.toRadians(lat2)
    val arg = math.cos(la1 - la2) -
      math.cos(la1) * math.cos(la2) * (1.0 - math.cos(math.toRadians(lon1) - math.toRadians(lon2)))
    EarthRadiusMeters * math.acos(math.min(1.0, math.max(-1.0, arg)))
  }

  /** Planar (projected-CRS) distance: plain euclidean in CRS units —
    * what the reference computes everywhere after `check_gdf_planar`
    * says the frame is projected (geogr/distances.py:213-250).
    */
  def euclideanMeters(lon1: Column, lat1: Column, lon2: Column, lat2: Column): Column =
    when(lon1.isNotNull && lat1.isNotNull && lon2.isNotNull && lat2.isNotNull,
      sqrt((lon1 - lon2) * (lon1 - lon2) + (lat1 - lat2) * (lat1 - lat2)))

  def euclideanMeters(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double =
    math.sqrt((lon1 - lon2) * (lon1 - lon2) + (lat1 - lat2) * (lat1 - lat2))

  /** haversine-or-euclidean dispatch on the planar flag — the engine twin
    * of the reference's CRS switch.
    */
  def distanceMeters(planar: Boolean)(lon1: Column, lat1: Column, lon2: Column, lat2: Column): Column =
    if (planar) euclideanMeters(lon1, lat1, lon2, lat2)
    else haversineMeters(lon1, lat1, lon2, lat2)

  // ---------------------------------------------------------------------
  // CRS carried as column metadata on the geometry's `lon` column (the
  // engine has no geometry object to hang a CRS on). Absent metadata means
  // EPSG:4326 — the reference's default (io/dataset_reader.py:19).
  // ---------------------------------------------------------------------

  val CrsMetadataKey = "crs"
  val DefaultCrs = "EPSG:4326"

  /** Geographic (angular-unit) CRSs the engine recognizes; anything else
    * is treated as projected/planar — the engine twin of
    * `not crs.is_geographic` (check_gdf_planar, distances.py:213-250).
    */
  private val geographicCrs = Set("EPSG:4326", "EPSG:4269", "EPSG:4258", "EPSG:4979")

  /** Stamp a CRS onto a frame's geometry columns (default lon/lat). */
  def withCrs(df: DataFrame, crs: String, cols: Seq[String] = Seq("lon", "lat")): DataFrame =
    cols.foldLeft(df) { (d, c) =>
      val meta = new MetadataBuilder().putString(CrsMetadataKey, crs).build()
      d.withColumn(c, col(c).as(c, meta))
    }

  /** CRS of a frame, from `lon`-column metadata; EPSG:4326 if unset. */
  def crsOf(df: DataFrame, lonCol: String = "lon"): String =
    df.schema.fields.find(_.name == lonCol)
      .filter(_.metadata.contains(CrsMetadataKey))
      .map(_.metadata.getString(CrsMetadataKey))
      .getOrElse(DefaultCrs)

  /** check_gdf_planar twin: true iff the frame's CRS is projected. */
  def isPlanar(df: DataFrame, lonCol: String = "lon"): Boolean =
    !geographicCrs.contains(crsOf(df, lonCol))

  /** meters → decimal degrees at a latitude (geogr/distances.py:188-210). */
  def metersToDecimalDegrees(meters: Column, latitude: Column): Column =
    meters / (lit(111.32 * 1000.0) * cos(radians(latitude)))

  def metersToDecimalDegrees(meters: Double, latitude: Double): Double =
    meters / (111.32 * 1000.0 * math.cos(math.toRadians(latitude)))

  /** Length in meters of a `array<struct<lon,lat>>` linestring column via
    * higher-order functions — segment-wise haversine summed with
    * `aggregate`, the codegen-friendly analogue of the reference's
    * np.bincount trick (geogr/distances.py:253-277). No UDF.
    */
  def linestringLengthMeters(points: Column): Column = linestringLengthMeters(points, planar = false)

  /** Length with the CRS switch: planar frames sum euclidean segment
    * lengths (`.length` in the reference, distances.py:344).
    */
  def linestringLengthMeters(points: Column, planar: Boolean): Column = {
    val segs = zip_with(
      slice(points, lit(1), greatest(size(points) - 1, lit(0))),
      slice(points, lit(2), greatest(size(points) - 1, lit(0))),
      (a, b) => distanceMeters(planar)(
        a.getField("lon"), a.getField("lat"), b.getField("lon"), b.getField("lat"))
    )
    coalesce(aggregate(segs, lit(0.0), (acc, x) => acc + x), lit(0.0))
  }

  /** Longitude-wrap-aware mean of points: mean latitude plus
    * atan2(mean sin lon, mean cos lon) — matches the reference's
    * angle_centroid_multipoints (preprocessing/util.py:117-143).
    * Use over grouped data: pass pre-aggregated avg(sin), avg(cos), avg(lat).
    */
  def wrapAwareMeanLon(avgSinLon: Column, avgCosLon: Column): Column =
    degrees(atan2(avgSinLon, avgCosLon))

  /** Bounding-box predicate — the cheap prefilter that replaces the
    * reference's R-tree candidate pass (geogr/filter.py:44-54). Emitted
    * explicitly so Catalyst can push it into the parquet scan.
    */
  def inBBox(lon: Column, lat: Column, minLon: Double, minLat: Double, maxLon: Double, maxLat: Double): Column =
    lon >= minLon && lon <= maxLon && lat >= minLat && lat <= maxLat

  // ---------------------------------------------------------------------
  // Small-geometry kernels (driver-free, run per-row on executors). These
  // handle the few operations Catalyst can't express: point-in-polygon,
  // convex hull. Inputs are tiny per-row/per-group structures, so a Scala
  // function (registered as a UDF at the call site) is appropriate.
  // ---------------------------------------------------------------------

  /** Ray-casting point-in-polygon (ring closed implicitly). */
  def pointInPolygon(lon: Double, lat: Double, ring: Seq[(Double, Double)]): Boolean = {
    var inside = false
    var j = ring.length - 1
    var i = 0
    while (i < ring.length) {
      val (xi, yi) = ring(i); val (xj, yj) = ring(j)
      if (((yi > lat) != (yj > lat)) && (lon < (xj - xi) * (lat - yi) / (yj - yi) + xi)) inside = !inside
      j = i; i += 1
    }
    inside
  }

  // ---------------------------------------------------------------------
  // Exact integer-grid predicates (e6 grid ≈ 11 cm). Orientation and
  // containment decisions run in long arithmetic on floor(x·10^6 + 0.5)
  // quantized coordinates: deterministic, overflow-free (|q| ≤ 1.8·10^8 →
  // cross products ≤ 1.3·10^17 < 2^63) and reproducible symbolically by
  // external SQL engines — the same design as the hyperplane/minhash
  // integer surfaces. Used by the LineString spatial filter.
  // ---------------------------------------------------------------------

  def quantizeE6(x: Double): Long = math.floor(x * 1000000.0 + 0.5).toLong

  /** Grid cell of a coordinate column: [[quantizeE6]] as a column, then
    * floor-divided into `cellMicroDeg`-wide cells. The division runs on
    * the quantized integer, so an external SQL engine reproduces every
    * cell exactly.
    */
  def quantizedCell(c: Column, cellMicroDeg: Long): Column =
    floor(floor(c * 1e6 + lit(0.5)).cast("long").cast("double") / cellMicroDeg.toDouble).cast("long")

  /** An integer column as decimal(38,0): products and sums of counts and
    * quantized values stay exact past the long range, as in the oracle's
    * decimal arithmetic.
    */
  def dq(c: Column): Column = c.cast("decimal(38,0)")

  /** Natural log quantized to a 1e-6 integer grid, floor-rounded: sums
    * and differences of quantized logs are exact longs, so an external
    * SQL engine computing `floor(ln(x) * 1e6)` reproduces them bit for bit.
    */
  def lnq(c: Column): Column = floor(log(c.cast("double")) * 1e6).cast("long")

  /** Sign of cross(b−a, c−a): 1 counter-clockwise, −1 clockwise, 0 collinear. */
  def orientQ(ax: Long, ay: Long, bx: Long, by: Long, cx: Long, cy: Long): Int =
    java.lang.Long.signum((bx - ax) * (cy - ay) - (by - ay) * (cx - ax))

  private def onSegmentQ(px: Long, py: Long, qx: Long, qy: Long, rx: Long, ry: Long): Boolean =
    math.min(px, qx) <= rx && rx <= math.max(px, qx) &&
      math.min(py, qy) <= ry && ry <= math.max(py, qy)

  /** Exact segment intersection (proper crossings and collinear/endpoint
    * touches) on quantized coordinates.
    */
  def segmentsIntersectQ(ax: Long, ay: Long, bx: Long, by: Long,
                         cx: Long, cy: Long, dx: Long, dy: Long): Boolean = {
    val o1 = orientQ(ax, ay, bx, by, cx, cy)
    val o2 = orientQ(ax, ay, bx, by, dx, dy)
    val o3 = orientQ(cx, cy, dx, dy, ax, ay)
    val o4 = orientQ(cx, cy, dx, dy, bx, by)
    if (o1 != o2 && o3 != o4) true
    else (o1 == 0 && onSegmentQ(ax, ay, bx, by, cx, cy)) ||
      (o2 == 0 && onSegmentQ(ax, ay, bx, by, dx, dy)) ||
      (o3 == 0 && onSegmentQ(cx, cy, dx, dy, ax, ay)) ||
      (o4 == 0 && onSegmentQ(cx, cy, dx, dy, bx, by))
  }

  /** Exact ray-casting containment on quantized coordinates; the division
    * of the double version is re-arranged into sign-aware long products.
    */
  def pointInPolygonQ(px: Long, py: Long, ring: Array[(Long, Long)]): Boolean = {
    var inside = false
    var j = ring.length - 1
    var i = 0
    while (i < ring.length) {
      val (xi, yi) = ring(i); val (xj, yj) = ring(j)
      if ((yi > py) != (yj > py)) {
        val dy = yj - yi
        val lhs = (px - xi) * dy
        val rhs = (xj - xi) * (py - yi)
        if (if (dy > 0) lhs < rhs else lhs > rhs) inside = !inside
      }
      j = i; i += 1
    }
    inside
  }

  /** Does any segment of `line` touch/cross any edge of the closed ring? */
  def lineIntersectsRingQ(line: Array[(Long, Long)], ring: Array[(Long, Long)]): Boolean = {
    var i = 0
    while (i < line.length - 1) {
      val (ax, ay) = line(i); val (bx, by) = line(i + 1)
      var j = ring.length - 1
      var k = 0
      while (k < ring.length) {
        val (cx, cy) = ring(j); val (dx2, dy2) = ring(k)
        if (segmentsIntersectQ(ax, ay, bx, by, cx, cy, dx2, dy2)) return true
        j = k; k += 1
      }
      i += 1
    }
    false
  }

  /** Andrew's monotone-chain convex hull; input sizes are per-location
    * staypoint sets (small). Returns hull in counter-clockwise order.
    */
  def convexHull(points: Seq[(Double, Double)]): Seq[(Double, Double)] = {
    val pts = points.distinct.sorted
    if (pts.length <= 2) return pts
    def cross(o: (Double, Double), a: (Double, Double), b: (Double, Double)): Double =
      (a._1 - o._1) * (b._2 - o._2) - (a._2 - o._2) * (b._1 - o._1)
    val lower = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    for (p <- pts) {
      while (lower.length >= 2 && cross(lower(lower.length - 2), lower.last, p) <= 0) lower.remove(lower.length - 1)
      lower += p
    }
    val upper = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    for (p <- pts.reverse) {
      while (upper.length >= 2 && cross(upper(upper.length - 2), upper.last, p) <= 0) upper.remove(upper.length - 1)
      upper += p
    }
    (lower.dropRight(1) ++ upper.dropRight(1)).toSeq
  }
}
