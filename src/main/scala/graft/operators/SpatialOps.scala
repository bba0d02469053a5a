package graft.operators

import graft.functions.GeoFunctions
import graft.functions.GeoFunctions.{dq, quantizedCell}
import graft.util.SortedScan
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Spatial filtering and pairwise distance matrices.
  * Reference: trackintel/geogr/filter.py, trackintel/geogr/distances.py:89-185.
  */
object SpatialOps {

  /** Keep rows whose point lies within any of the given polygons.
    *
    * The reference prefilters with an R-tree then runs exact shapely
    * predicates (filter.py:44-64). Spark-first shape: the polygons'
    * united bounding box becomes a *plain column predicate* — pushed into
    * the parquet scan / prunable — and the exact ray-casting test runs
    * only on the survivors. Polygons ride along as a broadcast literal.
    *
    * CRS contract: the filter is unit-agnostic (pure coordinate
    * comparisons), but caller and polygons must share a CRS — the
    * reference asserts `gdf.crs == areas.crs` before filtering. Frames
    * carry their CRS as `lon`-column metadata ([[GeoFunctions.withCrs]]/
    * [[GeoFunctions.crsOf]]); reprojection itself stays out of scope (no
    * offline proj database), as in SURVEY.md §5.
    */
  def spatialFilterPoints(source: DataFrame, areas: Seq[Seq[(Double, Double)]],
                          lonCol: String = "lon", latCol: String = "lat",
                          method: String = "within"): DataFrame = {
    require(areas.nonEmpty, "need at least one area polygon")
    require(Set("within", "intersects", "crosses")(method),
      s"method unknown. We only support [within, intersects, crosses]. You passed $method")
    // for point geometries `within` and `intersects` coincide; a point
    // can never cross an area (shapely: dim(point interior) = 0)
    if (method == "crosses") return source.filter(lit(false))
    val minLon = areas.map(_.map(_._1).min).min
    val maxLon = areas.map(_.map(_._1).max).max
    val minLat = areas.map(_.map(_._2).min).min
    val maxLat = areas.map(_.map(_._2).max).max

    val bbox = GeoFunctions.inBBox(col(lonCol), col(latCol), minLon, minLat, maxLon, maxLat)
    val inAnyArea = udf { (lon: Double, lat: Double) =>
      areas.exists(ring => GeoFunctions.pointInPolygon(lon, lat, ring))
    }
    source.filter(bbox).filter(inAnyArea(col(lonCol), col(latCol)))
  }

  /** Spatial filter for LineString tables with the reference's three
    * predicates (geogr/filter.py:57-64):
    *  - `within`: every point of the line inside one area polygon and no
    *    boundary crossing;
    *  - `intersects`: any vertex inside, or any segment touching/crossing
    *    a boundary;
    *  - `crosses`: some segment properly crossing an area boundary (the
    *    line has points in both the interior and the exterior).
    *
    * Decisions are evaluated EXACTLY on the e6 integer grid (≈ 11 cm):
    * coordinates quantize to longs and every orientation/containment test
    * is exact long arithmetic (GeoFunctions.*Q) — deterministic and
    * reproducible symbolically by external engines, the same design as
    * the minhash/hyperplane integer surfaces. Boundary-degenerate inputs
    * (a line touching an edge without crossing) follow the kernel's
    * closed-polygon conventions rather than shapely's DE-9IM corner
    * cases; `within`/`crosses` test each area ring separately (exact for
    * disjoint areas — the reference unions them first).
    *
    * The cheap bbox prefilter runs before the exact kernel, mirroring the
    * reference's R-tree candidate pass (filter.py:44-54).
    */
  def spatialFilterLinestrings(source: DataFrame, areas: Seq[Seq[(Double, Double)]],
                               method: String = "within",
                               pointsCol: String = "points"): DataFrame = {
    require(areas.nonEmpty, "need at least one area polygon")
    require(Set("within", "intersects", "crosses")(method),
      s"method unknown. We only support [within, intersects, crosses]. You passed $method")
    val qAreas: Array[Array[(Long, Long)]] = areas.map(
      _.map { case (x, y) => (GeoFunctions.quantizeE6(x), GeoFunctions.quantizeE6(y)) }.toArray).toArray

    val minLon = areas.map(_.map(_._1).min).min
    val maxLon = areas.map(_.map(_._1).max).max
    val minLat = areas.map(_.map(_._2).min).min
    val maxLat = areas.map(_.map(_._2).max).max
    val lons = transform(col(pointsCol), p => p.getField("lon"))
    val lats = transform(col(pointsCol), p => p.getField("lat"))
    val bboxOverlap =
      array_min(lons) <= maxLon && array_max(lons) >= minLon &&
        array_min(lats) <= maxLat && array_max(lats) >= minLat

    val pred = udf { (pts: Seq[Row]) =>
      val line = pts.map(r =>
        (GeoFunctions.quantizeE6(r.getDouble(0)), GeoFunctions.quantizeE6(r.getDouble(1)))).toArray
      method match {
        case "within" => qAreas.exists { ring =>
          line.forall(p => GeoFunctions.pointInPolygonQ(p._1, p._2, ring)) &&
            !GeoFunctions.lineIntersectsRingQ(line, ring)
        }
        case "intersects" => qAreas.exists { ring =>
          line.exists(p => GeoFunctions.pointInPolygonQ(p._1, p._2, ring)) ||
            GeoFunctions.lineIntersectsRingQ(line, ring)
        }
        // a segment meeting the boundary means the line has points on
        // both sides of it (generic position — touches are degenerate)
        case "crosses" => qAreas.exists(ring => GeoFunctions.lineIntersectsRingQ(line, ring))
      }
    }
    source.filter(bboxOverlap).filter(pred(col(pointsCol)))
  }

  /** All-pairs point distance in long form (id_1, id_2, distance_m) —
    * the scale-correct shape of the reference's N×N ndarray
    * (distances.py:89-153). `symmetric` keeps only id_1 < id_2, the
    * upper-triangle optimization. A self-join shuffles on nothing here:
    * for genuinely large inputs callers should bucket or block first;
    * within trackintel semantics inputs are per-user point sets.
    */
  def distanceMatrixPoints(points: DataFrame, symmetric: Boolean = true): DataFrame =
    distanceMatrixPoints(points, None, symmetric)

  /** Two-frame form: distances from every X point to every Y point — the
    * reference's optional second frame (distances.py:89-153, `Y=None`
    * collapses to the single-frame triangle above). X×Y is dense by
    * definition; the physical plan is a broadcast nested-loop with the
    * smaller side broadcast, so the big side never shuffles. Distance
    * dispatches on X's CRS metadata (euclidean for projected frames).
    */
  def distanceMatrixPoints(x: DataFrame, y: Option[DataFrame], symmetric: Boolean): DataFrame = {
    // the reference asserts X.crs == Y.crs (distances.py:118); without it a
    // projected X against a geographic Y would silently mix units
    y.foreach { yf =>
      val (cx, cy) = (GeoFunctions.crsOf(x), GeoFunctions.crsOf(yf))
      require(cx == cy, s"X and Y must share a CRS (got '$cx' vs '$cy')")
    }
    val planar = GeoFunctions.isPlanar(x)
    val a = x.select(col("id").as("id_1"), col("lon").as("_lon1"), col("lat").as("_lat1"))
    val b = y.getOrElse(x)
      .select(col("id").as("id_2"), col("lon").as("_lon2"), col("lat").as("_lat2"))
    val joined =
      if (y.isEmpty && symmetric) a.join(b, col("id_1") < col("id_2"))
      else a.crossJoin(b)
    joined
      .withColumn("distance_m",
        GeoFunctions.distanceMeters(planar)(col("_lon1"), col("_lat1"), col("_lon2"), col("_lat2")))
      .select("id_1", "id_2", "distance_m")
  }

  /** Dynamic time warping distance between two point sequences (DP over
    * the small per-row arrays — a Scala kernel like the reference's
    * similaritymeasures call, distances.py:156-185).
    */
  private[operators] def dtw(a: Array[(Double, Double)], b: Array[(Double, Double)]): Double = {
    val n = a.length; val m = b.length
    if (n == 0 || m == 0) return Double.NaN
    val prev = Array.fill(m + 1)(Double.PositiveInfinity)
    val cur = Array.fill(m + 1)(Double.PositiveInfinity)
    prev(0) = 0.0
    for (i <- 1 to n) {
      java.util.Arrays.fill(cur, Double.PositiveInfinity)
      if (i == 1) cur(0) = Double.PositiveInfinity
      for (j <- 1 to m) {
        val d = GeoFunctions.haversineMeters(a(i - 1)._1, a(i - 1)._2, b(j - 1)._1, b(j - 1)._2)
        cur(j) = d + math.min(prev(j), math.min(cur(j - 1), prev(j - 1)))
      }
      System.arraycopy(cur, 0, prev, 0, m + 1)
    }
    prev(m)
  }

  /** Discrete Fréchet distance between two point sequences. */
  private[operators] def frechet(a: Array[(Double, Double)], b: Array[(Double, Double)]): Double = {
    val n = a.length; val m = b.length
    if (n == 0 || m == 0) return Double.NaN
    val ca = Array.fill(n, m)(-1.0)
    def c(i: Int, j: Int): Double = {
      if (ca(i)(j) >= 0) return ca(i)(j)
      val d = GeoFunctions.haversineMeters(a(i)._1, a(i)._2, b(j)._1, b(j)._2)
      ca(i)(j) =
        if (i == 0 && j == 0) d
        else if (i == 0) math.max(c(0, j - 1), d)
        else if (j == 0) math.max(c(i - 1, 0), d)
        else math.max(math.min(math.min(c(i - 1, j), c(i - 1, j - 1)), c(i, j - 1)), d)
      ca(i)(j)
    }
    c(n - 1, m - 1)
  }

  /** Symmetric discrete Hausdorff distance between two point sequences:
    * max over both directions of (for each point, the distance to the
    * nearest point of the other sequence). Unlike DTW/Fréchet it ignores
    * point ORDER — the right metric when two trajectories cover the same
    * route but were sampled in different patterns (shapely's
    * `hausdorff_distance` on the reference's LineStrings computes exactly
    * this vertex-set form). O(n·m) like the DP metrics, but with no
    * sequential dependency.
    */
  private[operators] def hausdorff(a: Array[(Double, Double)], b: Array[(Double, Double)]): Double = {
    val n = a.length; val m = b.length
    if (n == 0 || m == 0) return Double.NaN
    // one pass fills both directed minima: minB(j) = min_i d(i,j)
    val minB = Array.fill(m)(Double.PositiveInfinity)
    var dAB = 0.0
    var i = 0
    while (i < n) {
      var best = Double.PositiveInfinity
      var j = 0
      while (j < m) {
        val d = GeoFunctions.haversineMeters(a(i)._1, a(i)._2, b(j)._1, b(j)._2)
        if (d < best) best = d
        if (d < minB(j)) minB(j) = d
        j += 1
      }
      if (best > dAB) dAB = best
      i += 1
    }
    math.max(dAB, minB.max)
  }

  /** All-pairs trajectory distance (DTW, discrete Fréchet, or discrete
    * Hausdorff) over linestring tables, long form, upper triangle:
    * the reference-parity matrix (distances.py:156-185, contract: small
    * X×Y) — the one deliberately quadratic surface, for fixture-scale
    * parity only. `distance_m` is the exact kernel DOUBLE. At scale use
    * [[distanceMatrixLinestringsBounded]] — a separate method, not an
    * Option knob, because the bounded form has a DIFFERENT output
    * contract (whole-meter BIGINT floors, capped pairs only) and a
    * silent schema fork behind a parameter is how callers get bitten.
    */
  def distanceMatrixLinestrings(tpls: DataFrame, metric: String = "dtw"): DataFrame = {
    val kernel = trajectoryKernel(metric)
    val a = tpls.select(col("id").as("id_1"), col("points").as("_p1"))
    val b = tpls.select(col("id").as("id_2"), col("points").as("_p2"))
    a.join(b, col("id_1") < col("id_2"))
      .withColumn("distance_m", kernel(col("_p1"), col("_p2")))
      .select("id_1", "id_2", "distance_m")
  }

  /** The bounded 100 TB form of [[distanceMatrixLinestrings]]: with a
    * distance cap the full matrix is never wanted — delegates to the
    * banded near-pair search (padded-bbox cell equi-join, no cartesian;
    * plan pinned by spec). Output follows the near-pair contract —
    * (id_1, id_2, distance_m) with whole-meter BIGINT floors, only
    * pairs within the cap — which is why this is a distinctly named
    * method rather than an Option parameter on the matrix.
    */
  def distanceMatrixLinestringsBounded(tpls: DataFrame, metric: String,
                                       maxDistanceM: Double): DataFrame =
    trajectoryNearPairs(tpls, radiusM = maxDistanceM, metric = metric)

  private def trajectoryKernel(metric: String) = metric match {
    case "dtw"     => udf { (a: Seq[Row], b: Seq[Row]) =>
      dtw(a.map(r => (r.getDouble(0), r.getDouble(1))).toArray,
          b.map(r => (r.getDouble(0), r.getDouble(1))).toArray) }
    case "frechet" => udf { (a: Seq[Row], b: Seq[Row]) =>
      frechet(a.map(r => (r.getDouble(0), r.getDouble(1))).toArray,
              b.map(r => (r.getDouble(0), r.getDouble(1))).toArray) }
    case "hausdorff" => udf { (a: Seq[Row], b: Seq[Row]) =>
      hausdorff(a.map(r => (r.getDouble(0), r.getDouble(1))).toArray,
                b.map(r => (r.getDouble(0), r.getDouble(1))).toArray) }
    case other     => throw new IllegalArgumentException(s"metric unknown: $other")
  }

  /** Banded trajectory near-pair search: all pairs of linestrings whose
    * trajectory distance (discrete Hausdorff / Fréchet / DTW) is within
    * `radiusM` — the trajectory-clustering / GPS-track-dedup primitive.
    * [[distanceMatrixLinestrings]] is the all-pairs matrix the reference
    * exposes (distances.py:156–185, contract: small X×Y); this is its
    * 100 TB path: candidates meet through a padded-bbox GRID-CELL
    * equi-join — the colocation banding idea applied to whole
    * trajectories — so the expensive DP kernel runs only on spatially
    * co-located pairs, never corpus².
    *
    * Losslessness contract (RUNTIME-ENFORCED): every metric here is
    * lower-bounded by the gap between the trajectories' bounding boxes
    * (Hausdorff/Fréchet are maxima of point distances; DTW is a sum of
    * them), so with `padMicroDeg` ≥ `radiusM` expressed in
    * micro-degrees at the data's latitudes, any pair within `radiusM`
    * has overlapping padded integer bboxes — and two overlapping padded
    * bboxes always share the grid cell `(greatest of the two
    * min-cells)`, which is exactly the one cell where the pair is kept
    * (no post-dedup shuffle). By default the pad is DERIVED from
    * `radiusM` at `maxAbsLatDeg` (longitude micro-degrees shrink with
    * cos lat); an explicit pad below that floor throws, and the DATA is
    * checked against the declared envelope too — a per-line integer
    * assert in the bbox pass fails loudly if any point's |lat| exceeds
    * `maxAbsLatDeg`, so callers above 66° must raise `maxAbsLatDeg`
    * rather than silently lose near-radius pairs (the parameter-only
    * require can't see where the data actually lives; the data check
    * can). The candidate set is a superset; a bbox-gap
    * lower-bound prune (provably below the kernel value) skips
    * kernel calls the radius filter would reject, and the exact kernel
    * decides membership for the rest.
    *
    * Scale shape: per line, O(bbox/cell) exploded cell rows (bounded by
    * trajectory extent, not corpus size); one (cx, cy) hash equi-join;
    * the kernel only on survivors. Same integer-grid discipline as
    * [[colocationMeetings]] — cell ids are exact floors of micro-degree
    * longs, engine-identical.
    *
    * Geometry contract (SURVEY §6): banding separates what
    * geography separates. On a region-scale corpus it admits ~1/500 of
    * the pair space; when the WHOLE corpus shares one neighborhood the
    * candidate volume is inherently quadratic and squeezed through a
    * few hot cells (skew in join OUTPUT, invisible to AQE). For that
    * regime `spreadFactor` g tiles the PAIR space exactly like
    * [[colocationMeetings]]: the a-side keys each row by its own
    * hash-tile and replicates across the b-axis (and vice versa), so a
    * monster cell's quadratic output splits across g² independent
    * tasks at the price of ×g input replication. Output-identical
    * (spec-pinned); deliberately not the default — at dispersed
    * geometry the replication cannot pay.
    *
    * @return (id_1, id_2, distance_m) with distance floored to whole
    *         meters, id_1 < id_2, distance ≤ radiusM
    */
  def trajectoryNearPairs(tpls: DataFrame, radiusM: Double = 300.0,
                          cellMicroDeg: Long = 10000L, padMicroDeg: Long = -1L,
                          metric: String = "hausdorff", spreadFactor: Int = 1,
                          maxAbsLatDeg: Double = 66.0): DataFrame = {
    require(radiusM > 0 && cellMicroDeg > 0, "radius/cell must be sensible")
    require(spreadFactor >= 1, s"spreadFactor must be >= 1, got $spreadFactor")
    require(maxAbsLatDeg > 0 && maxAbsLatDeg < 90, s"maxAbsLatDeg must be in (0, 90)")
    // losslessness is a RUNTIME contract, not a doc: the pad must cover
    // radiusM in LONGITUDE micro-degrees, which shrink with cos(lat) —
    // a fixed pad that covers 300 m at 47° covers under 300 m above
    // ~63° and would silently drop near-radius pairs. Default: derive
    // the pad from radiusM at maxAbsLatDeg (1° lat = πR/180 m; lon
    // shrunk by cos); an explicit pad is validated against the same
    // floor so high-latitude callers must widen maxAbsLatDeg (and
    // therefore the pad) instead of silently losing pairs.
    val padNeeded = math.ceil(
      radiusM / (mPerMicroDegLat * math.cos(math.toRadians(maxAbsLatDeg)))).toLong
    val pad = if (padMicroDeg >= 0L) padMicroDeg else padNeeded
    require(pad >= padNeeded,
      s"padMicroDeg=$pad covers under radiusM=$radiusM at |lat| <= $maxAbsLatDeg deg " +
        s"(needs >= $padNeeded µdeg); widen the pad or lower maxAbsLatDeg")
    val kernel = trajectoryKernel(metric)
    val candidates = trajectoryBandCandidates(tpls, cellMicroDeg, pad, spreadFactor,
      latCapMicroDeg = (maxAbsLatDeg * 1e6).toLong + 1L)
    // exact bbox-gap LOWER BOUND prune before the DP kernel: every
    // metric here is ≥ the haversine gap between the (unpadded)
    // bboxes — Hausdorff/Fréchet are maxima of point distances, DTW a
    // sum of them, and any A-point/B-point distance is ≥ the box gap.
    // Bound in meters: R·Δφ for the latitude gap; 2R·sin(Δλ/2)·cos(φ)
    // at the pair's max |lat| for the longitude gap (hav(d/R) =
    // hav(Δφ) + cosφ₁cosφ₂·hav(Δλ) makes both true lower bounds).
    // Margins keep it PROVABLY below the kernel's value: 2 µdeg off
    // each gap for the ±0.5 µdeg endpoint quantization, ×0.999 for
    // double rounding — so pruning is output-identical (spec-pinned),
    // it only skips kernel calls the radius filter would reject.
    val pruned = candidates
      .filter {
        val dLatU = greatest(lit(0L),
          greatest(col("a_by0"), col("b_by0")) - least(col("a_by1"), col("b_by1")) - lit(2L))
        val dLonU = greatest(lit(0L),
          greatest(col("a_bx0"), col("b_bx0")) - least(col("a_bx1"), col("b_bx1")) - lit(2L))
        val maxAbsLat = greatest(abs(col("a_by0")), abs(col("a_by1")),
          abs(col("b_by0")), abs(col("b_by1"))).cast("double") * lit(1e-6 * math.Pi / 180.0)
        val latBound = dLatU.cast("double") * lit(mPerMicroDegLat * 0.999)
        val lonBound = lit(2.0 * 6371000.0 * 0.999) *
          sin(dLonU.cast("double") * lit(0.5e-6 * math.Pi / 180.0)) * cos(maxAbsLat)
        greatest(latBound, lonBound) <= lit(radiusM)
      }
      .select(col("a_id"), col("b_id"))
    val pts = tpls.select(col("id"), col("points"))
    // round-robin the SKINNY survivor pairs before the kernel: candidate
    // volume per (cell, tile) is as skewed as the geometry, and the
    // point-attach joins broadcast — i.e. the expensive kernel inherits
    // whatever imbalance the candidate join left. One ~16-byte/row
    // exchange spreads kernel calls exactly evenly (probe: packed g=8
    // used ~2.4 of 32 cores without it)
    val spreadCandidates = pruned
      .repartition(tpls.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt)
    spreadCandidates
      .join(pts.select(col("id"), col("points").as("a_pts")), col("a_id") === col("id")).drop("id")
      .join(pts.select(col("id"), col("points").as("b_pts")), col("b_id") === col("id")).drop("id")
      .withColumn("_d", kernel(col("a_pts"), col("b_pts")))
      .filter(col("_d") <= radiusM)
      .select(col("a_id").as("id_1"), col("b_id").as("id_2"),
        floor(col("_d")).cast("long").as("distance_m"))
  }

  /** Meters one micro-degree of latitude spans (πR/180 · 1e-6). */
  private val mPerMicroDegLat = math.Pi / 180.0 * 6371000.0 / 1e6

  /** The band-admitted candidate pair table of [[trajectoryNearPairs]]:
    * one row per (a_id < b_id) pair whose `pad`-padded integer bboxes
    * share a grid cell, plus both raw micro-degree bboxes for the
    * caller's pruning arithmetic.
    */
  private def trajectoryBandCandidates(tpls: DataFrame, cellMicroDeg: Long,
                                       pad: Long, spreadFactor: Int,
                                       latCapMicroDeg: Long): DataFrame = {
    require(cellMicroDeg > 0 && pad >= 0 && spreadFactor >= 1, "cell/pad/spread must be sensible")
    val g = spreadFactor.toLong
    val qLon = transform(col("points"), p => floor(p.getField("lon") * 1e6 + lit(0.5)).cast("long"))
    val qLat = transform(col("points"), p => floor(p.getField("lat") * 1e6 + lit(0.5)).cast("long"))
    def cellOf(c: Column): Column =
      floor(c.cast("double") / cellMicroDeg.toDouble).cast("long")
    val raw = tpls.select(col("id"),
        array_min(qLon).as("_bx0"), array_max(qLon).as("_bx1"),
        array_min(qLat).as("_by0"), array_max(qLat).as("_by1"))
    // the declared-latitude envelope is checked against the DATA, per
    // line, pre-join: the failure mode it guards (pad derived at
    // maxAbsLatDeg, data above it → padded bboxes of a near-radius pair
    // share no cell) produces NO candidate row, so a post-join check
    // could never see it. One integer compare per line, codegen'd.
    val bboxChecked =
      if (latCapMicroDeg == Long.MaxValue) raw
      else raw.filter(assert_true(
        greatest(abs(col("_by0")), abs(col("_by1"))) <= lit(latCapMicroDeg),
        lit(s"trajectoryNearPairs: data latitude exceeds the declared maxAbsLatDeg " +
          s"envelope (cap $latCapMicroDeg microdeg) — the derived pad does not cover " +
          "radiusM there; raise maxAbsLatDeg")).isNull)
    val bbox = bboxChecked
      .select(col("id"),
        col("_bx0"), col("_bx1"), col("_by0"), col("_by1"),
        cellOf(col("_bx0") - pad).as("_cx0"), cellOf(col("_bx1") + pad).as("_cx1"),
        cellOf(col("_by0") - pad).as("_cy0"), cellOf(col("_by1") + pad).as("_cy1"))
    // the candidate join runs SKINNY — ids, cell ids and 4 bbox longs
    // per side. Carrying the point arrays through the join was measured
    // 10×+ slower on a hot-cell geometry: the pre-dedup join output is
    // quadratic in the hot cell's occupancy, and every row would copy
    // two 2×N-double payloads; instead points attach to the ~|survivor|
    // id pairs via two hash joins against the line table afterwards.
    def cells(p: String): DataFrame = {
      val base = bbox
        .select(col("id").as(s"${p}_id"),
          col("_cx0").as(s"${p}_cx0"), col("_cx1").as(s"${p}_cx1"),
          col("_cy0").as(s"${p}_cy0"), col("_cy1").as(s"${p}_cy1"),
          col("_bx0").as(s"${p}_bx0"), col("_bx1").as(s"${p}_bx1"),
          col("_by0").as(s"${p}_by0"), col("_by1").as(s"${p}_by1"))
        .withColumn("cx", explode(sequence(col(s"${p}_cx0"), col(s"${p}_cx1"))))
        .withColumn("cy", explode(sequence(col(s"${p}_cy0"), col(s"${p}_cy1"))))
        .drop(s"${p}_cx1", s"${p}_cy1")
      if (g == 1L) base
      else {
        val own = pmod(xxhash64(col(s"${p}_id")), lit(g))
        if (p == "a")
          base.withColumn("_ga", own).withColumn("_gb", explode(sequence(lit(0L), lit(g - 1L))))
        else
          base.withColumn("_gb", own).withColumn("_ga", explode(sequence(lit(0L), lit(g - 1L))))
      }
    }
    val joinKeys = Seq("cx", "cy") ++ (if (g > 1L) Seq("_ga", "_gb") else Nil)
    // repartition the probe side by the join keys: the cell tables are
    // small enough to broadcast, and a broadcast join PIPELINES into the
    // stream side's partitioning — if the line table arrived coalesced
    // (AQE shrinks a small groupBy to 1 partition), the quadratic join
    // output AND the kernel would run in one task (measured: a 40.8M-
    // pair hot-cell probe pinned a single core for 38+ min). One skinny
    // exchange buys kernel parallelism independent of upstream layout,
    // and makes the tiling columns actually spread hot cells.
    cells("a").repartition(joinKeys.map(col): _*)
      .join(cells("b"), joinKeys)
      .filter(col("a_id") < col("b_id"))
      // a pair sharing several cells is kept ONCE, at the element-wise
      // greatest of the two padded min-cells — in both ranges whenever
      // the bboxes overlap, so exactly one surviving row per pair
      .filter(col("cx") === greatest(col("a_cx0"), col("b_cx0")) &&
        col("cy") === greatest(col("a_cy0"), col("b_cy0")))
      .select(col("a_id"), col("b_id"),
        col("a_bx0"), col("a_bx1"), col("a_by0"), col("a_by1"),
        col("b_bx0"), col("b_bx1"), col("b_by0"), col("b_by1"))
  }

  /** k-anonymous spatial coarsening for publishing point data: snap
    * points to a fixed lon/lat grid and keep only cells visited by at
    * least `k` distinct users — the standard small-cell-suppression rule
    * (cells identifying fewer than k individuals never leave the
    * cluster). Returns the surviving cell summary; join it back
    * (`suppressRareCells`) to filter row-level data to publishable
    * cells.
    *
    * The cell id is an exact integer floor of micro-degree coordinates —
    * boundary points land identically in any engine (floating division
    * by the cell size would not: 0.01 has no binary representation, so
    * `floor(lon/0.01)` can flip at cell edges; `floor(lon·1e6)` then
    * integer-dividing by the micro-degree cell width cannot). One
    * map-side-combinable groupBy; distinct-user counts partial-aggregate.
    *
    * @param cellMicroDeg cell width in micro-degrees (10000 ≈ 0.01° ≈ 1.1 km E-W)
    */
  def kAnonymousCells(points: DataFrame, cellMicroDeg: Long = 10000L, k: Int = 5,
                      userCol: String = "user_id"): DataFrame = {
    require(cellMicroDeg > 0 && k >= 1, "cell width and k must be positive")
    points
      .groupBy(quantizedCell(col("lon"), cellMicroDeg).as("cell_x"),
               quantizedCell(col("lat"), cellMicroDeg).as("cell_y"))
      .agg(countDistinct(col(userCol)).as("n_users"), count(lit(1)).as("n_points"))
      .filter(col("n_users") >= k)
  }

  /** Radiation-model origin–destination flows (Simini, González,
    * Maritan & Barabási 2012, "A universal model for mobility and
    * migration patterns", Nature 484): parameter-free flow prediction
    * T_ij = O_i · m_i·m_j / ((m_i + s_ij)(m_i + m_j + s_ij)), where
    * s_ij is the population inside the circle of radius d_ij around
    * origin i (excluding i and j themselves). The parameter-free
    * counterpart of the fitted gravity model (`od_gravity_fit`) — the
    * pair every mobility-flows analysis publishes side by side.
    *
    * Engine-exact by construction: "populations" are integer visit
    * counts on the [[kAnonymousCells]] grid, and the neighborhood
    * ordering uses the integer squared planar distance
    * `(Δcx·cosLatQ)² + (Δcy·10⁶)²` in DECIMAL(38,0) — cosLatQ =
    * ⌊cos(refLatDeg)·10⁶⌉ is computed ONCE in Scala and injected as a
    * literal into both plans, the hourCosQ trick, so no libm call
    * decides an ordering. Ties in distance break on (cell_x, cell_y):
    * s_ij sums cells strictly (d², x, y)-before the destination — a
    * documented total-order refinement of the paper's circle. O_i is
    * taken as m_i (outflow proportional to population, the paper's
    * convention when trip generation rates are unobserved). The flow
    * is ONE double division of exact integer products.
    *
    * Scale shape: the cell table is an aggregation output, orders
    * smaller than the raw points; pairs are |cells|² of THAT — the
    * model's inherent cost (every published implementation is
    * quadratic in zones) — with the prefix sum one window over each
    * origin's ordered neighbor list. For planet-scale zone counts use
    * [[radiationFlowsRinged]]: block-equi-join candidates, an exact
    * integer distance cap, and ring-decomposed prefix sums —
    * bit-identical on every pair it emits; at the gate's scale the
    * zone table is tiny and the full window is the right plan.
    *
    * @return (o_x, o_y, d_x, d_y, m_o, m_d, s_ij, flow)
    */
  def radiationFlows(points: DataFrame, cellMicroDeg: Long = 10000L,
                     refLatDeg: Double = 47.6): DataFrame = {
    require(cellMicroDeg > 0, "cell width must be positive")
    val cosLatQ = math.floor(math.cos(math.toRadians(refLatDeg)) * 1e6 + 0.5).toLong
    val cells = points
      .groupBy(quantizedCell(col("lon"), cellMicroDeg).as("cx"),
               quantizedCell(col("lat"), cellMicroDeg).as("cy"))
      .agg(count(lit(1)).cast("long").as("m"))
    val o = cells.select(col("cx").as("o_x"), col("cy").as("o_y"), col("m").as("m_o"))
    val d = cells.select(col("cx").as("d_x"), col("cy").as("d_y"), col("m").as("m_d"))
    val pairs = o.join(d, !(col("o_x") === col("d_x") && col("o_y") === col("d_y")))
      .withColumn("_d2",
        dq((col("d_x") - col("o_x")) * lit(cosLatQ)) * dq((col("d_x") - col("o_x")) * lit(cosLatQ)) +
          dq((col("d_y") - col("o_y")) * lit(1000000L)) * dq((col("d_y") - col("o_y")) * lit(1000000L)))
    val byOrigin = Window.partitionBy(col("o_x"), col("o_y"))
      .orderBy(col("_d2"), col("d_x"), col("d_y"))
      .rowsBetween(Window.unboundedPreceding, -1)
    pairs
      .withColumn("s_ij", coalesce(sum(col("m_d")).over(byOrigin), lit(0L)).cast("long"))
      .withColumn("flow",
        (dq(col("m_o")) * dq(col("m_o")) * dq(col("m_d"))).cast("double") /
          ((dq(col("m_o")) + dq(col("s_ij"))) *
            (dq(col("m_o")) + dq(col("m_d")) + dq(col("s_ij")))).cast("double"))
      .select(col("o_x"), col("o_y"), col("d_x"), col("d_y"),
        col("m_o"), col("m_d"), col("s_ij"), col("flow"))
  }

  /** Distance-ring-banded radiation flows — the bounded planet-scale
    * twin of [[radiationFlows]] (the same relationship
    * trajectoryNearPairs has to the parity distance matrix). Two things
    * change versus the exact-window form:
    *
    *  1. '''Bounded pair space.''' Only pairs with squared planar
    *     distance d² < ((maxRings+1)·ringWidthCells·10⁶)² are emitted —
    *     an EXACT INTEGER cap (no floating boundary decides membership).
    *     Radiation flows decay as 1/s_ij², so truncating the far tail is
    *     the standard production contract. Candidates meet through a
    *     3×3 neighbor-block EQUI-join sized to cover the cap radius
    *     (block width ⌈cap/cosLatQ⌉ cells in x, cap cells in y), so the
    *     plan is hash-join + per-block pairs, never zones².
    *  2. '''Bounded window partitions.''' s_ij splits into
    *     (prefix over whole closer rings) + (within-ring strictly-before
    *     window): the per-origin ring-population table is rings-wide and
    *     the within-ring sort is ring-local, so no single partition
    *     holds an origin's entire neighbor list.
    *
    * Exactness argument for the split: the ring index
    * ⌊√d² / (ringWidthCells·10⁶)⌋ is computed in doubles, but IEEE
    * sqrt and the decimal→double cast are both MONOTONE non-decreasing,
    * and the index is a function of d² alone — so d²_a < d²_b implies
    * ring_a ≤ ring_b and equal d² implies equal ring. Any such monotone
    * ring assignment makes ring-prefix + within-ring-prefix equal the
    * global (d², d_x, d_y) prefix EXACTLY, so s_ij (and the flow) is
    * bit-identical to [[radiationFlows]] on every emitted pair,
    * regardless of where doubles put a boundary cell. Pinned by
    * RadiationSpec (ringed == exact ∩ cap, several ring widths) and the
    * `radiation_flows_ringed` oracle, whose SQL is the plain windowed
    * form plus the integer cap filter.
    *
    * @return (o_x, o_y, d_x, d_y, m_o, m_d, s_ij, flow) — pairs within
    *         the cap only
    */
  def radiationFlowsRinged(points: DataFrame, cellMicroDeg: Long = 10000L,
                           refLatDeg: Double = 47.6, ringWidthCells: Long = 8L,
                           maxRings: Int = 8): DataFrame = {
    require(cellMicroDeg > 0 && ringWidthCells > 0 && maxRings >= 0,
      "cell width, ring width and ring count must be sensible")
    val cosLatQ = math.floor(math.cos(math.toRadians(refLatDeg)) * 1e6 + 0.5).toLong
    // cosLatQ = 0 (refLatDeg ≈ ±90) would divide-by-zero sizing blockX;
    // negative (|refLatDeg| > 90) would produce negative block widths and
    // a silently lossy candidate join — the exact twin degrades
    // gracefully there, so the bounded twin must fail loudly instead
    require(cosLatQ > 0,
      s"refLatDeg=$refLatDeg quantizes cos to $cosLatQ; need |refLatDeg| < 90 with cos(refLatDeg)*1e6 >= 1")
    // cap in sqrt-units (cell·10⁶); block widths cover the cap radius
    val capU = (maxRings.toLong + 1L) * ringWidthCells * 1000000L
    val capSq = new java.math.BigDecimal(java.math.BigInteger.valueOf(capU).pow(2))
    val blockY = (maxRings.toLong + 1L) * ringWidthCells
    val blockX = (capU + cosLatQ - 1L) / cosLatQ
    def blk(c: Column, w: Long): Column =
      floor(c.cast("double") / w.toDouble).cast("long")
    val cells = points
      .groupBy(quantizedCell(col("lon"), cellMicroDeg).as("cx"),
               quantizedCell(col("lat"), cellMicroDeg).as("cy"))
      .agg(count(lit(1)).cast("long").as("m"))
    val o = cells
      .select(col("cx").as("o_x"), col("cy").as("o_y"), col("m").as("m_o"))
      .withColumn("_ex", explode(array((-1 to 1).map(lit): _*)))
      .withColumn("_ey", explode(array((-1 to 1).map(lit): _*)))
      .select(col("o_x"), col("o_y"), col("m_o"),
        (blk(col("o_x"), blockX) + col("_ex")).as("_bx"),
        (blk(col("o_y"), blockY) + col("_ey")).as("_by"))
    val d = cells.select(col("cx").as("d_x"), col("cy").as("d_y"), col("m").as("m_d"),
      blk(col("cx"), blockX).as("_bx"), blk(col("cy"), blockY).as("_by"))
    val cand = o.join(d, Seq("_bx", "_by"))
      .filter(!(col("o_x") === col("d_x") && col("o_y") === col("d_y")))
      .withColumn("_d2",
        dq((col("d_x") - col("o_x")) * lit(cosLatQ)) * dq((col("d_x") - col("o_x")) * lit(cosLatQ)) +
          dq((col("d_y") - col("o_y")) * lit(1000000L)) * dq((col("d_y") - col("o_y")) * lit(1000000L)))
      .filter(col("_d2") < lit(capSq))
      .withColumn("_ring",
        floor(sqrt(col("_d2").cast("double")) / lit(ringWidthCells.toDouble * 1e6)).cast("long"))
    val ringPop = cand.groupBy(col("o_x"), col("o_y"), col("_ring"))
      .agg(sum(col("m_d")).as("_rpop"))
    val byRings = Window.partitionBy(col("o_x"), col("o_y")).orderBy(col("_ring"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val base = ringPop.withColumn("_sbase", coalesce(sum(col("_rpop")).over(byRings), lit(0L)))
      .select(col("o_x"), col("o_y"), col("_ring"), col("_sbase"))
    val inRing = Window.partitionBy(col("o_x"), col("o_y"), col("_ring"))
      .orderBy(col("_d2"), col("d_x"), col("d_y"))
      .rowsBetween(Window.unboundedPreceding, -1)
    cand.join(base, Seq("o_x", "o_y", "_ring"))
      .withColumn("s_ij",
        (col("_sbase") + coalesce(sum(col("m_d")).over(inRing), lit(0L))).cast("long"))
      .withColumn("flow",
        (dq(col("m_o")) * dq(col("m_o")) * dq(col("m_d"))).cast("double") /
          ((dq(col("m_o")) + dq(col("s_ij"))) *
            (dq(col("m_o")) + dq(col("m_d")) + dq(col("s_ij")))).cast("double"))
      .select(col("o_x"), col("o_y"), col("d_x"), col("d_y"),
        col("m_o"), col("m_d"), col("s_ij"), col("flow"))
  }

  /** Place-level experienced segregation (Moro et al. 2021, "Mobility
    * patterns are associated with experienced income segregation in
    * large US cities": a place's segregation is how far its visitor mix
    * deviates from an even split across population groups). Per grid
    * cell: S = Σ_k |τ_k − 1/g| · g / (2(g−1)) where τ_k is group k's
    * visit share — 0 for a perfectly mixed place, 1 for a single-group
    * place. The group label is a caller-supplied column (demographics
    * joined upstream in production; the gate uses a deterministic
    * user-id bucket as the stand-in — the synthetic corpus carries no
    * demographics).
    *
    * Exactness: with integer counts, Σ_k |τ_k − 1/g| = Σ_k |g·c_k − N|
    * / (g·N), and absent groups contribute |0 − N| = N each, so
    * `seg_num = Σ_present |g·c_k − N| + (g − present)·N` is an exact
    * integer and S = seg_num / (2(g−1)·N) is one final double division
    * — engine-identical.
    *
    * Scale shape: one map-side-combinable (cell, group) count, a window
    * over the bounded cell-group table (≤ g rows per cell), one final
    * groupBy. No joins.
    */
  def placeSegregation(points: DataFrame, cellMicroDeg: Long = 10000L, nGroups: Int = 4,
                       groupCol: Option[Column] = None): DataFrame = {
    require(cellMicroDeg > 0 && nGroups >= 2, "cell width and group count must be sensible")
    val g = nGroups.toLong
    // the default stand-in bucket follows nGroups — a hard-pinned mod-4
    // with nGroups != 4 would silently score phantom absent groups
    val grp = groupCol.getOrElse(pmod(col("user_id"), lit(nGroups)).cast("long"))
    val vg = points
      .groupBy(quantizedCell(col("lon"), cellMicroDeg).as("cx"),
               quantizedCell(col("lat"), cellMicroDeg).as("cy"), grp.as("_grp"))
      .agg(count(lit(1)).cast("long").as("_c"))
    val byCell = Window.partitionBy(col("cx"), col("cy"))
    vg.withColumn("_n", sum(col("_c")).over(byCell))
      .groupBy(col("cx"), col("cy"), col("_n"))
      .agg(sum(abs(lit(g) * col("_c") - col("_n"))).as("_sp"),
        count(lit(1)).as("_present"))
      .select(col("cx"), col("cy"), col("_n").cast("long").as("n_visits"),
        (col("_sp") + (lit(g) - col("_present")) * col("_n")).cast("long").as("seg_num"),
        ((col("_sp") + (lit(g) - col("_present")) * col("_n")).cast("double") /
          (lit(2.0 * (g - 1)) * col("_n").cast("double"))).as("segregation"))
  }

  /** Co-location (meeting) detection: pairs of users whose stay
    * intervals overlap in time while inside the same spatial grid cell
    * — the contact/encounter primitive of epidemiology and social-tie
    * inference on mobility data.
    *
    * Scale: the naive formulation is a per-cell interval cross join;
    * here candidates meet through a (cell, time-band) equi-join — the
    * IntervalJoin.bandedCandidates envelope, keyed by space AND time —
    * so the pair volume is quadratic only in the intervals touching one
    * cell-band, which the band width tunes. A pair spanning several
    * bands is kept once, at the first band both intervals touch
    * (`band = greatest(first_a, first_b)` — no post-dedup shuffle).
    * The final per-pair aggregation map-side combines.
    */
  def colocationPairs(intervals: DataFrame, cellMicroDeg: Long = 10000L,
                      bandMinutes: Double = 120.0): DataFrame =
    colocationPairsFromMeetings(colocationMeetings(intervals, cellMicroDeg, bandMinutes))

  /** Aggregate a meeting-level frame to the per-pair contact table —
    * split out so a memoized/shared meetings frame can feed the whole
    * contact family without recomputing the banded join.
    */
  def colocationPairsFromMeetings(meetings: DataFrame): DataFrame =
    meetings
      .groupBy(col("user_a"), col("user_b"))
      .agg(count(lit(1)).cast("long").as("n_meetings"),
        sum(col("m_f_us") - col("m_s_us")).cast("long").as("overlap_us"))

  /** The meeting-level rows under [[colocationPairs]]: one row per
    * co-located interval pair, carrying the overlap window
    * `[m_s_us, m_f_us)` — the input to inter-contact-time analysis.
    * Same banded candidate join and once-per-pair band rule.
    *
    * `spreadFactor` g > 1 is the monster-cell knob (the raised-density
    * probe's finding, SURVEY.md §6): the join's skew is in its OUTPUT —
    * one dense urban (cell, band) key emits n² candidate pairs inside a
    * single reduce task — which AQE's skew-join rule cannot see (it
    * splits on map-side INPUT bytes, and a hot cell's input is only n).
    * Spreading tiles each key's pair space over a g×g grid of sub-keys:
    * side A tags rows with ga = hash(user) mod g and replicates them
    * across all gb, side B symmetrically, and the join keys gain
    * (ga, gb) — every user pair still meets exactly once, at
    * (ga(a), gb(b)), so the output is IDENTICAL for any g (spec-pinned),
    * while the hottest key's per-task pair work drops ~g². Cost: each
    * side's shuffle volume grows ×g — pay it only when a density map
    * says monster cells exist (at city scale they do; the default 1 is
    * the no-op plain join).
    */
  def colocationMeetings(intervals: DataFrame, cellMicroDeg: Long = 10000L,
                         bandMinutes: Double = 120.0, spreadFactor: Int = 1): DataFrame = {
    require(cellMicroDeg > 0 && bandMinutes > 0, "cell and band must be positive")
    require(spreadFactor >= 1, s"spreadFactor must be >= 1, got $spreadFactor")
    val bandUs = (bandMinutes * 60e6).toLong
    val g = spreadFactor.toLong
    def side(pfx: String): DataFrame = {
      val base = intervals.select(
        col("user_id").as(s"${pfx}_user"),
        col("s_us").as(s"${pfx}_s"), col("f_us").as(s"${pfx}_f"),
        quantizedCell(col("lon"), cellMicroDeg).as("cx"),
        quantizedCell(col("lat"), cellMicroDeg).as("cy"),
        floor(col("s_us") / lit(bandUs.toDouble)).cast("long").as(s"${pfx}_b0"),
        explode(sequence(
          floor(col("s_us") / lit(bandUs.toDouble)).cast("long"),
          floor(greatest(col("f_us") - 1, col("s_us")) / lit(bandUs.toDouble)).cast("long")))
          .as("band"))
      if (g == 1L) base
      else {
        // own grid coordinate from the user id; replicate across the
        // other axis so every (ga, gb) tile sees its pair slice
        val own = pmod(xxhash64(col(s"${pfx}_user")), lit(g))
        if (pfx == "a")
          base.withColumn("_ga", own).withColumn("_gb", explode(sequence(lit(0L), lit(g - 1L))))
        else
          base.withColumn("_gb", own).withColumn("_ga", explode(sequence(lit(0L), lit(g - 1L))))
      }
    }
    val joinKeys = Seq("cx", "cy", "band") ++ (if (g > 1L) Seq("_ga", "_gb") else Nil)
    side("a").join(side("b"), joinKeys)
      .filter(col("band") === greatest(col("a_b0"), col("b_b0")))
      .filter(col("a_user") < col("b_user"))
      .filter(col("a_s") < col("b_f") && col("b_s") < col("a_f"))
      .select(col("a_user").as("user_a"), col("b_user").as("user_b"),
        greatest(col("a_s"), col("b_s")).as("m_s_us"),
        least(col("a_f"), col("b_f")).as("m_f_us"))
  }

  /** Inter-contact-time histogram: per user pair, the whole-second gaps
    * between the end of one meeting and the start of the next
    * (SocioPatterns-style contact analysis — the inter-contact
    * distribution's heavy tail drives epidemic spreading speed, cf.
    * Cattuto et al. 2010). Meetings order by (start, end) — exact
    * duplicates are order-invariant for the gap multiset; overlapping
    * or back-to-back meetings (gap < 1 s) drop. A meeting with a null
    * start, or after one with a null end, has no gap.
    *
    * Scale shape: each pair's meetings in (m_s_us, m_f_us) order are one
    * [[SortedScan]] run that carries only the previous meeting — then a
    * ≤ 64-bucket map-side-combinable count.
    */
  def interContactTimes(meetings: DataFrame): DataFrame = {
    // nullable, as the window form's gap column was: the bucket keeps
    // its nullable schema
    val gapSchema = StructType(Seq(StructField("_gap", LongType)))
    val stream = meetings
      .select(col("user_a"), col("user_b"), col("m_s_us").cast("long"), col("m_f_us").cast("long"))
    val gaps = SortedScan(stream, Seq("user_a", "user_b"), Seq("m_s_us", "m_f_us"), gapSchema) { rows =>
      // each meeting's gap to the pair's previous meeting: Spark's
      // `(m_s − previous m_f) / 1000000L` (a double) cast to long
      var prev: Row = null
      rows.flatMap { r =>
        val p = prev
        prev = r
        if (p == null || p.isNullAt(3) || r.isNullAt(2)) None
        else {
          val gap = ((r.getLong(2) - p.getLong(3)).toDouble / 1000000L.toDouble).toLong
          if (gap >= 1L) Some(Row(gap)) else None
        }
      }
    }
    gaps.withColumn("bucket", (length(bin(col("_gap"))) - 1).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).cast("long").as("n_gaps"),
        sum(col("_gap")).cast("long").as("sum_sec"))
  }

  /** Convoy / travel-together pairs (the pairwise core of Jeung et al.
    * 2008, "Discovery of Convoys in Trajectory Databases"): pairs whose
    * co-location persists over at least `minConsecutive` CONSECUTIVE
    * time bands — sustained co-movement, where [[colocationPairs]]
    * counts any single encounter. Each meeting interval maps to the
    * band range it covers; per pair, maximal runs of consecutive bands
    * are the merge of those ranges (touching or overlapping ranges
    * fuse); runs at or above the threshold are emitted with their
    * start band and length.
    *
    * Scale shape: each meeting collapses to its covered band RANGE
    * [b_s, b_f] — never unrolled to one row per band, so a week-long
    * meeting at a 1-minute band costs one row, not 10k — and runs come
    * from the classic interval-merge: each pair's ranges in (b_s, b_f)
    * order are one [[SortedScan]] run ([[convoyScan]]) whose state is the
    * open run and the running max of range ends; a run is emitted when it
    * closes. No window and no run aggregate; cost proportional to the
    * meeting table. Nothing ever joins raw trajectories.
    */
  def convoyPairs(meetings: DataFrame, bandMinutes: Double = 120.0,
                  minConsecutive: Int = 2): DataFrame = {
    require(bandMinutes > 0 && minConsecutive >= 1,
      "need positive band width and run threshold")
    val bandUs = (bandMinutes * 60e6).toLong
    val f = meetings.schema
    // nullable band columns, as the window form's run aggregates were
    val schema = StructType(Seq(f("user_a"), f("user_b"),
      StructField("run_start_band", LongType), StructField("n_bands", LongType)))
    val ranges = meetings
      .select(col("user_a"), col("user_b"),
        floor(col("m_s_us") / lit(bandUs.toDouble)).cast("long").as("_bs"),
        floor(greatest(col("m_f_us") - 1, col("m_s_us")) / lit(bandUs.toDouble)).cast("long").as("_bf"))
    SortedScan(ranges, Seq("user_a", "user_b"), Seq("_bs", "_bf"), schema)(convoyScan(minConsecutive))
  }

  /** Interval merge over one pair's (user_a, user_b, b_s, b_f) ranges in
    * (b_s, b_f) order, nulls first. A range opens a new run when no
    * earlier range of the pair has a non-null end, or when its start lies
    * past the running max end + 1 (a null start never does); a run spans
    * min(b_s) to max(b_f) over its non-null values and is emitted at
    * close when both exist and it covers >= minConsecutive bands.
    */
  private def convoyScan(minConsecutive: Int)(rows: Iterator[Row]): Iterator[Row] = {
    var pair: Row = null
    // running max of the pair's range ends, and the open run's bounds
    var maxEnd: java.lang.Long = null
    var runStart: java.lang.Long = null
    var runEnd: java.lang.Long = null

    def close(): Option[Row] = {
      val n = if (runStart == null || runEnd == null) 0L else runEnd - runStart + 1L
      val run = if (n >= minConsecutive) Some(Row(pair.get(0), pair.get(1), runStart.longValue, n)) else None
      runStart = null; runEnd = null
      run
    }

    def step(r: Row): Option[Row] = {
      val closed = if (maxEnd == null || (!r.isNullAt(2) && r.getLong(2) > maxEnd + 1L)) close() else None
      pair = r
      if (!r.isNullAt(2)) runStart = if (runStart == null) r.getLong(2) else math.min(runStart, r.getLong(2))
      if (!r.isNullAt(3)) {
        val e = r.getLong(3)
        runEnd = if (runEnd == null) e else math.max(runEnd, e)
        maxEnd = if (maxEnd == null) e else math.max(maxEnd, e)
      }
      closed
    }

    rows.flatMap(step) ++ close()
  }

  /** Focal (3×3-neighborhood) hotspot statistics on the micro-degree
    * grid — the Getis-Ord-style local density surface behind every
    * "where does activity cluster" map (a cell whose neighborhood share
    * far exceeds the uniform expectation is a hotspot). Per visited
    * cell: its own point count, the 9-cell focal sum (cell + 8
    * neighbors), and the focal share of all points — the exact-integer
    * core of Gi*; the z-normalization is a driver-side afterthought at
    * report time and deliberately left out of the engine result.
    *
    * Scale shape: points collapse to per-cell counts first (one
    * map-side-combinable groupBy bounded by the visited-cell domain);
    * the focal sum is a 9-way offset explode + re-groupBy over that
    * bounded cell table, never over raw points; the total rides in via
    * one broadcast single-row cross join.
    */
  def hotspotCells(points: DataFrame, cellMicroDeg: Long = 10000L): DataFrame = {
    require(cellMicroDeg > 0, "cell width must be positive")
    val cells = points
      .groupBy(quantizedCell(col("lon"), cellMicroDeg).as("cell_x"),
               quantizedCell(col("lat"), cellMicroDeg).as("cell_y"))
      .agg(count(lit(1)).cast("long").as("n_points"))
    val offsets = for { dx <- -1L to 1L; dy <- -1L to 1L }
      yield struct(lit(dx).as("dx"), lit(dy).as("dy"))
    val focal = cells
      .select(col("cell_x"), col("cell_y"), col("n_points"),
        explode(array(offsets: _*)).as("_o"))
      .groupBy((col("cell_x") + col("_o.dx")).as("cell_x"),
        (col("cell_y") + col("_o.dy")).as("cell_y"))
      .agg(sum(col("n_points")).as("focal_points"))
    val total = cells.agg(sum(col("n_points")).as("_total"))
    cells.join(focal, Seq("cell_x", "cell_y"))
      .crossJoin(broadcast(total))
      .withColumn("focal_share",
        col("focal_points").cast("double") / col("_total").cast("double"))
      .select(col("cell_x"), col("cell_y"), col("n_points"),
        col("focal_points"), col("focal_share"))
  }

  /** ℓ-diversity audit of the k-anonymous publication grid
    * (Machanavajjhala et al. 2007, "ℓ-diversity: privacy beyond
    * k-anonymity", TKDD 1(1)): k-anonymity bounds RE-IDENTIFICATION but
    * not ATTRIBUTE disclosure — a cell shared by ≥k users who all visit
    * at 3 a.m. leaks the sensitive value even though no individual is
    * singled out. Per cell that [[kAnonymousCells]] would publish, the
    * number of distinct sensitive values among its points; the sensitive
    * attribute here is the visit hour-of-day (floor-mod integers, the
    * repo's engine-exact bucket idiom). A cell with `l_hours` < ℓ fails
    * ℓ-diversity and should be suppressed or generalized before release.
    *
    * Scale shape: ONE groupBy over the point table with two distinct
    * aggregates — [[kAnonymousCells]]' plan plus a column; partial
    * aggregation applies, nothing is quadratic.
    */
  def lDiversityCells(points: DataFrame, cellMicroDeg: Long = 10000L, k: Int = 5,
                      userCol: String = "user_id", tCol: String = "t_us"): DataFrame = {
    require(cellMicroDeg > 0 && k >= 1, "cell width and k must be positive")
    // NONNEGATIVE-EVENT-TIME ASSUMPTION (shared with the DuckDB oracle):
    // pmod here is floor-mod while the oracle's % truncates toward zero —
    // identical for t_us >= 0 (all testdata and any epoch-micros tracking
    // corpus), divergent for pre-1970 timestamps. Same convention as
    // EventOps.seasonalDecompose's pmod(h, 24) hour bucket.
    points
      .withColumn("_hour", expr(s"(pmod($tCol, 86400000000L) div 3600000000L)"))
      .groupBy(quantizedCell(col("lon"), cellMicroDeg).as("cell_x"),
               quantizedCell(col("lat"), cellMicroDeg).as("cell_y"))
      .agg(countDistinct(col(userCol)).as("n_users"),
        count(lit(1)).as("n_points"),
        countDistinct(col("_hour")).as("l_hours"))
      .filter(col("n_users") >= k)
  }

  /** t-closeness audit of the k-anonymous publication grid (Li, Li &
    * Venkatasubramanian 2007, "t-closeness: privacy beyond k-anonymity
    * and ℓ-diversity") — the third rung of the privacy ladder:
    * ℓ-diversity counts DISTINCT sensitive values but a cell whose
    * visit-hour distribution is wildly skewed against the corpus still
    * leaks (everyone there visits at 3 a.m., even if at 5 distinct
    * hours). Per published cell, the Earth Mover's Distance between the
    * cell's hour-of-day distribution and the GLOBAL one under the
    * ordered ground distance — the paper's formulation for numeric
    * attributes: EMD = (1/(m−1))·Σᵢ |Σ_{j≤i}(p_j − q_j)|, m = 24.
    *
    * Exact arithmetic: with P_i / Q_i the integer cumulative counts and
    * n / N the cell / corpus totals, each term is
    * |P_i·N − Q_i·n| / (n·N), so the EMD is Σ|P_i·N − Q_i·n| over
    * i < 23 divided by n·N·23 — integer products in DECIMAL(38,0)
    * (cumulative-count × corpus-count squares past long range at
    * trillion-point scale), quantized to ppm by the repo's
    * cross-multiply floor idiom, so both engines agree bit-for-bit.
    * Same NONNEGATIVE-EVENT-TIME pmod convention as [[lDiversityCells]].
    *
    * Scale shape: two map-side-combinable groupBys over the point table
    * (per-cell-hour, per-cell), one 24-row global histogram broadcast
    * both as the cumulative table and the 1-row total; the per-cell
    * 24-slot cumulative runs as a window over exactly 24 rows per cell
    * (cells × 24 rows total — orders below the point table). Never
    * anything × anything beyond cells × 24.
    *
    * @return (cell_x, cell_y, n_users, n_points, emd_ppm, t_ok) for the
    *         cells k-anonymity would publish; `t_ok` ⇔ EMD ≤ tPpm/1e6
    */
  def tClosenessCells(points: DataFrame, cellMicroDeg: Long = 10000L, k: Int = 5,
                      tPpm: Long = 250000L, userCol: String = "user_id",
                      tCol: String = "t_us"): DataFrame = {
    require(cellMicroDeg > 0 && k >= 1 && tPpm >= 0, "cell width, k, tPpm must be sensible")
    val spark = points.sparkSession
    val pts = points
      .select(quantizedCell(col("lon"), cellMicroDeg).as("cell_x"),
              quantizedCell(col("lat"), cellMicroDeg).as("cell_y"),
        col(userCol).as("_u"),
        expr(s"(pmod($tCol, 86400000000L) div 3600000000L)").as("_h"))
    val cellHour = pts.groupBy(col("cell_x"), col("cell_y"), col("_h"))
      .agg(count(lit(1)).as("_chn"))
    val cells = pts.groupBy(col("cell_x"), col("cell_y"))
      .agg(countDistinct(col("_u")).as("n_users"), count(lit(1)).as("n_points"))
      .filter(col("n_users") >= k)
    // the 24-slot hour domain rides as a LITERAL array explode — a
    // Generate, not a join, so densifying cells × hours costs no
    // shuffle and PlanLint needs no bounded-side proof
    val hourDomain = lit((0L until 24L).toArray)
    val globalHour = pts.groupBy(col("_h")).agg(count(lit(1)).as("_gn"))
    val gCum = spark.range(1).select(explode(hourDomain).as("_h"))
      .join(broadcast(globalHour), Seq("_h"), "left")
      .withColumn("_gn0", coalesce(col("_gn"), lit(0L)))
      // unpartitioned window over exactly 24 rows — bounded by the domain
      .withColumn("_Gc", sum(col("_gn0")).over(Window.orderBy(col("_h"))))
      .select(col("_h"), col("_Gc"))
    val gTot = pts.agg(count(lit(1)).as("_N"))
    val byCellHour = Window.partitionBy(col("cell_x"), col("cell_y")).orderBy(col("_h"))
    cells
      .withColumn("_h", explode(hourDomain))
      .join(cellHour, Seq("cell_x", "cell_y", "_h"), "left")
      .withColumn("_Pc", sum(coalesce(col("_chn"), lit(0L))).over(byCellHour))
      .filter(col("_h") < 23) // the i = m−1 cumulative difference is identically 0
      .join(broadcast(gCum), Seq("_h"))
      .crossJoin(broadcast(gTot))
      .withColumn("_term", abs(dq(col("_Pc")) * dq(col("_N")) - dq(col("_Gc")) * dq(col("n_points"))))
      .groupBy(col("cell_x"), col("cell_y"), col("n_users"), col("n_points"), col("_N"))
      .agg(sum(col("_term")).as("_num"))
      .withColumn("_den", dq(col("n_points")) * dq(col("_N")) * dq(lit(23L)))
      .withColumn("emd_ppm",
        ((dq(lit(1000000L)) * dq(col("_num")) -
          pmod(dq(lit(1000000L)) * dq(col("_num")), col("_den"))) / col("_den")).cast("long"))
      .select(col("cell_x"), col("cell_y"), col("n_users"), col("n_points"),
        col("emd_ppm"), (col("emd_ppm") <= lit(tPpm)).as("t_ok"))
  }

  /** Connected-component size histogram of the contact graph — the
    * epidemiological "outbreak reach" statistic (how large is the set a
    * single introduction can percolate through). Components come from
    * the audited min-label machinery ([[Dedup.duplicateClusters]]:
    * driver union-find under a documented pair threshold, distributed
    * min-label propagation with a loud non-convergence throw above it);
    * the histogram is two bounded groupBys on top.
    */
  def colocationComponents(pairs: DataFrame): DataFrame =
    Dedup.duplicateClusters(pairs, idA = "user_a", idB = "user_b")
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("_sz"))
      .groupBy(col("_sz").as("component_size"))
      .agg(count(lit(1)).cast("long").as("n_components"))

  /** Triangle counts and clustering coefficients over the contact graph
    * (Watts & Strogatz 1998 local clustering; Newman 2003 global
    * transitivity): how much of a user's contact neighborhood is itself
    * interconnected — the social-cohesion complement of
    * [[ContactGraph.colocationDegrees]]/[[ContactGraph.colocationPagerank]].
    *
    * Scale shape — the degree-ordered orientation trick (Chiba &
    * Nishizeki 1985; the standard distributed-triangles plan): every
    * edge orients from its (degree, id)-smaller endpoint to the larger,
    * so each triangle is enumerated exactly once from its π-smallest
    * vertex and the wedge join's volume is Σ d_out², with d_out ≤
    * √(2m) — NOT Σ d² (a celebrity hub never fans out its full
    * degree). Two hash equi-joins (wedges at the pivot, then closure
    * against the oriented edge list), one explode-by-3 for per-node
    * attribution. All counts exact longs; coefficients are one IEEE
    * division each.
    *
    * @return per node: (user_id, degree, n_triangles, local_cc) for
    *         degree ≥ 2 nodes, local_cc = 2T/(d(d−1))
    */
  def colocationClustering(pairs: DataFrame): DataFrame = {
    val (e, deg) = edgesAndDegrees(pairs)
    val tri = orientedTriangles(e, deg)
    val perNode = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).cast("long").as("n_triangles"))
    deg.filter(col("d") >= 2)
      .join(perNode, Seq("n"), "left")
      .select(col("n").as("user_id"), col("d").as("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        (lit(2.0) * coalesce(col("n_triangles"), lit(0L)).cast("double") /
          (col("d").cast("double") * (col("d") - 1).cast("double"))).as("local_cc"))
  }

  /** Global transitivity over the contact graph: one row with node/edge/
    * wedge/triangle counts and Newman's C = 3·triangles / wedges
    * (wedges = Σ C(d, 2), exact).
    */
  def colocationTransitivity(pairs: DataFrame): DataFrame = {
    val (e, deg) = edgesAndDegrees(pairs)
    val tri = orientedTriangles(e, deg).agg(count(lit(1)).cast("long").as("n_triangles"))
    val stats = deg.agg(count(lit(1)).cast("long").as("n_nodes"),
      expr("sum(d) div 2").cast("long").as("n_edges"),
      sum(expr("d * (d - 1) div 2")).cast("long").as("n_wedges"))
    stats.crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        when(col("n_wedges") > 0,
          lit(3.0) * col("n_triangles").cast("double") / col("n_wedges").cast("double"))
          .otherwise(lit(0.0)).as("global_cc"))
  }

  /** The contact graph's edges `(u, v)` and each node's degree `(n, d)`. */
  private def edgesAndDegrees(pairs: DataFrame): (DataFrame, DataFrame) = {
    val e = pairs.select(col("user_a").as("u"), col("user_b").as("v"))
    val deg = e.select(col("u").as("n")).unionAll(e.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).cast("long").as("d"))
    (e, deg)
  }

  /** Each triangle exactly once as (x, y, z) ascending in the
    * (degree, id) total order π: wedges fan out only at the π-smallest
    * vertex, closure is an equi-join back to the oriented edges.
    */
  private def orientedTriangles(e: DataFrame, deg: DataFrame): DataFrame = {
    val withDeg = e
      .join(deg.select(col("n"), col("d").as("_du")), e("u") === col("n")).drop("n")
      .join(deg.select(col("n"), col("d").as("_dv")), e("v") === col("n")).drop("n")
    // orient by π = (degree, id): s strictly precedes t
    val uFirst = col("_du") < col("_dv") || (col("_du") === col("_dv") && col("u") < col("v"))
    val oriented = withDeg.select(
      when(uFirst, col("u")).otherwise(col("v")).as("s"),
      when(uFirst, col("v")).otherwise(col("u")).as("t"),
      when(uFirst, col("_dv")).otherwise(col("_du")).as("_dt"))
    val w1 = oriented.select(col("s"), col("t").as("y"), col("_dt").as("_dy"))
    val w2 = oriented.select(col("s"), col("t").as("z"), col("_dt").as("_dz"))
    w1.join(w2, Seq("s"))
      .filter(col("_dy") < col("_dz") || (col("_dy") === col("_dz") && col("y") < col("z")))
      .join(oriented.select(col("s").as("y"), col("t").as("z")), Seq("y", "z"), "left_semi")
      .select(col("s").as("x"), col("y"), col("z"))
  }

  /** Radial-distance trajectory simplification (the streaming cousin of
    * Douglas–Peucker used when a single ordered pass must suffice):
    * keep the first fix, then every fix at least `epsilonMeters` of
    * haversine distance from the LAST KEPT fix — the same anchor-jump
    * recursion as the staypoint detector, minus the dwell-time test.
    * At 100 TB of raw GPS this is the storage lever: jitter inside the
    * epsilon ball collapses to its anchor before the expensive
    * downstream operators run.
    *
    * Scale: one shuffle keyed by user, then a sequential per-user scan
    * (`groupByKey.flatMapGroups`) holding only the anchor — the
    * lzComplexity contract. Distances use the scalar
    * [[graft.functions.GeoFunctions.haversineMeters]], bit-identical to
    * the SQL oracle's expression shape.
    */
  def simplifyRadial(points: DataFrame, epsilonMeters: Double): DataFrame = {
    require(epsilonMeters > 0, "epsilonMeters must be positive")
    val spark = points.sparkSession
    import spark.implicits._
    points
      .select(col("user_id").cast("long"), col("t_us").cast("long"),
        col("id").cast("long"), col("lon"), col("lat"))
      .as[(Long, Long, Long, Double, Double)]
      .groupByKey(_._1)
      .flatMapGroups { (u: Long, it: Iterator[(Long, Long, Long, Double, Double)]) =>
        val fixes = it.toArray.sortBy(f => (f._2, f._3)) // (t_us, id)
        if (fixes.isEmpty) Iterator.empty
        else {
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double, Double)]
          var (aLon, aLat) = (fixes(0)._4, fixes(0)._5)
          out += ((u, 0L, fixes(0)._2, aLon, aLat))
          var i = 1
          while (i < fixes.length) {
            val f = fixes(i)
            if (graft.functions.GeoFunctions.haversineMeters(aLon, aLat, f._4, f._5) >= epsilonMeters) {
              out += ((u, i.toLong, f._2, f._4, f._5))
              aLon = f._4; aLat = f._5
            }
            i += 1
          }
          out.iterator
        }
      }
      .toDF("user_id", "k", "t_us", "lon", "lat")
  }

  /** Point counts per integer grid cell keyed by the Morton (Z-order)
    * code of the cell — the write-layout surface of
    * [[graft.functions.ZOrder]]: sorting cell traffic by this key is
    * what makes parquet row-group pruning effective on both axes at
    * once. The +2^20 offset maps signed grid indices (±18e3 for any
    * earthly coordinate at the 0.01° cell width) into the unsigned
    * [0, 2^21) domain the bit-interleave expects. Map-side combinable;
    * the exchange carries one row per occupied cell.
    */
  def zorderCells(points: DataFrame, cellMicroDeg: Long = 10000L): DataFrame = {
    // clamp both ends: out-of-range coordinates pin to the boundary cell
    // instead of wrapping through the interleave's bit mask
    val gx = greatest(least(quantizedCell(col("lon"), cellMicroDeg) + lit(1L << 20),
      lit(graft.functions.ZOrder.Max)), lit(0L))
    val gy = greatest(least(quantizedCell(col("lat"), cellMicroDeg) + lit(1L << 20),
      lit(graft.functions.ZOrder.Max)), lit(0L))
    points
      .groupBy(graft.functions.ZOrder.interleave(gx, gy).as("zkey"))
      .agg(count(lit(1)).as("n_points"))
  }

  /** Row-level suppression against [[kAnonymousCells]]: keep only points
    * inside publishable cells (left-semi join on the cell id — the cell
    * table is small and broadcasts).
    */
  def suppressRareCells(points: DataFrame, cellMicroDeg: Long = 10000L, k: Int = 5,
                        userCol: String = "user_id"): DataFrame = {
    val ok = kAnonymousCells(points, cellMicroDeg, k, userCol)
      .select(col("cell_x"), col("cell_y"))
    points
      .withColumn("cell_x", quantizedCell(col("lon"), cellMicroDeg))
      .withColumn("cell_y", quantizedCell(col("lat"), cellMicroDeg))
      .join(broadcast(ok), Seq("cell_x", "cell_y"), "left_semi")
  }
}
