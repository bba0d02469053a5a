package graft.operators

import graft.functions.GeoFunctions
import graft.functions.GeoFunctions.{dq, quantizedCell}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

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
    * or back-to-back meetings (gap < 1 s) drop.
    *
    * Scale shape: one (pair)-keyed lag window over meeting rows, then a
    * ≤ 64-bucket map-side-combinable count.
    */
  def interContactTimes(meetings: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_a", "user_b").orderBy(col("m_s_us"), col("m_f_us"))
    meetings
      .withColumn("_pf", lag(col("m_f_us"), 1).over(w))
      .filter(col("_pf").isNotNull)
      .withColumn("_gap", ((col("m_s_us") - col("_pf")) / lit(1000000L)).cast("long"))
      .filter(col("_gap") >= 1L)
      .withColumn("bucket", (length(bin(col("_gap"))) - 1).cast("long"))
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
    * from the classic interval-merge (touching or overlapping ranges
    * fuse) via one pair-keyed window: a running max of previous range
    * ends marks run breaks, a running sum of breaks keys the run.
    * ONE shuffle total (the pair window; the run groupBy reuses its
    * partitioning), cost proportional to the meeting table. Nothing
    * ever joins raw trajectories.
    */
  def convoyPairs(meetings: DataFrame, bandMinutes: Double = 120.0,
                  minConsecutive: Int = 2): DataFrame = {
    require(bandMinutes > 0 && minConsecutive >= 1,
      "need positive band width and run threshold")
    val bandUs = (bandMinutes * 60e6).toLong
    val w = Window.partitionBy("user_a", "user_b").orderBy(col("_bs"), col("_bf"))
    meetings
      .select(col("user_a"), col("user_b"),
        floor(col("m_s_us") / lit(bandUs.toDouble)).cast("long").as("_bs"),
        floor(greatest(col("m_f_us") - 1, col("m_s_us")) / lit(bandUs.toDouble)).cast("long").as("_bf"))
      .withColumn("_pmax",
        max(col("_bf")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("_brk",
        when(col("_pmax").isNull || col("_bs") > col("_pmax") + 1L, 1L).otherwise(0L))
      .withColumn("_run",
        sum(col("_brk")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_a"), col("user_b"), col("_run"))
      .agg(min(col("_bs")).as("run_start_band"),
        (max(col("_bf")) - min(col("_bs")) + 1L).cast("long").as("n_bands"))
      .filter(col("n_bands") >= minConsecutive.toLong)
      .select(col("user_a"), col("user_b"), col("run_start_band"), col("n_bands"))
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

  /** The shared prolog of the contact-graph diagnostic family: the
    * projected pair table, its symmetric weighted edge table and the
    * weighted/unweighted degree tables — each checkpointed once. Every
    * graph diagnostic (degrees, pagerank, k-core, spectral radius,
    * assortativity, rich club, LPA, Louvain stats, BFS balls) derives
    * exactly these frames from the pair table; without the shared
    * instance each gate re-materialized the same ~2·|pairs| rows, a
    * dozen redundant checkpoint jobs per suite pass (r13 verdict #7).
    * [[graft.Pipeline.contactGraph]] memoizes one instance per corpus
    * snapshot; operators called without one still derive their own, so
    * the standalone API is unchanged.
    */
  final case class ContactGraph(pairs: DataFrame, edgesW: DataFrame,
                                degW: DataFrame, degU: DataFrame, nNodes: Long) {
    /** Node-sized per-round frames (ranks/labels/h-values/iterates) are
      * broadcastable when the node set is small — checkpointed lineages
      * carry no size stats, so Catalyst never discovers this on its own
      * and every iterative round pays a full edge-table shuffle join
      * against a few-thousand-row frame. Threshold-gated at ≤ 1.5M nodes:
      * a broadcast hash relation costs ~50-80 B/row (UnsafeRow payload +
      * LongHashedRelation map overhead), so 1.5M nodes ≈ 75-120 MB —
      * inside Spark's own 8 GB hard cap with a wide margin and roughly
      * what `spark.sql.autoBroadcastJoinThreshold`-style sizing would
      * admit on default executor memory (the r14 4M-node bound priced
      * rows at 16 B and could approach ~300 MB at the boundary). The
      * shuffle join is the unchanged at-scale fallback — a billion-user
      * node table must NOT broadcast.
      */
    def broadcastNodeFrames: Boolean = nNodes <= 1500000L
  }

  /** Build a [[ContactGraph]] from a co-location pair table
    * (user_a, user_b, n_meetings). `edgesW` is the symmetric directed
    * view (src, dst, w) with both orientations of every pair; `degW`
    * = (src, wdeg) the weighted degree; `degU` = (src, d) the contact
    * count. All four frames pass through `share` so downstream
    * iterative readers see materialized tables, not the banded
    * co-location self-join's lineage.
    */
  def contactGraph(pairs: DataFrame,
                   share: DataFrame => DataFrame = Share.materialize): ContactGraph = {
    // an already-persisted pair table (the Pipeline memo) is used as-is
    // — re-checkpointing a projection of it is a wasted job (the same
    // storageLevel guard the Louvain L2 pass applies to its labels)
    val projected = pairs.select(col("user_a"), col("user_b"), col("n_meetings"))
    val p =
      if (pairs.storageLevel == org.apache.spark.storage.StorageLevel.NONE) share(projected)
      else projected
    val edgesW = share(p
      .select(col("user_a").as("src"), col("user_b").as("dst"), col("n_meetings").as("w"))
      .unionByName(p.select(col("user_b").as("src"), col("user_a").as("dst"),
        col("n_meetings").as("w"))))
    // both degree flavors from ONE groupBy (one shuffle, one checkpoint)
    val deg = share(edgesW.groupBy(col("src")).agg(
      sum(col("w")).as("wdeg"), count(lit(1)).cast("long").as("d")))
    // the node count gates per-round broadcasts downstream; counting the
    // checkpointed degree table also forces the whole prolog to
    // materialize here, where the cost is attributed once per snapshot
    ContactGraph(p, edgesW, deg.select(col("src"), col("wdeg")),
      deg.select(col("src"), col("d")), deg.count())
  }

  /** Contact-network degree distribution over the co-location pairs —
    * the first statistic of every epidemiological / social-tie study
    * built on meeting detection (how many distinct contacts does a
    * person have, and is the network's tail heavy). Degrees come from
    * exploding each pair to both endpoints (one map-side-combinable
    * count), the histogram from the lengthHistogram bit-length trick.
    */
  def colocationDegrees(pairs: DataFrame, graph: Option[ContactGraph] = None): DataFrame = {
    val deg = graph.map(_.degU.select(col("src").as("user_id"), col("d").as("degree")))
      .getOrElse(pairs
        .select(explode(array(col("user_a"), col("user_b"))).as("user_id"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).cast("long").as("degree")))
    deg
      .withColumn("bucket", (length(bin(col("degree"))) - 1).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).cast("long").as("n_users"),
        sum(col("degree")).cast("long").as("sum_degree"))
      .withColumn("bucket_lo", expr("shiftleft(cast(1 as bigint), cast(bucket as int))"))
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

  /** Average-neighbor-degree curve knn(k) (Pastor-Satorras, Vázquez &
    * Vespignani 2001, "Dynamical and correlation properties of the
    * Internet"): for each degree class k, the mean degree of the
    * neighbors of degree-k nodes — the CURVE behind the one-number
    * assortativity r; rising knn(k) = assortative, falling =
    * disassortative (the signature of technological nets). Returned as
    * exact integers (Σ neighbor degrees, node count) plus the ratio
    * quantized to ppm via integer cross-multiply, so both engines agree
    * bit-for-bit.
    *
    * Scale shape: degree table via one exploded-endpoint count; the
    * directed edge list hash-joins the degree table twice on its key
    * (≤|users| rows each); one final groupBy(degree). Never anything ×
    * anything.
    */
  def degreeCorrelation(pairs: DataFrame, graph: Option[ContactGraph] = None): DataFrame = {
    val deg = graph.map(_.degU.select(col("src").as("u"), col("d")))
      .getOrElse(pairs
        .select(explode(array(col("user_a"), col("user_b"))).as("u"))
        .groupBy(col("u")).agg(count(lit(1)).cast("long").as("d")))
    val directed = graph.map(_.edgesW.select(col("src"), col("dst")))
      .getOrElse(pairs.select(col("user_a").as("src"), col("user_b").as("dst"))
        .unionByName(pairs.select(col("user_b").as("src"), col("user_a").as("dst"))))
    directed
      .join(deg.select(col("u").as("src"), col("d").as("d_src")), Seq("src"))
      .join(deg.select(col("u").as("dst"), col("d").as("d_dst")), Seq("dst"))
      .groupBy(col("d_src").as("degree"))
      .agg(countDistinct(col("src")).as("n_nodes"),
        sum(col("d_dst")).cast("long").as("sum_neighbor_degree"),
        count(lit(1)).cast("long").as("n_slots"))
      .withColumn("knn_ppm",
        ((dq(lit(1000000L)) * dq(col("sum_neighbor_degree")) -
          pmod(dq(lit(1000000L)) * dq(col("sum_neighbor_degree")), dq(col("n_slots")))) /
          dq(col("n_slots"))).cast("long"))
      .select("degree", "n_nodes", "sum_neighbor_degree", "knn_ppm")
  }

  /** Neighborhood function N(h) from a deterministic seed slice (the
    * ANF/HyperBall statistic computed EXACTLY on sampled sources —
    * Palmer, Gibbons & Faloutsos 2002 frame the estimation problem;
    * seeding makes the exact computation tractable at any scale): for
    * h = 1..maxHops, how many (seed, node) pairs are within h hops on
    * the contact graph. The h-profile separates small-world contact
    * structures (N(2) ≈ reachable set) from chains; the curve's knee is
    * the graph's effective diameter.
    *
    * Exact BFS-as-joins: frontier ⋈ edges, distinct, union — h hash
    * joins total, each keyed on the node id. The seed slice
    * (`user_id % seedsMod == 0`) bounds the closure to |seeds|·|V|
    * REGARDLESS of graph density — the documented scale knob; seedsMod=1
    * is the full exact closure for small graphs.
    */
  def neighborhoodFunction(pairs: DataFrame, seedsMod: Long = 8L, maxHops: Int = 3,
                           share: DataFrame => DataFrame = Share.materialize,
                           graph: Option[ContactGraph] = None): DataFrame = {
    require(seedsMod >= 1 && maxHops >= 1, "seedsMod/maxHops must be positive")
    // share the symmetric edge list: every hop re-reads it, and the
    // expensive upstream (the banded co-location self-join) must not
    // re-run per hop — pagerank's exact treatment
    val edges = graph.map(_.edgesW.select(col("src"), col("dst"))).getOrElse {
      val p = pairs.select(col("user_a"), col("user_b"))
      share(p.select(col("user_a").as("src"), col("user_b").as("dst"))
        .unionByName(p.select(col("user_b").as("src"), col("user_a").as("dst"))))
    }
    val seeds = graph.map(_.degU.select(col("src").as("seed")))
      .getOrElse(edges.select(col("src").as("seed")).distinct())
      .filter(pmod(col("seed"), lit(seedsMod)) === 0L)
    // reach includes the seed itself (distance 0) for propagation;
    // counts exclude it. Each hop is shared: the h+1 frontier join and
    // ALL the per-hop aggregates read hop h once, not its lineage.
    var reach = share(seeds.select(col("seed"), col("seed").as("node")))
    val counts = (1 to maxHops).map { h =>
      val prev = reach
      val next = prev.join(edges, prev("node") === edges("src"))
        .select(prev("seed"), edges("dst").as("node"))
      reach = share(next.unionByName(prev).distinct())
      reach.filter(col("seed") =!= col("node"))
        .agg(count(lit(1)).cast("long").as("n_pairs"))
        .select(lit(h.toLong).as("h"), col("n_pairs"))
    }
    counts.reduce(_.unionByName(_))
  }

  /** Degree assortativity of the contact graph (Newman 2002, "Assortative
    * mixing in networks"): the Pearson correlation of endpoint degrees
    * over edges — positive means hubs meet hubs (social networks),
    * negative means hubs meet leaves (technological nets); the one-number
    * answer to "is this contact network core-periphery or hub-bridged",
    * which drives how fast an outbreak saturates. Using the symmetric
    * single-count-per-edge form
    *   r = (4M·Σjk − (Σ(j+k))²) / (2M·Σ(j²+k²) − (Σ(j+k))²)
    * every sum is an exact integer (products in DECIMAL(38,0) — a hub
    * degree squared times a billion edges overflows a long), with ONE
    * double division at the end.
    *
    * Scale shape: degrees are one map-side-combinable count over exploded
    * endpoints; the degree table (≤ |users| rows) joins back to the edge
    * list twice on its key; the moment aggregate partial-combines. Never
    * anything × anything.
    */
  def colocationAssortativity(pairs: DataFrame, graph: Option[ContactGraph] = None): DataFrame = {
    val deg = graph.map(_.degU.select(col("src").as("_u"), col("d").as("_d")))
      .getOrElse(pairs
        .select(explode(array(col("user_a"), col("user_b"))).as("_u"))
        .groupBy(col("_u")).agg(count(lit(1)).cast("long").as("_d")))
    pairs
      .join(deg.select(col("_u").as("user_a"), col("_d").as("_ja")), Seq("user_a"))
      .join(deg.select(col("_u").as("user_b"), col("_d").as("_kb")), Seq("user_b"))
      .agg(count(lit(1)).cast("long").as("n_edges"),
        sum(col("_ja") + col("_kb")).as("_sjk"),
        sum(dq(col("_ja")) * dq(col("_kb"))).as("_sprod"),
        sum(dq(col("_ja")) * dq(col("_ja")) + dq(col("_kb")) * dq(col("_kb"))).as("_ssq"))
      .select(col("n_edges"),
        ((lit(4L).cast("decimal(38,0)") * dq(col("n_edges")) * col("_sprod")
          - dq(col("_sjk")) * dq(col("_sjk"))).cast("double") /
          (lit(2L).cast("decimal(38,0)") * dq(col("n_edges")) * col("_ssq")
            - dq(col("_sjk")) * dq(col("_sjk"))).cast("double")).as("assortativity"))
  }

  /** Coreness histogram of the contact graph via the iterated-h-index
    * fixed point (Lü et al. 2016, "The H-index of a network node and its
    * relation to degree and coreness"): h₀ = degree; each round every
    * node's value becomes the h-index of its neighbors' current values
    * (the largest h with ≥ h neighbors at value ≥ h). The per-node
    * sequence is monotonically non-increasing and its fixed point IS the
    * k-core number from the classic Batagelj–Zaveršnik peeling; a pinned
    * `rounds` makes the trajectory engine-exact — the
    * [[colocationPagerank]]/LPA convention — and KCoreRichClubSpec pins
    * that the default reaches the true peeling coreness on fixtures
    * (in general rounds must cover the longest strictly-decreasing
    * chain; peeling itself needs a data-dependent loop both engines
    * would have to unroll identically, which is exactly what the
    * h-index form avoids).
    *
    * Scale shape: per round, one hash equi-join values⋈edges on dst +
    * one per-node h-index window over ≤ degree rows (an LPA round's
    * shape); the histogram is one bounded groupBy. No driver state;
    * `share` truncates the per-round lineage.
    *
    * @return (coreness, n_users) — k-core occupancy histogram
    */
  def kCoreHistogram(pairs: DataFrame, rounds: Int = 3,
                     share: DataFrame => DataFrame = Share.materialize,
                     graph: Option[ContactGraph] = None): DataFrame = {
    // default rounds MUST stay in sync with the colocation_kcore oracle's
    // unrolled CTE count — a default/oracle drift is a silent parity trap
    // on any graph whose h-index chain is longer than the oracle's rounds
    require(rounds >= 1, "need rounds >= 1")
    val edges = graph.map(_.edgesW.select(col("src"), col("dst"))).getOrElse {
      val p = share(pairs.select(col("user_a"), col("user_b")))
      share(p.select(col("user_a").as("src"), col("user_b").as("dst"))
        .unionByName(p.select(col("user_b").as("src"), col("user_a").as("dst"))))
    }
    var h = graph.map(_.degU.select(col("src").as("n"), col("d").as("val")))
      .getOrElse(share(edges.groupBy(col("src").as("n"))
        .agg(count(lit(1)).cast("long").as("val"))))
    val mB: DataFrame => DataFrame =
      if (graph.exists(_.broadcastNodeFrames)) broadcast else identity
    val bySrc = Window.partitionBy(col("src")).orderBy(col("v").desc, col("dst"))
    for (_ <- 1 to rounds) {
      h = share(edges
        .join(mB(h), edges("dst") === h("n"))
        .select(col("src"), col("dst"), col("val").as("v"))
        .withColumn("_rn", row_number().over(bySrc))
        .groupBy(col("src").as("n"))
        .agg(max(least(col("v"), col("_rn"))).cast("long").as("val")))
    }
    h.groupBy(col("val").as("coreness"))
      .agg(count(lit(1)).cast("long").as("n_users"))
  }

  /** Rich-club coefficient curve of the contact graph (Colizza et al.
    * 2006, "Detecting rich-club ordering in complex networks"): for each
    * degree threshold k, the edge density of the subgraph induced by the
    * nodes of degree > k — φ(k) = 2·E_k / (N_k·(N_k−1)). φ(k) → 1 as the
    * hubs close into a near-clique; the raw curve is the reported
    * statistic (the literature's degree-preserving null is a separate
    * randomization study). Exact integer counts, one double division.
    *
    * Scale shape: degrees are one map-side-combinable count; an edge
    * contributes to every k below min(deg_a, deg_b), accumulated NOT by
    * exploding thresholds but as two bounded histograms (node count by
    * degree, edge count by min-endpoint-degree) suffix-summed with one
    * window over the degree-value domain — ≤ distinct-degree rows, a
    * power-law-bounded set orders smaller than the edge table. Two hash
    * equi-joins of edges against the degree table; never anything ×
    * anything.
    *
    * @return (k, n_nodes, n_edges, phi) at every observed degree value
    *         k with ≥ 2 qualifying nodes
    */
  def richClub(pairs: DataFrame, graph: Option[ContactGraph] = None): DataFrame = {
    val deg = graph.map(_.degU.select(col("src").as("_u"), col("d").as("_d")))
      .getOrElse(pairs
        .select(explode(array(col("user_a"), col("user_b"))).as("_u"))
        .groupBy(col("_u")).agg(count(lit(1)).cast("long").as("_d")))
    val nodeHist = deg.groupBy(col("_d").as("v"))
      .agg(count(lit(1)).cast("long").as("_cn"))
    val edgeHist = pairs
      .join(deg.select(col("_u").as("user_a"), col("_d").as("_da")), Seq("user_a"))
      .join(deg.select(col("_u").as("user_b"), col("_d").as("_db")), Seq("user_b"))
      .groupBy(least(col("_da"), col("_db")).as("v"))
      .agg(count(lit(1)).cast("long").as("_ce"))
    // strict suffix sums over the merged degree-value domain: N_k / E_k
    // count nodes/edges STRICTLY above k, so the current row is excluded
    val byVdesc = Window.orderBy(col("v").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    nodeHist.join(edgeHist, Seq("v"), "full_outer")
      .select(col("v"),
        coalesce(col("_cn"), lit(0L)).as("_cn"),
        coalesce(col("_ce"), lit(0L)).as("_ce"))
      .withColumn("n_nodes", coalesce(sum(col("_cn")).over(byVdesc), lit(0L)).cast("long"))
      .withColumn("n_edges", coalesce(sum(col("_ce")).over(byVdesc), lit(0L)).cast("long"))
      .filter(col("n_nodes") >= 2L)
      .select(col("v").as("k"), col("n_nodes"), col("n_edges"),
        (lit(2.0) * col("n_edges").cast("double") /
          (col("n_nodes").cast("double") * (col("n_nodes") - lit(1L)).cast("double")))
          .as("phi"))
  }

  /** Spectral radius λ_max of the weighted contact graph — the epidemic
    * threshold statistic (Wang et al. 2003: an SIS epidemic dies out iff
    * β/δ < 1/λ_max), the spreading-power ceiling that degree and
    * coreness only bound. Estimated by `rounds` of SHIFTED power
    * iteration on (A + I): the +I diagonal breaks the bipartite-graph
    * oscillation plain power iteration never escapes, and shifts every
    * eigenvalue by exactly +1, subtracted back at the end.
    *
    * Engine-exact arithmetic: the iterate is an integer vector in
    * millionths (the [[colocationPagerank]] convention); each round
    * computes t(u) = Σ_v w(u,v)·x(v) + x(u) in DECIMAL(38,0), takes the
    * 1-row max m, and renormalizes x(u) = t(u)·10⁶ div m (floor) — so
    * the whole trajectory is integer and the estimate m/10⁶ − 1 is the
    * same IEEE double in any engine. Headroom: t·10⁶ ≤ strength·10¹²,
    * ~26 orders below the DECIMAL(38,0) ceiling.
    *
    * Scale shape: per round, one hash equi-join x⋈edges on dst + one
    * map-side-combinable sum + one 1-row max broadcast back — pagerank's
    * shape exactly; no driver state beyond the 1-row max.
    *
    * @return one row (n_nodes, rounds, m_q, lambda_max): m_q the final
    *         pre-normalization max as digit string (exact), lambda_max
    *         = m_q/10⁶ − 1 as double
    */
  def spectralRadius(pairs: DataFrame, rounds: Int = 4,
                     share: DataFrame => DataFrame = Share.materialize,
                     graph: Option[ContactGraph] = None): DataFrame = {
    require(rounds >= 1, "need rounds >= 1")
    val scale = 1000000L
    val edges = graph.map(_.edgesW).getOrElse {
      val p = share(pairs.select(col("user_a"), col("user_b"), col("n_meetings")))
      share(p
        .select(col("user_a").as("src"), col("user_b").as("dst"), col("n_meetings").as("w"))
        .unionByName(p.select(col("user_b").as("src"), col("user_a").as("dst"),
          col("n_meetings").as("w"))))
    }
    // degW is one row per node with ≥1 edge — the same set the distinct
    // would compute, already materialized
    val nodes = graph.map(_.degW.select(col("src").as("n")))
      .getOrElse(share(edges.select(col("src").as("n")).distinct()))
    var x = nodes.select(col("n"), lit(scale).as("x"))
    var lastM: DataFrame = null
    val mB: DataFrame => DataFrame =
      if (graph.exists(_.broadcastNodeFrames)) broadcast else identity
    for (r <- 1 to rounds) {
      // t feeds the 1-row max AND the renormalized next iterate, so it
      // is shared — node-sized, one materialization per round
      val t = share(edges
        .join(mB(x.select(col("n"), col("x").as("_xv"))), edges("dst") === col("n"))
        .groupBy(col("src")).agg(sum(dq(col("w")) * dq(col("_xv"))).as("_s"))
        .join(x.select(col("n"), col("x").as("_own")), col("src") === col("n"))
        .select(col("n"), (col("_s") + dq(col("_own"))).as("_t")))
      val m = t.agg(max(col("_t")).as("_m"))
      lastM = m
      // the final round's renormalized iterate feeds nothing — only the
      // pre-normalization max does — so skip building it
      if (r < rounds)
        x = share(t.crossJoin(broadcast(m))
          .select(col("n"),
            expr(s"cast((_t * $scale) div _m as long)").as("x")))
    }
    nodes.agg(count(lit(1)).cast("long").as("n_nodes"))
      .crossJoin(broadcast(lastM))
      .select(col("n_nodes"), lit(rounds.toLong).as("rounds"),
        col("_m").cast("string").as("m_q"),
        (col("_m").cast("double") / lit(scale.toDouble) - lit(1.0)).as("lambda_max"))
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

  /** Fixed-point PageRank over the co-location contact graph — the
    * influence/centrality ranking epidemiology and social-tie studies
    * compute after meeting detection (who reaches the network fastest).
    * Deterministic integer arithmetic so the result is engine-exact:
    * scores live in millionths (`scale`), each iteration sends
    * `(r·damping·w) div (100·deg)` along every weighted edge (the
    * products in DECIMAL(38,0) — a hub's rank × weight overflows a long
    * at billion-node scale; `div` floors back to a long) and every node
    * restarts with `(100−damping)·scale div 100`. The per-edge floor
    * leaks a little mass each round (documented convention, identical
    * in both engines) — ranking, not normalization, is the contract.
    *
    * Scale shape: one symmetric edge table (2|pairs| rows) joined with
    * a degree table once, `share`d so the `iters` rank joins reuse the
    * materialized edges; each iteration is one hash equi-join rank⋈edges
    * on src + one map-side-combinable dst sum + one left join back to
    * the node table. Driver state: none.
    */
  def colocationPagerank(pairs: DataFrame, iters: Int = 3, dampingPct: Long = 85L,
                         scale: Long = 1000000L,
                         share: DataFrame => DataFrame = Share.materialize,
                         graph: Option[ContactGraph] = None): DataFrame = {
    require(iters >= 1 && dampingPct >= 0 && dampingPct <= 100 && scale >= 1,
      "need iters >= 1, dampingPct in [0,100], scale >= 1")
    // Share the PAIR TABLE first: the symmetric union reads it twice,
    // and deg/edgesDeg/nodes all sit above it — without this one
    // materialization the expensive upstream (the banded co-location
    // self-join) re-runs during setup and once more per iteration
    // through the unshared deg lineage. Probed at 10x users: 37 s
    // unshared → 29 s shared, and the 29 s is one evaluation of the
    // pair join itself (linear in users at fixed density — 2.6 s at
    // 1x) — i.e. the chain now costs its input plus bounded joins.
    val (edges, deg) = graph
      .map(g => (g.edgesW, g.degW.select(col("src"), col("wdeg").as("deg"))))
      .getOrElse {
        val p = share(pairs.select(col("user_a"), col("user_b"), col("n_meetings")))
        val e = p
          .select(col("user_a").as("src"), col("user_b").as("dst"), col("n_meetings").as("w"))
          .unionByName(p
            .select(col("user_b").as("src"), col("user_a").as("dst"), col("n_meetings").as("w")))
        (e, share(e.groupBy(col("src")).agg(sum(col("w")).as("deg"))))
      }
    val edgesDeg = share(edges.join(deg, Seq("src")))
    val nodes = deg.select(col("src").as("user_id"))
    val teleport = (100L - dampingPct) * scale / 100L
    // node-sized frames broadcast when the shared prolog proved the node
    // set small (ContactGraph.broadcastNodeFrames): each iteration's
    // rank join then streams the edge table map-side instead of paying a
    // full shuffle join against a few-thousand-row frame
    val mB: DataFrame => DataFrame =
      if (graph.exists(_.broadcastNodeFrames)) broadcast else identity
    var ranks = nodes.select(col("user_id"), lit(scale).as("rank_q"))
    for (_ <- 1 to iters) {
      val contribs = edgesDeg
        .join(mB(ranks), edgesDeg("src") === ranks("user_id"))
        .select(col("dst"),
          expr(s"cast(rank_q as decimal(38,0)) * $dampingPct * w div (100 * cast(deg as decimal(38,0)))")
            .as("_c"))
        .groupBy(col("dst")).agg(sum(col("_c")).as("_in"))
      ranks = nodes
        .join(mB(contribs), nodes("user_id") === contribs("dst"), "left")
        .select(col("user_id"),
          (lit(teleport) + coalesce(col("_in"), lit(0L))).cast("long").as("rank_q"))
    }
    ranks
  }

  /** Deterministic label-propagation communities over the contact graph
    * + weighted Newman modularity of the resulting partition. LPA
    * (Raghavan et al. 2007): every node starts as its own label; each
    * synchronous round it adopts the label with the greatest total edge
    * weight among its neighbors, ties to the smallest label — `rounds`
    * fixed rounds make the trajectory engine-exact (classic LPA's
    * convergence churn is replaced by a pinned iteration count, the same
    * convention as [[colocationPagerank]]).
    *
    * Modularity is exact-rational: with W the total undirected weight,
    * e_c the intra-community weight and d_c the weighted degree sum,
    * Q = Σ_c (4W·e_c − d_c²) / (4W²) — the numerator accumulates in
    * DECIMAL(38,0) (a billion-meeting graph squares past long range)
    * with ONE double division at the end.
    *
    * Scale shape: per round, one hash join labels⋈edges on dst + one
    * (node, label) map-side-combinable sum + one per-node argmax window
    * over ≤ degree rows; modularity is two bounded groupBys. No driver
    * state; `share` truncates the per-round lineage.
    *
    * @return (community, n_nodes, w_in, degree_sum, modularity) — one
    *         row per final community, `modularity` the global Q repeated
    */
  def colocationCommunities(pairs: DataFrame, rounds: Int = 3,
                            share: DataFrame => DataFrame = Share.materialize,
                            graph: Option[ContactGraph] = None): DataFrame = {
    require(rounds >= 1, "need rounds >= 1")
    val p = graph.map(_.pairs)
      .getOrElse(share(pairs.select(col("user_a"), col("user_b"), col("n_meetings"))))
    val edges = graph
      .map(_.edgesW.select(col("src").as("u"), col("dst").as("v"), col("w")))
      .getOrElse(share(p
        .select(col("user_a").as("u"), col("user_b").as("v"), col("n_meetings").as("w"))
        .unionByName(p.select(col("user_b").as("u"), col("user_a").as("v"),
          col("n_meetings").as("w")))))
    val nodes = graph.map(_.degW.select(col("src").as("u")))
      .getOrElse(edges.select(col("u")).distinct())
    var labels = nodes.select(col("u").as("n"), col("u").as("lbl"))
    val mB: DataFrame => DataFrame =
      if (graph.exists(_.broadcastNodeFrames)) broadcast else identity
    for (_ <- 1 to rounds) {
      // per-node argmax (greatest weight, ties to smallest label) as ONE
      // hash aggregate via min(struct(-_s, lbl)) — the row_number window
      // this replaces costs a second shuffle + per-partition sort per
      // round for the identical deterministic pick. The node-sized label
      // frame broadcasts under the shared prolog's small-node proof.
      labels = share(edges
        .join(mB(labels), edges("v") === labels("n"))
        .groupBy(col("u"), col("lbl")).agg(sum(col("w")).as("_s"))
        .groupBy(col("u"))
        .agg(min(struct((-col("_s")).as("_neg"), col("lbl").as("_l"))).as("_m"))
        .select(col("u").as("n"), col("_m._l").as("lbl")))
    }
    communityStats(p, edges, labels, degW = graph.map(_.degW))
  }

  /** One-level Louvain refinement over the contact graph (Blondel et
    * al. 2008 phase 1, made deterministic and parallel-safe): every
    * node starts as its own community; each round, the nodes of ONE
    * parity class (round r moves nodes with id ≡ r mod 2) move to the
    * candidate community with the greatest modularity gain — candidates
    * are the node's neighbors' current communities plus staying put.
    * Classic Louvain's sequential sweep is scan-order-dependent, and a
    * fully synchronous sweep oscillates on symmetric graphs (two nodes
    * swap communities forever — hand-traceable on a triangle pair); the
    * two-coloring semi-synchronous schedule is the standard parallel
    * Louvain fix, and with a pinned round count and deterministic ties
    * (gain desc, then smallest community id) it is engine-exact — the
    * [[colocationCommunities]] convention, whose plurality-label
    * objective this replaces with the actual modularity-gain objective,
    * so the two gates bracket the quality/cost trade of community
    * detection.
    *
    * Exact arithmetic: the gain of node u joining community c is
    * ΔQ ∝ 2W·k_in(u,c) − k_u·Σtot(c∖u) — all integer weight sums, the
    * products in DECIMAL(38,0) (rank × weight squares past long range
    * at billion-meeting scale), so the per-node argmax is bit-exact in
    * both engines; modularity of the final partition is the
    * [[colocationCommunities]] exact-rational Q.
    *
    * Scale shape: per round, one community-total groupBy, one hash join
    * edges⋈labels on dst + (node, community) map-side-combinable sum,
    * two broadcast-sized joins (degrees, community totals) and one
    * per-node argmax window over ≤ degree+1 rows. `share` truncates the
    * per-round lineage; no driver state.
    *
    * @return (community, n_nodes, w_in, degree_sum, modularity)
    */
  def colocationLouvain(pairs: DataFrame, rounds: Int = 4,
                        share: DataFrame => DataFrame = Share.materialize,
                        labels: Option[DataFrame] = None,
                        graph: Option[ContactGraph] = None): DataFrame = {
    val p = graph.map(_.pairs)
      .getOrElse(share(pairs.select(col("user_a"), col("user_b"), col("n_meetings"))))
    val edges = graph
      .map(_.edgesW.select(col("src").as("u"), col("dst").as("v"), col("w")))
      .getOrElse(share(p
        .select(col("user_a").as("u"), col("user_b").as("v"), col("n_meetings").as("w"))
        .unionByName(p.select(col("user_b").as("u"), col("user_a").as("v"),
          col("n_meetings").as("w")))))
    val l1 = labels.getOrElse(louvainLabels(pairs, rounds, share, graph = graph))
    communityStats(p, edges, l1.select(col("n"), col("c").as("lbl")),
      degW = graph.map(_.degW))
  }

  /** The level-1 Louvain label table (n, c) — exposed so the gate
    * family (stats, level 2, connectivity audit) can compute the
    * expensive pass ONCE and share it, the colocationMeetings pattern:
    * in production the partition is computed per corpus snapshot and
    * every diagnostic reads it.
    */
  def louvainLabels(pairs: DataFrame, rounds: Int = 4,
                    share: DataFrame => DataFrame = Share.materialize,
                    localThreshold: Long = 2000000L,
                    graph: Option[ContactGraph] = None): DataFrame = {
    val p = graph.map(_.pairs)
      .getOrElse(share(pairs.select(col("user_a"), col("user_b"), col("n_meetings"))))
    // SMALL-GRAPH FALLBACK (the same duplicateClusters pattern the
    // phase-2 pass uses): the 4-round distributed pass costs ~8-10 s of
    // per-round join/checkpoint latency on the sf0.1 contact graph
    // (1500 nodes, 1.1M pairs) — work [[louvainPassLocal]] finishes in
    // milliseconds, bit-identically (same schedule, same BigInt gains,
    // same tie-breaks; spec-pinned). One cheap count on the
    // checkpointed pair table gates the collect. Budget: each collected
    // pair costs ~100 B boxed (Tuple3 of boxed Longs) and the local
    // pass builds a 2×-pairs adjacency on top, so 2M pairs ≈ ~400 MB
    // peak driver objects — the documented ceiling. Beyond it the
    // distributed pass runs unchanged (SURVEY §6: engages and
    // completes at 11M pairs).
    val nPairs = p.count()
    if (nPairs <= localThreshold) {
      val undirected = p.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val universe = undirected.iterator
        .flatMap(t => Iterator(t._1, t._2)).toArray.distinct
      val w = undirected.iterator.map(_._3).sum
      pairs.sparkSession
        .createDataFrame(
          louvainPassLocal(undirected, universe, Map.empty, w, rounds).toSeq)
        .toDF("n", "c")
    } else {
      val edges = graph
        .map(_.edgesW.select(col("src").as("u"), col("dst").as("v"), col("w")))
        .getOrElse(share(p
          .select(col("user_a").as("u"), col("user_b").as("v"), col("n_meetings").as("w"))
          .unionByName(p.select(col("user_b").as("u"), col("user_a").as("v"),
            col("n_meetings").as("w")))))
      val deg = graph
        .map(_.degW.select(col("src").as("u"), col("wdeg").cast("long").as("k")))
        .getOrElse(share(edges.groupBy(col("u")).agg(sum(col("w")).cast("long").as("k"))))
      val totalW = p.agg(sum(col("n_meetings")).cast("long").as("_W"))
      louvainPass(edges, deg, totalW, rounds, share)
    }
  }

  /** The semi-synchronous modularity-gain label loop shared by
    * [[colocationLouvain]] (level 1: every node its own community) and
    * [[colocationLouvainL2]] (level 2: every supernode its own
    * community, degrees carrying the collapsed self-loop weight).
    *
    * @param edges symmetric (u, v, w) WITHOUT self-loops — a node's
    *              self-weight stays internal wherever it moves, so it
    *              cancels from every gain comparison and must NOT feed
    *              k_in
    * @param deg   (u, k) with k = Σ_v w(u,v) + 2·w(u,u) — self-loops DO
    *              count twice in the degree (the standard convention
    *              that keeps Σk = 2W on the collapsed graph)
    * @param totalW 1-row (_W) — invariant across levels: every original
    *               edge is inter- or intra-community
    */
  private def louvainPass(edges: DataFrame, deg: DataFrame, totalW: DataFrame,
                          rounds: Int, share: DataFrame => DataFrame): DataFrame = {
    require(rounds >= 1, "need rounds >= 1")
    // The two-coloring class is the parity of the node's DENSE RANK in id
    // order, not of the raw id: an id population with biased parity (all
    // even after an upstream ×2 relabel, say — or level-1 winner labels,
    // which keep one parity along a uniform path) would otherwise put
    // every node in one class and degenerate the semi-synchronous
    // schedule into the fully synchronous sweep the coloring exists to
    // prevent. 0-based ranks alternate parity along the id order by
    // construction, for every id population.
    val cls = graft.util.Ids.withSequentialId(deg.select(col("u")), "_r", col("u"))
      .select(col("u").as("n"), pmod(col("_r"), lit(2L)).as("_p"))
    // the class rides INSIDE the label frame (one extra long per node in
    // the per-round share) instead of re-joining a class table every
    // round — the final select drops it
    var comm = deg.select(col("u").as("n"), col("u").as("c")).join(cls, Seq("n"))
    val byNode = Window.partitionBy(col("u")).orderBy(col("_gain").desc, col("cand"))
    for (r <- 1 to rounds) {
      val ctot = comm.join(deg, comm("n") === deg("u"))
        .groupBy(col("c").as("cand")).agg(sum(col("k")).cast("long").as("_ctot"))
      // candidate set = neighbor communities (+ own community at k_in 0,
      // merged by the sum so a shared community keeps its real k_in)
      val kin = edges
        .join(comm.select(col("n"), col("c").as("cand")), edges("v") === col("n"))
        .select(col("u"), col("cand"), col("w"))
        .unionByName(comm.select(col("n").as("u"), col("c").as("cand"), lit(0L).as("w")))
        .groupBy(col("u"), col("cand")).agg(sum(col("w")).cast("long").as("_kin"))
      val best = kin
        .join(comm.select(col("n").as("u"), col("c").as("_cu")), Seq("u"))
        .join(deg, Seq("u"))
        .join(ctot, Seq("cand"))
        .crossJoin(broadcast(totalW))
        // Σtot(c∖u): u's own degree leaves the target total when c is
        // its current community — joining your own community is not a
        // gain over yourself
        .withColumn("_stot",
          col("_ctot") - when(col("cand") === col("_cu"), col("k")).otherwise(lit(0L)))
        .withColumn("_gain",
          lit(2L) * dq(col("_W")) * dq(col("_kin")) - dq(col("k")) * dq(col("_stot")))
        .withColumn("_rn", row_number().over(byNode))
        .filter(col("_rn") === 1)
        .select(col("u").as("n"), col("cand"))
      // two-coloring schedule: this round only the matching rank-parity
      // class moves — the other class keeps its community
      comm = share(comm.join(best, Seq("n"))
        .select(col("n"),
          when(col("_p") === lit((r % 2).toLong), col("cand"))
            .otherwise(col("c")).as("c"),
          col("_p")))
    }
    comm.select(col("n"), col("c"))
  }

  /** Driver-side exact replica of [[louvainPass]] for small collapsed
    * supergraphs: same semi-synchronous two-coloring schedule (parity
    * of the 0-based rank in ascending id order; class r%2 moves in
    * round r), same candidate set (neighbor communities plus own at
    * k_in 0), same exact-integer gain 2·W·k_in − k·Σtot(c∖u) (BigInt
    * here, DECIMAL(38,0) there — both exact), same (gain desc, cand
    * asc) tie-break. Bit-identical labels by construction, pinned by
    * ColocationGraphSpec against the distributed pass.
    *
    * @param undirected super-edges (u, v, w) WITHOUT self-loops
    * @param universe   every supernode id (isolated ones included)
    * @param selfW      collapsed intra-community self-loop weight,
    *                   counted TWICE in the degree, never in k_in
    */
  private def louvainPassLocal(undirected: Array[(Long, Long, Long)],
                               universe: Array[Long], selfW: Map[Long, Long],
                               totalW: Long, rounds: Int): Array[(Long, Long)] = {
    require(rounds >= 1, "need rounds >= 1")
    val nodes = universe.sorted
    val parity = nodes.iterator.zipWithIndex.map { case (n, i) => n -> (i % 2) }.toMap
    val adj = scala.collection.mutable.HashMap
      .empty[Long, scala.collection.mutable.ArrayBuffer[(Long, Long)]]
    def addEdge(u: Long, v: Long, w: Long): Unit =
      adj.getOrElseUpdate(u, scala.collection.mutable.ArrayBuffer.empty) += ((v, w))
    undirected.foreach { case (u, v, w) => addEdge(u, v, w); addEdge(v, u, w) }
    val k = nodes.iterator.map { n =>
      n -> (adj.get(n).map(_.iterator.map(_._2).sum).getOrElse(0L) +
        2L * selfW.getOrElse(n, 0L))
    }.toMap
    val comm = scala.collection.mutable.HashMap.empty[Long, Long]
    nodes.foreach(n => comm(n) = n)
    val bigW = BigInt(totalW)
    for (r <- 1 to rounds) {
      val ctot = scala.collection.mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
      nodes.foreach(n => ctot(comm(n)) += k(n))
      val best = nodes.iterator.map { u =>
        val kin = scala.collection.mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
        kin(comm(u)) += 0L // own community is always a candidate
        adj.get(u).foreach(_.foreach { case (v, w) => kin(comm(v)) += w })
        val cu = comm(u)
        val ku = BigInt(k(u))
        var bestCand = 0L
        var bestGain: BigInt = null
        kin.foreach { case (cand, kinW) =>
          val stot = BigInt(ctot(cand) - (if (cand == cu) k(u) else 0L))
          val gain = 2 * bigW * BigInt(kinW) - ku * stot
          if (bestGain == null || gain > bestGain ||
            (gain == bestGain && cand < bestCand)) {
            bestGain = gain; bestCand = cand
          }
        }
        u -> bestCand
      }.toMap
      nodes.foreach { n => if (parity(n) == r % 2) comm(n) = best(n) }
    }
    nodes.map(n => (n, comm(n)))
  }

  /** Two-level Louvain (Blondel et al. 2008 phase 2): collapse the
    * level-1 communities to supernodes — one groupBy over the
    * twice-relabeled pair table — rerun the one-level pass on the
    * supergraph, and report the COMPOSED partition's exact-rational
    * statistics on the ORIGINAL graph, so `modularity` is directly
    * comparable with [[colocationLouvain]]'s (same Q formula, same
    * denominators; on the synthetic fixture Q(level 2) ≥ Q(level 1),
    * pinned by spec).
    *
    * Supergraph bookkeeping: intra-community weight becomes a supernode
    * self-loop that counts TWICE in the supernode degree and never
    * feeds k_in (it stays internal wherever the supernode moves — see
    * [[louvainPass]]); total weight W is invariant across levels. The
    * level-2 candidate argmax is exact in DECIMAL(38,0) like level 1.
    *
    * Scale shape: level 1's per-round joins, plus two hash join
    * relabels of the pair table, one groupBy collapse (the supergraph
    * is ≤ #communities wide — orders smaller than the input), the same
    * pass machinery over the collapsed table, and one final label
    * composition join.
    *
    * @return (community, n_nodes, w_in, degree_sum, modularity) of the
    *         composed level-2 partition over the original pair graph
    */
  def colocationLouvainL2(pairs: DataFrame, rounds: Int = 4, rounds2: Int = 4,
                          share: DataFrame => DataFrame = Share.materialize,
                          labels: Option[DataFrame] = None,
                          localThreshold: Long = 100000L,
                          graph: Option[ContactGraph] = None): DataFrame = {
    val p = graph.map(_.pairs)
      .getOrElse(share(pairs.select(col("user_a"), col("user_b"), col("n_meetings"))))
    // lazy: only the distributed (above-threshold) branch reads these —
    // the local branch derives every weight statistic from the
    // collapsed table and must not pay their checkpoint jobs
    lazy val edges = graph
      .map(_.edgesW.select(col("src").as("u"), col("dst").as("v"), col("w")))
      .getOrElse(share(p
        .select(col("user_a").as("u"), col("user_b").as("v"), col("n_meetings").as("w"))
        .unionByName(p.select(col("user_b").as("u"), col("user_a").as("v"),
          col("n_meetings").as("w")))))
    lazy val totalW = p.agg(sum(col("n_meetings")).cast("long").as("_W"))
    // provided PERSISTED labels (the pipeline memo) are used as-is —
    // re-checkpointing them is a wasted job per call — but an
    // unpersisted labels frame is share()'d: the local path below reads
    // l1 in three separate actions, so an uncached (worse,
    // nondeterministic) lineage would recompute per action and could
    // diverge between them
    val l1 = labels
      .map(df => if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE) share(df) else df)
      .getOrElse(share(louvainLabels(pairs, rounds, share, graph = graph)))

    // dense-rank relabel BEFORE the level-2 pass: supernode ids inherit
    // level-1 WINNER labels (a sparse, structurally biased id space);
    // 0-based ranks keep the supergraph in a compact id space for the
    // collapse/composition joins below. The two-coloring schedule no
    // longer depends on this — louvainPass ranks its own id population
    // internally (the round-12 fix that moved the r11 relabel's parity
    // argument one level down, into the pass itself).
    // rank: dense 0-based ids over the distinct level-1 labels in
    // ascending order. Probed with one limit-collect: when the label
    // count fits `localThreshold` the rank is a driver-side sort (and
    // the rank table a broadcastable local relation) instead of the
    // distributed range-sort + zipWithIndex + checkpoint — the same
    // (u0 ascending, 0-based) ids either way.
    val probeCap = math.min(localThreshold + 1L, Int.MaxValue.toLong).toInt
    val labelProbe = l1.select(col("c").as("u0")).distinct().limit(probeCap)
      .collect().map(_.getLong(0))
    val rankRowsOpt =
      if (labelProbe.length <= localThreshold)
        Some(labelProbe.sorted.zipWithIndex.map { case (u0, i) => (u0, i.toLong) })
      else None
    val rank = rankRowsOpt match {
      case Some(rows) =>
        broadcast(pairs.sparkSession.createDataFrame(rows.toSeq).toDF("u0", "r"))
      case None => share(graft.util.Ids.withSequentialId(
        l1.select(col("c").as("u0")).distinct(), "r", col("u0")))
    }

    // collapse: two join-relabels of the pair table, then ONE aggregate
    // over the (min, max) rank pair — inter-community super-edges and
    // intra-community self-loop weight come out of the same groupBy
    // (the a == b rows), so the collapse is a single action whichever
    // path runs below
    val relabeled = p
      .join(l1.select(col("n"), col("c").as("_la")), p("user_a") === col("n")).drop("n")
      .join(l1.select(col("n"), col("c").as("_lb")), p("user_b") === col("n")).drop("n")
      .join(rank.select(col("u0"), col("r").as("_ca")), col("_la") === col("u0")).drop("u0")
      .join(rank.select(col("u0"), col("r").as("_cb")), col("_lb") === col("u0")).drop("u0")
    val collapsed = relabeled
      .groupBy(least(col("_ca"), col("_cb")).as("a"),
        greatest(col("_ca"), col("_cb")).as("b"))
      .agg(sum(col("n_meetings")).cast("long").as("w"))

    // SMALL-SUPERGRAPH FALLBACK (the duplicateClusters pattern,
    // Dedup.scala's <=1M-pair driver union-find): the level-2 pass on a
    // collapsed graph of tens of supernodes costs ~11 s of pure
    // per-round distributed-job latency (r12 warm audit) for work a
    // driver loop finishes in microseconds. Probe both sizes with
    // limit-collects (the probe IS the data when it fits — no separate
    // counts); under `localThreshold` run an exact driver-side replica
    // of louvainPass — same two-coloring schedule, same BigInt-exact
    // gain, same (gain desc, cand asc) tie-break, bit-identical labels
    // (spec-pinned against the distributed pass) — and compose the
    // winner labels through ONE broadcast join. Beyond the threshold
    // the distributed pass runs unchanged.
    val collapsedRows = rankRowsOpt match {
      case Some(_) =>
        Some(collapsed.limit(probeCap).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))))
          .filter(_.length <= localThreshold)
      case None => None
    }
    collapsedRows match {
      case Some(rows) =>
        val rankRows = rankRowsOpt.get
        val undirected = rows.filter(t => t._1 != t._2)
        val self = rows.filter(t => t._1 == t._2).map(t => t._1 -> t._3).toMap
        // every original pair lands in exactly one collapsed cell, so
        // the collapsed weights sum to the invariant total W
        val w = rows.iterator.map(_._3).sum
        val universe = rankRows.map(_._2)
        val l2local = louvainPassLocal(undirected, universe, self, w, rounds2).toMap
        val u0ByR = rankRows.map(_.swap).toMap

        // the monotone qn guard AND the per-community (w_in,
        // degree_sum) statistics are pure functions of the collapsed
        // table — w_in(C) sums the collapsed cells internal to C,
        // degree_sum(C) counts every collapsed cell weight once per
        // endpoint in C (a self cell twice) — so both partitions'
        // exact numerators come from two driver scans of `rows`
        // instead of four distributed joins over the original pair
        // table. Only n_nodes needs the cluster: one broadcast-mapped
        // count over the l1 label table. (Assumes, like the
        // distributed path's edge-derived node population, that the
        // labels cover exactly the pair-graph nodes.)
        def statsOf(groupOf: Long => Long) = {
          val wIn = scala.collection.mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
          val degS = scala.collection.mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
          rows.foreach { case (a, b, wgt) =>
            val ga = groupOf(a); val gb = groupOf(b)
            if (ga == gb) wIn(ga) += wgt
            degS(ga) += wgt; degS(gb) += wgt
          }
          (wIn, degS)
        }
        def qnOf(st: (scala.collection.mutable.Map[Long, Long],
                      scala.collection.mutable.Map[Long, Long])): BigInt =
          st._2.keysIterator.map(g =>
            4 * BigInt(w) * BigInt(st._1(g)) - BigInt(st._2(g)).pow(2)).sum
        val st1 = statsOf(identity)
        val st2 = statsOf(l2local)
        val improved = qnOf(st2) > qnOf(st1)
        val (wInW, degSW) = if (improved) st2 else st1
        val qnW = if (improved) qnOf(st2) else qnOf(st1)
        val groupOfRank: Long => Long = if (improved) l2local else identity
        // replicate the distributed division exactly: DECIMAL(38,0) →
        // double via java BigDecimal, then (4.0 · W) · W in IEEE order
        val wD = w.toDouble
        val modularity =
          new java.math.BigDecimal(qnW.bigInteger).doubleValue / (4.0 * wD * wD)
        val statsRows = degSW.keysIterator
          .map(g => (u0ByR(g), wInW(g), degSW(g), modularity)).toSeq
        val statsTable = pairs.sparkSession.createDataFrame(statsRows)
          .toDF("community", "w_in", "degree_sum", "modularity")
        val lblByU0 = rankRows.map { case (u0, r) => (u0, u0ByR(groupOfRank(r))) }
        val mapDf = pairs.sparkSession.createDataFrame(lblByU0.toSeq).toDF("_c", "lbl")
        l1.join(broadcast(mapDf), l1("c") === col("_c"))
          .groupBy(col("lbl").as("community")).agg(count(lit(1)).cast("long").as("n_nodes"))
          .join(broadcast(statsTable), Seq("community"))
          .select(col("community"), col("n_nodes"), col("w_in"), col("degree_sum"),
            col("modularity"))
      case None =>
        val superPairs = share(collapsed.filter(col("a") =!= col("b"))
          .select(col("a").as("user_a"), col("b").as("user_b"), col("w").as("n_meetings")))
        val selfW = collapsed.filter(col("a") === col("b"))
          .select(col("a").as("u"), col("w").as("_wself"))
        val edges2 = share(superPairs
          .select(col("user_a").as("u"), col("user_b").as("v"), col("n_meetings").as("w"))
          .unionByName(superPairs.select(col("user_b").as("u"), col("user_a").as("v"),
            col("n_meetings").as("w"))))
        // every level-1 community is a supernode, including those with no
        // inter-community edge (they would vanish from an edge-derived
        // degree table and lose their nodes in the composition join)
        val deg2 = share(rank.select(col("r").as("u"))
          .join(edges2.groupBy(col("u")).agg(sum(col("w")).cast("long").as("_ke")), Seq("u"), "left")
          .join(selfW, Seq("u"), "left")
          .select(col("u"),
            (coalesce(col("_ke"), lit(0L)) + lit(2L) * coalesce(col("_wself"), lit(0L)))
              .cast("long").as("k")))
        val l2 = louvainPass(edges2, deg2, totalW, rounds2, share)
        // compose n → c1 → rank → level-2 label (a rank) → back to the
        // original community-id space of that winning rank
        val composed = share(l1
          .join(rank.select(col("u0"), col("r")), l1("c") === col("u0"))
          .join(l2.select(col("n").as("_rn"), col("c").as("_c2r")), col("r") === col("_rn"))
          .join(rank.select(col("u0").as("lbl"), col("r").as("_rb")), col("_c2r") === col("_rb"))
          .select(col("n"), col("lbl")))

        // monotone guard (the "keep the best partition seen" rule every
        // sequential Louvain applies implicitly): the semi-synchronous
        // schedule admits simultaneous same-class moves whose joint ΔQ
        // can be negative even when each individual gain is positive
        // (the cross-term −k_u·k_v of two movers entering one community
        // is unpriced). Compare the EXACT integer Q numerators and keep
        // the level-1 partition unless level 2 strictly improved — one
        // action for BOTH numerators (two 1-row aggregates cross-joined)
        val qnRow = partitionQNumDf(p, edges, l1.select(col("n"), col("c").as("lbl")))
          .select(col("_qn").as("_qn1"))
          .crossJoin(partitionQNumDf(p, edges, composed).select(col("_qn").as("_qn2")))
          .collect()(0)
        def qn(i: Int) = Option(qnRow.getDecimal(i)).getOrElse(java.math.BigDecimal.ZERO)
        val winner =
          if (qn(1).compareTo(qn(0)) > 0) composed
          else l1.select(col("n"), col("c").as("lbl"))
        communityStats(p, edges, winner, degW = graph.map(_.degW))
    }
  }

  /** The Leiden-style connectivity audit of the Louvain partition
    * (Traag, Waltman & van Eck 2019, "From Louvain to Leiden":
    * Louvain's node moves can leave a community internally DISCONNECTED
    * — its defect, and the property Leiden's refinement phase exists to
    * guarantee). Per community: node count and the number of connected
    * components of its INDUCED subgraph; `is_connected` false is
    * exactly the badly-connected-community flag of the paper.
    *
    * Scale shape: the level-1 pass, two label joins to keep
    * intra-community edges only, then the guarded hook+compress
    * component loop (O(log d) rounds) on that reduced edge set, one
    * bounded groupBy. Nodes with no intra-community edge are their own
    * component.
    *
    * @return (community, n_nodes, n_components, is_connected)
    */
  def louvainConnectivity(pairs: DataFrame, rounds: Int = 4,
                          share: DataFrame => DataFrame = Share.materialize,
                          labels: Option[DataFrame] = None,
                          graph: Option[ContactGraph] = None): DataFrame = {
    val p = graph.map(_.pairs)
      .getOrElse(share(pairs.select(col("user_a"), col("user_b"), col("n_meetings"))))
    // provided PERSISTED labels (the pipeline memo) are used as-is —
    // re-checkpointing them is a wasted job per call (the L2 guard)
    val l1 = labels
      .map(df => if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE) share(df) else df)
      .getOrElse(share(louvainLabels(pairs, rounds, share, graph = graph)))
    val intra = p
      .join(l1.select(col("n"), col("c").as("_ca")), p("user_a") === col("n")).drop("n")
      .join(l1.select(col("n"), col("c").as("_cb")), p("user_b") === col("n")).drop("n")
      .filter(col("_ca") === col("_cb"))
      .select(col("user_a").as("id_a"), col("user_b").as("id_b"))
    val comps = Dedup.duplicateClusters(intra)
      .select(col("doc_id").as("n"), col("cluster_id"))
    l1.join(comps, Seq("n"), "left")
      .select(col("n"), col("c"), coalesce(col("cluster_id"), col("n")).as("_cid"))
      .groupBy(col("c").as("community"))
      .agg(count(lit(1)).cast("long").as("n_nodes"),
        countDistinct(col("_cid")).cast("long").as("n_components"))
      .withColumn("is_connected", col("n_components") === 1L)
  }

  /** Leiden-style refinement of the Louvain partition (the minimal
    * guarantee of Traag et al. 2019 §A: every community is internally
    * connected): split each community into the connected components of
    * its induced subgraph and report the refined partition's stats.
    * Splitting disconnected parts NEVER decreases modularity — for
    * c = A ⊎ B with no A–B edge the numerator changes by exactly
    * +2·d_A·d_B > 0 — so Q(refined) ≥ Q(louvain) unconditionally, with
    * strictness exactly when [[louvainConnectivity]] flags a community.
    *
    * Scale shape: identical to the audit (label joins to
    * intra-community edges, guarded hook+compress components) plus the
    * shared exact-rational stats tail. Refined labels are the
    * component-min node ids (isolated-in-community nodes keep their
    * own), deterministic in both engines.
    *
    * @return (community, n_nodes, w_in, degree_sum, modularity)
    */
  def colocationLouvainRefined(pairs: DataFrame, rounds: Int = 4,
                               share: DataFrame => DataFrame = Share.materialize,
                               labels: Option[DataFrame] = None,
                               graph: Option[ContactGraph] = None): DataFrame = {
    val p = graph.map(_.pairs)
      .getOrElse(share(pairs.select(col("user_a"), col("user_b"), col("n_meetings"))))
    val edges = graph
      .map(_.edgesW.select(col("src").as("u"), col("dst").as("v"), col("w")))
      .getOrElse(share(p
        .select(col("user_a").as("u"), col("user_b").as("v"), col("n_meetings").as("w"))
        .unionByName(p.select(col("user_b").as("u"), col("user_a").as("v"),
          col("n_meetings").as("w")))))
    // provided PERSISTED labels (the pipeline memo) are used as-is —
    // re-checkpointing them is a wasted job per call (the L2 guard)
    val l1 = labels
      .map(df => if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE) share(df) else df)
      .getOrElse(share(louvainLabels(pairs, rounds, share, graph = graph)))
    val intra = p
      .join(l1.select(col("n"), col("c").as("_ca")), p("user_a") === col("n")).drop("n")
      .join(l1.select(col("n"), col("c").as("_cb")), p("user_b") === col("n")).drop("n")
      .filter(col("_ca") === col("_cb"))
      .select(col("user_a").as("id_a"), col("user_b").as("id_b"))
    val comps = Dedup.duplicateClusters(intra)
      .select(col("doc_id").as("n"), col("cluster_id"))
    val refined = l1.join(comps, Seq("n"), "left")
      .select(col("n"), coalesce(col("cluster_id"), col("n")).as("lbl"))
    communityStats(p, edges, refined, degW = graph.map(_.degW))
  }

  /** Exact integer modularity numerator Σ_c (4W·e_c − d_c²) of a
    * partition as a 1-row `_qn` frame for the level-2 monotone guard,
    * left unfired so callers comparing two partitions can cross-join the
    * frames and pay one action instead of two.
    */
  private def partitionQNumDf(p: DataFrame, edges: DataFrame,
                              labels: DataFrame): DataFrame = {
    val withA = p.join(labels.select(col("n"), col("lbl").as("_ca")), p("user_a") === col("n")).drop("n")
    val withB = withA.join(labels.select(col("n"), col("lbl").as("_cb")), withA("user_b") === col("n")).drop("n")
    val totalW = p.agg(sum(col("n_meetings")).cast("long").as("_W"))
    val intra = withB.filter(col("_ca") === col("_cb"))
      .groupBy(col("_ca").as("community")).agg(sum(col("n_meetings")).cast("long").as("w_in"))
    val degC = edges.groupBy(col("u")).agg(sum(col("w")).as("_d"))
      .join(labels, col("u") === labels("n"))
      .groupBy(col("lbl").as("community"))
      .agg(sum(col("_d")).cast("long").as("degree_sum"))
    degC.join(intra, Seq("community"), "left")
      .withColumn("w_in", coalesce(col("w_in"), lit(0L)))
      .crossJoin(broadcast(totalW))
      .agg(sum(lit(4L) * dq(col("_W")) * dq(col("w_in")) -
        dq(col("degree_sum")) * dq(col("degree_sum"))).as("_qn"))
  }

  /** Exact-rational partition statistics + Newman modularity shared by
    * [[colocationCommunities]] and [[colocationLouvain]]: per community
    * the node count, intra-community weight and weighted-degree sum,
    * plus the global Q = Σ_c (4W·e_c − d_c²) / (4W²) with the numerator
    * in DECIMAL(38,0) and ONE double division at the end.
    */
  private def communityStats(p: DataFrame, edges: DataFrame, labels: DataFrame,
                             degW: Option[DataFrame]): DataFrame = {
    val withA = p.join(labels.select(col("n"), col("lbl").as("_ca")), p("user_a") === col("n")).drop("n")
    val withB = withA.join(labels.select(col("n"), col("lbl").as("_cb")), withA("user_b") === col("n")).drop("n")
    val totalW = p.agg(sum(col("n_meetings")).cast("long").as("_W"))
    val intra = withB.filter(col("_ca") === col("_cb"))
      .groupBy(col("_ca").as("community")).agg(sum(col("n_meetings")).cast("long").as("w_in"))
    // the weighted degree is the shared-prolog table when the caller
    // holds a ContactGraph — re-deriving it is one more 2|pairs| groupBy
    val degC = degW.map(_.select(col("src").as("u"), col("wdeg").as("_d")))
      .getOrElse(edges.groupBy(col("u")).agg(sum(col("w")).as("_d")))
      .join(labels, col("u") === labels("n"))
      .groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).cast("long").as("n_nodes"), sum(col("_d")).cast("long").as("degree_sum"))
    val comm = degC.join(intra, Seq("community"), "left")
      .withColumn("w_in", coalesce(col("w_in"), lit(0L)))
      .crossJoin(broadcast(totalW))
    val qNum = comm.agg(sum(lit(4L) * dq(col("_W")) * dq(col("w_in")) -
      dq(col("degree_sum")) * dq(col("degree_sum"))).as("_qn"))
    comm.crossJoin(broadcast(qNum))
      .select(col("community"), col("n_nodes"), col("w_in"), col("degree_sum"),
        (col("_qn").cast("double") /
          (lit(4.0) * col("_W").cast("double") * col("_W").cast("double"))).as("modularity"))
  }

  /** Triangle counts and clustering coefficients over the contact graph
    * (Watts & Strogatz 1998 local clustering; Newman 2003 global
    * transitivity): how much of a user's contact neighborhood is itself
    * interconnected — the social-cohesion complement of
    * [[colocationDegrees]]/[[colocationPagerank]].
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
    val e = pairs.select(col("user_a").as("u"), col("user_b").as("v"))
    val deg = e.select(col("u").as("n")).unionAll(e.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).cast("long").as("d"))
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
    val e = pairs.select(col("user_a").as("u"), col("user_b").as("v"))
    val deg = e.select(col("u").as("n")).unionAll(e.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).cast("long").as("d"))
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
