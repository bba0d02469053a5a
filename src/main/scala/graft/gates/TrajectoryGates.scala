package graft.gates

import graft.operators._
import graft.sources.EventsAdapter
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Shared.{hav, withMaterializedCtes, decimalsToDigits}

/** Trajectory shape: simplification, pairwise trajectory distances
  * (DTW, Frechet, Hausdorff, banded near pairs) and per-user range metrics.
  */
private[graft] object TrajectoryGates {

  /** The first ten 12-fix lines of users 0–2 as coordinate lists
    * `lines(lid, lons, lats)`, and every line pair
    * `pairsx(id_1, id_2, alon, alat, blon, blat)` with id_1 < id_2.
    */
  private val linePairsCtes: String =
    """lines AS (
      |  SELECT user_id * 10000 + (k // 12) AS lid,
      |         list(lon ORDER BY k) AS lons, list(lat ORDER BY k) AS lats
      |  FROM pfs WHERE user_id < 3 AND k // 12 < 10
      |  GROUP BY user_id, k // 12),
      |pairsx AS (
      |  SELECT a.lid AS id_1, b.lid AS id_2,
      |         a.lons AS alon, a.lats AS alat, b.lons AS blon, b.lats AS blat
      |  FROM lines a JOIN lines b ON a.lid < b.lid)""".stripMargin

  /** DTW trajectory distance as SQL: the row-major DP of SpatialOps.dtw
    * as a recursive CTE — each recursion step advances one DP row per
    * pair, carried as a list; the in-row left-to-right dependency
    * (cur(j-1)) runs as a list_reduce fold. Quantized to floor meters
    * like every trig-derived oracle value.
    */
  private def dtwOracle: String = {
    val j = "CAST(x[1] AS INT)"
    s"""${EventsAdapter.pfsSql.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |$linePairsCtes,
       |dp(id_1, id_2, i, dprow) AS (
       |  SELECT id_1, id_2, 0,
       |         list_concat([0.0], list_transform(range(1, len(blon) + 1), j -> 'infinity'::DOUBLE))
       |  FROM pairsx
       |  UNION ALL
       |  SELECT d.id_1 AS id_1, d.id_2 AS id_2, d.i + 1 AS i,
       |    list_reduce(
       |      list_concat([['infinity'::DOUBLE]],
       |        list_transform(range(1, len(p.blon) + 1), j -> [CAST(j AS DOUBLE)])),
       |      (acc, x) -> list_append(acc,
       |        ${hav(s"p.alon[d.i+1]", s"p.alat[d.i+1]", s"p.blon[$j]", s"p.blat[$j]")}
       |        + least(d.dprow[$j + 1], acc[$j], d.dprow[$j]))) AS dprow
       |  FROM dp d JOIN pairsx p ON p.id_1 = d.id_1 AND p.id_2 = d.id_2
       |  WHERE d.i < len(p.alon))
       |SELECT d.id_1, d.id_2, CAST(floor(d.dprow[len(p.blon) + 1]) AS BIGINT) AS dtw_m
       |FROM dp d JOIN pairsx p ON p.id_1 = d.id_1 AND p.id_2 = d.id_2
       |WHERE d.i = len(p.alon)""".stripMargin
  }

  /** Discrete Fréchet distance as SQL: the same diagonal wave as
    * [[dtwOracle]] with the DP cell rule swapped — C(i,j) =
    * max(d(i,j), min(C(i-1,j), C(i-1,j-1), C(i,j-1))), boundary
    * C(0,0) = -inf and +inf elsewhere, which reproduces the memoized
    * recursion of SpatialOps.frechet exactly (the max against -inf at
    * (1,1) yields d(1,1)).
    */
  private def frechetOracle: String = {
    val j = "CAST(x[1] AS INT)"
    s"""${EventsAdapter.pfsSql.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |$linePairsCtes,
       |dp(id_1, id_2, i, dprow) AS (
       |  SELECT id_1, id_2, 0,
       |         list_concat(['-infinity'::DOUBLE], list_transform(range(1, len(blon) + 1), j -> 'infinity'::DOUBLE))
       |  FROM pairsx
       |  UNION ALL
       |  SELECT d.id_1 AS id_1, d.id_2 AS id_2, d.i + 1 AS i,
       |    list_reduce(
       |      list_concat([['infinity'::DOUBLE]],
       |        list_transform(range(1, len(p.blon) + 1), j -> [CAST(j AS DOUBLE)])),
       |      (acc, x) -> list_append(acc,
       |        greatest(${hav(s"p.alon[d.i+1]", s"p.alat[d.i+1]", s"p.blon[$j]", s"p.blat[$j]")},
       |                 least(d.dprow[$j + 1], acc[$j], d.dprow[$j])))) AS dprow
       |  FROM dp d JOIN pairsx p ON p.id_1 = d.id_1 AND p.id_2 = d.id_2
       |  WHERE d.i < len(p.alon))
       |SELECT d.id_1, d.id_2, CAST(floor(d.dprow[len(p.blon) + 1]) AS BIGINT) AS frechet_m
       |FROM dp d JOIN pairsx p ON p.id_1 = d.id_1 AND p.id_2 = d.id_2
       |WHERE d.i = len(p.alon)""".stripMargin
  }

  /** Discrete Hausdorff distance as SQL: no DP — per pair, the max over
    * both directions of each point's nearest-neighbor distance, as
    * nested list comprehensions over the same line pairs as
    * [[dtwOracle]]. Pure min/max of the shared haversine values (no
    * accumulation), so the floor-meter surface is even more stable than
    * the DP metrics'.
    */
  private def hausdorffOracle: String = {
    def d(i: String, j: String) = hav(s"alon[CAST($i AS INT)]", s"alat[CAST($i AS INT)]",
      s"blon[CAST($j AS INT)]", s"blat[CAST($j AS INT)]")
    s"""${EventsAdapter.pfsSql},
       |$linePairsCtes
       |SELECT id_1, id_2, CAST(floor(greatest(
       |  list_max(list_transform(range(1, len(alon) + 1), i ->
       |    list_min(list_transform(range(1, len(blon) + 1), j -> ${d("i", "j")})))),
       |  list_max(list_transform(range(1, len(blon) + 1), j ->
       |    list_min(list_transform(range(1, len(alon) + 1), i -> ${d("i", "j")})))))) AS BIGINT)
       |  AS hausdorff_m
       |FROM pairsx""".stripMargin
  }

  /** Banded near-pair twin: padded integer bboxes → grid-cell equi-join
    * (pair kept once, at the element-wise greatest min-cell) → exact
    * Hausdorff ≤ radius. Same candidate rule as
    * SpatialOps.trajectoryNearPairs; kernel identical to
    * [[hausdorffOracle]].
    */
  private def trajectoryNearPairsOracle: String = {
    def d(i: String, j: String) = hav(s"alon[CAST($i AS INT)]", s"alat[CAST($i AS INT)]",
      s"blon[CAST($j AS INT)]", s"blat[CAST($j AS INT)]")
    def q(l: String) = s"list_transform($l, x -> CAST(floor(x * 1000000.0 + 0.5) AS BIGINT))"
    s"""${EventsAdapter.pfsSql},
       |lines AS MATERIALIZED (
       |  SELECT user_id * 10000 + (k // 12) AS lid,
       |         list(lon ORDER BY k) AS lons, list(lat ORDER BY k) AS lats
       |  FROM pfs WHERE user_id < 30 AND k // 12 < 10
       |  GROUP BY user_id, k // 12),
       |bbox AS MATERIALIZED (
       |  SELECT lid, lons, lats,
       |    (list_min(${q("lons")}) - 6000) // 10000 AS cx0,
       |    (list_max(${q("lons")}) + 6000) // 10000 AS cx1,
       |    (list_min(${q("lats")}) - 6000) // 10000 AS cy0,
       |    (list_max(${q("lats")}) + 6000) // 10000 AS cy1
       |  FROM lines),
       |cellsx AS (SELECT lid, lons, lats, cx0, cy0, cy1,
       |    unnest(generate_series(cx0, cx1)) AS cx FROM bbox),
       |cellst AS (SELECT lid, lons, lats, cx0, cy0, cx,
       |    unnest(generate_series(cy0, cy1)) AS cy FROM cellsx),
       |cand AS (
       |  SELECT a.lid AS id_1, b.lid AS id_2,
       |         a.lons AS alon, a.lats AS alat, b.lons AS blon, b.lats AS blat
       |  FROM cellst a JOIN cellst b ON a.cx = b.cx AND a.cy = b.cy AND a.lid < b.lid
       |  WHERE a.cx = greatest(a.cx0, b.cx0) AND a.cy = greatest(a.cy0, b.cy0)),
       |hd AS (
       |  SELECT id_1, id_2, greatest(
       |    list_max(list_transform(range(1, len(alon) + 1), i ->
       |      list_min(list_transform(range(1, len(blon) + 1), j -> ${d("i", "j")})))),
       |    list_max(list_transform(range(1, len(blon) + 1), j ->
       |      list_min(list_transform(range(1, len(alon) + 1), i -> ${d("i", "j")}))))) AS h
       |  FROM cand)
       |SELECT id_1, id_2, CAST(floor(h) AS BIGINT) AS distance_m
       |FROM hd WHERE h <= 300.0""".stripMargin
  }

  /** Short per-user trajectory blocks used by both trajectory-distance
    * queries (dtw_matrix / frechet_matrix).
    */
  private def trajectoryLines(s: SparkSession, dir: String, maxUsers: Int = 3): DataFrame =
    EventsAdapter.positionfixes(s, dir)
      .filter(col("user_id") < maxUsers)
      .groupBy(col("user_id"), expr("k div 12").as("block"))
      .agg(transform(array_sort(collect_list(struct(col("k"), col("lon"), col("lat")))),
        p => struct(p.getField("lon").as("lon"), p.getField("lat").as("lat"))).as("points"))
      .withColumn("id", col("user_id") * 10000 + col("block"))
      .filter(col("block") < 10)

  val gates: Seq[Gate] = Seq(
    Gate("traj_simplify") { (s, dir) =>
      SpatialOps.simplifyRadial(EventsAdapter.positionfixes(s, dir), epsilonMeters = 300.0)
    } {
      {
        val breach =
          s"""(SELECT min(f2.kk) FROM fx f2, fx f1
             |      WHERE f2.user_id = an.u AND f1.user_id = an.u AND f1.kk = an.a
             |        AND f2.kk > an.a AND ${hav("f1.lon", "f1.lat", "f2.lon", "f2.lat")} >= 300.0)""".stripMargin
        s"""${EventsAdapter.pfsSql.replaceFirst("WITH ", "WITH RECURSIVE ")},
           |fx AS (
           |  SELECT user_id, t_us, lon, lat,
           |         row_number() OVER (PARTITION BY user_id ORDER BY t_us, id) - 1 AS kk
           |  FROM pfs),
           |anchors(u, a) AS (
           |  SELECT user_id, 0 FROM fx WHERE kk = 0
           |  UNION ALL
           |  SELECT an.u, $breach
           |  FROM anchors an
           |  WHERE $breach IS NOT NULL)
           |SELECT an.u AS user_id, CAST(an.a AS BIGINT) AS k, f.t_us, f.lon, f.lat
           |FROM anchors an JOIN fx f ON f.user_id = an.u AND f.kk = an.a""".stripMargin
      }
    },
    Gate("dtw_matrix") { (s, dir) =>
      SpatialOps.distanceMatrixLinestrings(trajectoryLines(s, dir), "dtw")
        .select(col("id_1"), col("id_2"), floor(col("distance_m")).cast("long").as("dtw_m"))
    } { withMaterializedCtes(dtwOracle) },
    Gate("frechet_matrix") { (s, dir) =>
      SpatialOps.distanceMatrixLinestrings(trajectoryLines(s, dir), "frechet")
        .select(col("id_1"), col("id_2"), floor(col("distance_m")).cast("long").as("frechet_m"))
    } { withMaterializedCtes(frechetOracle) },
    Gate("hausdorff_matrix") { (s, dir) =>
      SpatialOps.distanceMatrixLinestrings(trajectoryLines(s, dir), "hausdorff")
        .select(col("id_1"), col("id_2"), floor(col("distance_m")).cast("long").as("hausdorff_m"))
    } { withMaterializedCtes(hausdorffOracle) },
    Gate("trajectory_near_pairs") { (s, dir) =>
      // 10× the matrix gates' line count — the banded path is the one
      // that survives scale, so it gets the bigger fixture
      SpatialOps.trajectoryNearPairs(trajectoryLines(s, dir, maxUsers = 30), radiusM = 300.0)
    } { withMaterializedCtes(trajectoryNearPairsOracle) },
    Gate("daily_range") { (s, dir) =>
      Metrics.dailyRange(EventsAdapter.positionfixes(s, dir))
    } {
      // per-(user, day) exact bounding box + haversine diagonal
      s"""${EventsAdapter.pfsSql},
         |bx AS (
         |  SELECT user_id, t_us // 86400000000 AS day,
         |         CAST(count(*) AS BIGINT) AS n_fixes,
         |         min(CAST(floor(lon * 1000000.0 + 0.5) AS BIGINT)) AS min_lon_u,
         |         max(CAST(floor(lon * 1000000.0 + 0.5) AS BIGINT)) AS max_lon_u,
         |         min(CAST(floor(lat * 1000000.0 + 0.5) AS BIGINT)) AS min_lat_u,
         |         max(CAST(floor(lat * 1000000.0 + 0.5) AS BIGINT)) AS max_lat_u
         |  FROM pfs GROUP BY user_id, t_us // 86400000000)
         |SELECT user_id, CAST(day AS BIGINT) AS day, n_fixes,
         |       min_lon_u, max_lon_u, min_lat_u, max_lat_u,
         |       ${hav("CAST(min_lon_u AS DOUBLE) / 1000000.0", "CAST(min_lat_u AS DOUBLE) / 1000000.0",
                       "CAST(max_lon_u AS DOUBLE) / 1000000.0", "CAST(max_lat_u AS DOUBLE) / 1000000.0")} AS range_m
         |FROM bx""".stripMargin
    },
    Gate("msd_curve") { (s, dir) =>
      decimalsToDigits(Metrics.msdCurve(EventsAdapter.positionfixes(s, dir)))
    } {
      // MSD curve: squared displacement from each user's first fix,
      // log2 elapsed-time buckets, int128 metre^2 sums
      s"""${EventsAdapter.pfsSql}, org AS (
         |  SELECT user_id, t_us AS ot, lon AS olon, lat AS olat FROM (
         |    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY t_us, id) AS rn FROM pfs)
         |  WHERE rn = 1),
         |m AS (
         |  SELECT CAST(floor((p.t_us - o.ot) / 1000000.0) AS BIGINT) AS dt,
         |         ${hav("o.olon", "o.olat", "p.lon", "p.lat")} AS d
         |  FROM pfs p JOIN org o ON p.user_id = o.user_id),
         |f AS (
         |  SELECT CAST(length(bin(dt)) - 1 AS BIGINT) AS bucket,
         |         CAST(floor(d * d) AS BIGINT) AS d2
         |  FROM m WHERE dt >= 1)
         |SELECT bucket, CAST(count(*) AS BIGINT) AS n_points,
         |       CAST(CAST(sum(d2) AS HUGEINT) AS VARCHAR) AS sum_d2m,
         |       CAST(CAST(sum(d2) AS DECIMAL(38,0)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_d2m
         |FROM f GROUP BY bucket""".stripMargin
    },
    Gate("activity_ellipse") { (s, dir) =>
      decimalsToDigits(Metrics.activityEllipse(EventsAdapter.positionfixes(s, dir))
        .select(col("user_id"), col("n"), col("sx"), col("sy"),
          col("sxx"), col("syy"), col("sxy"),
          col("varx_num"), col("vary_num"), col("cov_num")))
    } {
      // Yuill standard-deviational-ellipse moments on the integer
      // micro-degree grid: Σx² in int128, variance numerators exact
      s"""${EventsAdapter.pfsSql},
         |q AS (
         |  SELECT user_id, CAST(floor(lon * 1000000.0 + 0.5) AS BIGINT) AS x,
         |         CAST(floor(lat * 1000000.0 + 0.5) AS BIGINT) AS y
         |  FROM pfs),
         |m AS (
         |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |    sum(CAST(x AS HUGEINT) * x) AS hxx,
         |    sum(CAST(y AS HUGEINT) * y) AS hyy,
         |    sum(CAST(x AS HUGEINT) * y) AS hxy
         |  FROM q GROUP BY user_id)
         |SELECT user_id, n, sx, sy,
         |  CAST(hxx AS VARCHAR) AS sxx, CAST(hyy AS VARCHAR) AS syy,
         |  CAST(hxy AS VARCHAR) AS sxy,
         |  CAST(n * hxx - CAST(sx AS HUGEINT) * sx AS VARCHAR) AS varx_num,
         |  CAST(n * hyy - CAST(sy AS HUGEINT) * sy AS VARCHAR) AS vary_num,
         |  CAST(n * hxy - CAST(sx AS HUGEINT) * sy AS VARCHAR) AS cov_num
         |FROM m""".stripMargin
    }
  )
}
