package graft.gates

import graft.operators._
import graft.sources.EventsAdapter
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Shared.{blockLocations, hav, olsFitSql, wideOlsFitSql}

/** Per-user mobility metrics and location labelling over the interval
  * table: tracking quality, gyration, flow models, entropies, motifs, modal split.
  */
private[graft] object MobilityMetricsGates {

  /** `cuts(user_id, cs, cf)`: each interval cut at UTC day boundaries. */
  private val dayCutsCte: String =
    """cuts AS (
      |  SELECT user_id, greatest(s_us, d * 86400000000) AS cs,
      |         least(f_us, (d + 1) * 86400000000) AS cf
      |  FROM intervals, LATERAL (SELECT unnest(range(s_us // 86400000000, f_us // 86400000000 + 1)) AS d)
      |  WHERE f_us - s_us > 0 AND least(f_us, (d + 1) * 86400000000) > greatest(s_us, d * 86400000000)
      |)""".stripMargin

  /** The interval table's block-first visits, one per (user, 12-visit
    * block), each at its block's location.
    */
  private def blockVisits(s: SparkSession, dir: String): DataFrame =
    EventsAdapter.intervals(s, dir)
      .filter(expr("k % 12 = 0"))
      .withColumn("location_id", expr("(k div 12) % 4"))

  /** The oracle side of [[blockVisits]] and the flows between them:
    * `vis`, the transitions `tr(user_id, f, t)`, the flow counts
    * `fl(f, t, <flow>)` and the exact micro-degree centroid sums
    * `ce(loc, sx, sy, <mass>)`.
    */
  private def flowCtes(flow: String, mass: String): String =
    s"""${EventsAdapter.pfsSql}, vis AS (
       |  SELECT user_id, id, s_us, (k // 12) % 4 AS loc, lon, lat
       |  FROM intervals WHERE k % 12 = 0),
       |tr AS (
       |  SELECT user_id, loc AS f, lead(loc) OVER (PARTITION BY user_id ORDER BY s_us, id) AS t
       |  FROM vis),
       |fl AS (
       |  SELECT f, t, CAST(count(*) AS BIGINT) AS $flow
       |  FROM tr WHERE t IS NOT NULL AND t != f GROUP BY f, t),
       |ce AS (
       |  SELECT loc,
       |         sum(CAST(floor(lon * 1000000.0 + 0.5) AS BIGINT)) AS sx,
       |         sum(CAST(floor(lat * 1000000.0 + 0.5) AS BIGINT)) AS sy,
       |         CAST(count(*) AS BIGINT) AS $mass
       |  FROM vis GROUP BY loc)""".stripMargin

  /** The radiation model's pair table over [[flowCtes]]: centroids
    * `cc`, OD pairs with masses and floor-metre distance `prd`, and the
    * intervening mass `sb(f, t, s_between)`.
    */
  private def radiationCtes: String =
    s"""${flowCtes(flow = "observed", mass = "m")},
       |cc AS (
       |  SELECT loc, m,
       |         (CAST(sx AS DOUBLE) / CAST(m AS DOUBLE)) / 1000000.0 AS clon,
       |         (CAST(sy AS DOUBLE) / CAST(m AS DOUBLE)) / 1000000.0 AS clat
       |  FROM ce),
       |pr AS (
       |  SELECT fl.f, fl.t, fl.observed, a.m AS m_from, b.m AS m_to,
       |         a.clon AS flon, a.clat AS flat,
       |         CAST(floor(${hav("a.clon", "a.clat", "b.clon", "b.clat")}) AS BIGINT) AS dist_m
       |  FROM fl JOIN cc a ON fl.f = a.loc JOIN cc b ON fl.t = b.loc),
       |prd AS (SELECT * FROM pr),
       |sb AS (
       |  SELECT prd.f, prd.t, CAST(sum(k.m) AS BIGINT) AS s_between
       |  FROM prd JOIN cc k ON k.loc != prd.f AND k.loc != prd.t
       |  WHERE CAST(floor(${hav("prd.flon", "prd.flat", "k.clon", "k.clat")}) AS BIGINT) < prd.dist_m
       |  GROUP BY prd.f, prd.t)""".stripMargin

  /** OSNA time frames over `sp(.., mt)`: each visit's frame by its
    * midpoint `lab(.., label)`, then the weekday visits' weighted
    * durations and home/work group `frames(.., dur, grp)`.
    */
  private val osnaFramesCtes: String =
    """lab AS (
      |  SELECT *, CASE WHEN (dayofweek(mt) + 6) % 7 >= 5 THEN 'weekend'
      |                 WHEN hour(mt) >= 2 AND hour(mt) < 8 THEN 'rest'
      |                 WHEN hour(mt) >= 8 AND hour(mt) < 19 THEN 'work'
      |                 ELSE 'leisure' END AS label
      |  FROM sp
      |), frames AS (
      |  SELECT *, CASE label WHEN 'rest' THEN (f_us - s_us) * 0.739
      |                       WHEN 'leisure' THEN (f_us - s_us) * 0.358
      |                       ELSE CAST(f_us - s_us AS DOUBLE) END AS dur,
      |         CASE WHEN label IN ('rest','leisure') THEN 'home'
      |              WHEN label = 'work' THEN 'work' END AS grp
      |  FROM lab WHERE label != 'weekend'""".stripMargin

  /** Shared CTE chain for the Song entropy gates: the per-user visit
    * window (first 120 visits in adapter order), location counts, the
    * quantized-ln entropy aggregate `ent(user_id, n_visits, n_locs,
    * sclnc)`, the location-symbol string, and the LZ76 recursive parse
    * `ph(user_id, n_phrases)` — the text_lz_density parse keyed by
    * user. `tail` is either the main SELECT (location_entropy) or more
    * CTEs ending in one (predictability_bound).
    */
  private def songEntropySql(tail: String): String = {
    val sep = if (tail.startsWith("SELECT")) "\n" else ",\n"
    s"""${EventsAdapter.pfsSql.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |vis AS MATERIALIZED (
       |  SELECT user_id, k, (k // 12) % 4 AS loc FROM intervals WHERE k < 120),
       |cnt AS (SELECT user_id, loc, CAST(count(*) AS BIGINT) AS c FROM vis GROUP BY 1, 2),
       |ent AS MATERIALIZED (
       |  SELECT user_id, CAST(sum(c) AS BIGINT) AS n_visits,
       |         CAST(count(*) AS BIGINT) AS n_locs,
       |         CAST(sum(c * CAST(floor(ln(CAST(c AS DOUBLE)) * 1e6) AS BIGINT)) AS BIGINT) AS sclnc
       |  FROM cnt GROUP BY 1),
       |sq AS MATERIALIZED (
       |  SELECT user_id,
       |         string_agg(substr('ABCDEFGHIJKLMNOPQRSTUVWXYZ', CAST(loc AS INT) + 1, 1), '' ORDER BY k) AS seq
       |  FROM vis GROUP BY 1),
       |lzp(user_id, seq, n, p, c) AS (
       |  SELECT user_id, seq, length(seq), 1, 0 FROM sq
       |  UNION ALL
       |  SELECT user_id, seq, n, p + least(coalesce(mm, 0) + 1, n - p + 1), c + 1
       |  FROM (
       |    SELECT user_id, seq, n, p, c,
       |           list_max(list_filter(range(1, n - p + 2),
       |             L -> strpos(substring(seq, 1, CAST(p + L - 2 AS INT)),
       |                         substring(seq, CAST(p AS INT), CAST(L AS INT))) > 0)) AS mm
       |    FROM lzp WHERE p <= n)),
       |ph AS MATERIALIZED (SELECT user_id, CAST(c AS BIGINT) AS n_phrases FROM lzp WHERE p > n)$sep$tail""".stripMargin
  }

  val gates: Seq[Gate] = Seq(
    Gate("jump_length") { (s, dir) =>
      Metrics.jumpLength(EventsAdapter.intervals(s, dir))
        .select(col("id"), col("user_id"), floor(col("jump_length")).cast("long").as("jump_m"))
    } {
      s"""${EventsAdapter.pfsSql}, nxt AS (
         |  SELECT id, user_id, lon, lat,
         |         lead(lon) OVER w AS nlon, lead(lat) OVER w AS nlat
         |  FROM intervals WINDOW w AS (PARTITION BY user_id ORDER BY s_us, id))
         |SELECT id, user_id,
         |  CASE WHEN nlon IS NULL THEN NULL
         |       ELSE CAST(floor(${hav("lon", "lat", "nlon", "nlat")}) AS BIGINT) END AS jump_m
         |FROM nxt""".stripMargin
    },
    Gate("activity_flag") { (s, dir) =>
      Labelling.createActivityFlag(EventsAdapter.intervals(s, dir), timeThresholdMinutes = 15.0)
        .select(col("id"), col("user_id"), col("is_activity"))
    } {
      s"""${EventsAdapter.pfsSql}
         |SELECT id, user_id, (f_us - s_us) / 1000000.0 > 900.0 AS is_activity FROM intervals""".stripMargin
    },
    Gate("tracking_quality_all") { (s, dir) =>
      Metrics.temporalTrackingQuality(EventsAdapter.intervals(s, dir), "all")
        .select(col("user_id"), col("quality"))
    } {
      s"""${EventsAdapter.pfsSql}
         |SELECT user_id,
         |  CAST(sum(f_us - s_us) AS DOUBLE) / CAST(max(f_us) - min(s_us) AS DOUBLE) AS quality
         |FROM intervals WHERE f_us - s_us > 0 GROUP BY user_id""".stripMargin
    },
    Gate("tracking_quality_day") { (s, dir) =>
      Metrics.temporalTrackingQuality(EventsAdapter.intervals(s, dir), "day")
        .select(col("user_id"), unix_micros(col("day")).as("day_us"), col("quality"))
    } {
      s"""${EventsAdapter.pfsSql}, cuts AS (
         |  SELECT user_id, s_us, f_us,
         |         greatest(s_us, d * 86400000000) AS cs,
         |         least(f_us, (d + 1) * 86400000000) AS cf,
         |         d * 86400000000 AS day_us
         |  FROM intervals, LATERAL (SELECT unnest(range(s_us // 86400000000, f_us // 86400000000 + 1)) AS d)
         |  WHERE f_us - s_us > 0 AND least(f_us, (d + 1) * 86400000000) > greatest(s_us, d * 86400000000)
         |)
         |SELECT user_id, day_us, CAST(sum(cf - cs) AS DOUBLE) / 86400000000.0 AS quality
         |FROM cuts GROUP BY user_id, day_us""".stripMargin
    },
    Gate("tracking_quality_week") { (s, dir) =>
      Metrics.temporalTrackingQuality(EventsAdapter.intervals(s, dir), "week")
        .select(col("user_id"), unix_micros(col("week_sunday").cast("timestamp")).as("week_us"), col("quality"))
    } {
      s"""${EventsAdapter.pfsSql}, $dayCutsCte
         |SELECT user_id,
         |  epoch_us(date_trunc('week', make_timestamp(cs)) + INTERVAL 6 DAY) AS week_us,
         |  CAST(sum(cf - cs) AS DOUBLE) / 604800000000.0 AS quality
         |FROM cuts GROUP BY user_id, week_us""".stripMargin
    },
    Gate("tracking_quality_weekday") { (s, dir) =>
      Metrics.temporalTrackingQuality(EventsAdapter.intervals(s, dir), "weekday")
        .select(col("user_id"), col("weekday").cast("long").as("weekday"), col("quality"))
    } {
      s"""${EventsAdapter.pfsSql}, $dayCutsCte, d0 AS (SELECT min(cs) // 86400000000 AS d0 FROM cuts)
         |SELECT user_id,
         |  CAST((dayofweek(make_timestamp(cs)) + 6) % 7 AS BIGINT) AS weekday,
         |  CAST(sum(cf - cs) AS DOUBLE) /
         |    (86400000000.0 * (max((cs // 86400000000 - d0.d0) // 7) - min((cs // 86400000000 - d0.d0) // 7) + 1)) AS quality
         |FROM cuts, d0 GROUP BY user_id, weekday""".stripMargin
    },
    Gate("tracking_quality_hour") { (s, dir) =>
      Metrics.temporalTrackingQuality(EventsAdapter.intervals(s, dir), "hour")
        .select(col("user_id"), col("hour").cast("long").as("hour"), col("quality"))
    } {
      s"""${EventsAdapter.pfsSql}, $dayCutsCte, cuts_h AS (
         |  SELECT user_id, greatest(cs, h * 3600000000) AS cs,
         |         least(cf, (h + 1) * 3600000000) AS cf
         |  FROM cuts, LATERAL (SELECT unnest(range(cs // 3600000000, cf // 3600000000 + 1)) AS h)
         |  WHERE least(cf, (h + 1) * 3600000000) > greatest(cs, h * 3600000000)
         |), d0 AS (SELECT min(cs) // 86400000000 AS d0 FROM cuts_h)
         |SELECT user_id,
         |  CAST(hour(make_timestamp(cs)) AS BIGINT) AS hour,
         |  CAST(sum(cf - cs) AS DOUBLE) /
         |    (3600000000.0 * (max(cs // 86400000000 - d0.d0) - min(cs // 86400000000 - d0.d0) + 1)) AS quality
         |FROM cuts_h, d0 GROUP BY user_id, hour""".stripMargin
    },
    Gate("radius_gyration") { (s, dir) =>
      Metrics.radiusGyration(EventsAdapter.intervals(s, dir), "count")
        .select(col("user_id"), floor(col("radius_gyration")).cast("long").as("rg_m"))
    } {
      s"""${EventsAdapter.pfsSql}, cent AS (
         |  SELECT user_id, sum(lon * 1.0) / sum(1.0) AS cx, sum(lat * 1.0) / sum(1.0) AS cy
         |  FROM intervals GROUP BY user_id)
         |SELECT i.user_id,
         |  CAST(floor(sqrt(sum(pow(${hav("i.lon", "i.lat", "c.cx", "c.cy")}, 2) * 1.0) / sum(1.0))) AS BIGINT) AS rg_m
         |FROM intervals i JOIN cent c ON i.user_id = c.user_id
         |GROUP BY i.user_id""".stripMargin
    },
    Gate("radius_gyration_duration") { (s, dir) =>
      Metrics.radiusGyration(EventsAdapter.intervals(s, dir), "duration")
        .select(col("user_id"), floor(col("radius_gyration")).cast("long").as("rg_m"))
    } {
      s"""${EventsAdapter.pfsSql}, w AS (
         |  SELECT user_id, lon, lat, (f_us - s_us) / 1000000.0 AS wgt FROM intervals
         |), cent AS (
         |  SELECT user_id, sum(lon * wgt) / sum(wgt) AS cx, sum(lat * wgt) / sum(wgt) AS cy
         |  FROM w GROUP BY user_id)
         |SELECT i.user_id,
         |  CAST(floor(sqrt(sum(pow(6371000.0 * acos(least(1.0, greatest(-1.0, cos(radians(i.lat) - radians(c.cy)) - cos(radians(i.lat)) * cos(radians(c.cy)) * (1.0 - cos(radians(i.lon) - radians(c.cx)))))), 2) * i.wgt) / sum(i.wgt))) AS BIGINT) AS rg_m
         |FROM w i JOIN cent c ON i.user_id = c.user_id
         |GROUP BY i.user_id""".stripMargin
    },
    Gate("commute_distance") { (s, dir) =>
      val sp = blockLocations(s, dir)
      Metrics.commuteDistance(sp)
    } {
      s"""${EventsAdapter.pfsSql},
         |sp AS (
         |  SELECT user_id, s_us, f_us, (k // 12) % 4 AS loc, lon, lat FROM intervals),
         |per AS (
         |  SELECT user_id, loc, sum(f_us - s_us) AS tot,
         |         sum(CAST(floor(lon * 1000000.0 + 0.5) AS BIGINT)) AS sx,
         |         sum(CAST(floor(lat * 1000000.0 + 0.5) AS BIGINT)) AS sy,
         |         count(*) AS n
         |  FROM sp GROUP BY user_id, loc),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY tot DESC, loc) AS rk FROM per),
         |c AS (
         |  SELECT user_id, loc,
         |         CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0 AS clon,
         |         CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0 AS clat, rk
         |  FROM ranked WHERE rk <= 2)
         |SELECT h.user_id, CAST(h.loc AS BIGINT) AS home_loc, CAST(w.loc AS BIGINT) AS work_loc,
         |  ${hav("h.clon", "h.clat", "w.clon", "w.clat")} AS commute_m
         |FROM c h JOIN c w ON h.user_id = w.user_id AND h.rk = 1 AND w.rk = 2""".stripMargin
    },
    Gate("jump_length_fit") { (s, dir) =>
      Metrics.jumpLengthFit(EventsAdapter.intervals(s, dir))
    } {
      // González power-law jump fit: bit-length metre buckets over the
      // jump_length window, zipf-style lnq OLS on the bounded bucket table
      s"""${EventsAdapter.pfsSql}, nxt AS (
         |  SELECT id, user_id, lon, lat,
         |         lead(lon) OVER w AS nlon, lead(lat) OVER w AS nlat
         |  FROM intervals WINDOW w AS (PARTITION BY user_id ORDER BY s_us, id)),
         |j AS (
         |  SELECT CAST(floor(${hav("lon", "lat", "nlon", "nlat")}) AS BIGINT) AS m
         |  FROM nxt WHERE nlon IS NOT NULL),
         |jb AS (
         |  SELECT CAST(length(bin(m)) - 1 AS BIGINT) AS bucket,
         |         CAST(count(*) AS BIGINT) AS c
         |  FROM j WHERE m >= 1 GROUP BY 1),
         |xy AS (
         |  SELECT CAST(floor(ln(CAST(CAST(1 AS BIGINT) << CAST(bucket AS INT) AS DOUBLE)) * 1e6) AS BIGINT) AS x,
         |         CAST(floor(ln(CAST(c AS DOUBLE)) * 1e6) AS BIGINT) AS y
         |  FROM jb),
         |${olsFitSql("n_buckets", "slope", "intercept")}""".stripMargin
    },
    Gate("dwell_time_fit") { (s, dir) =>
      Metrics.dwellTimeFit(EventsAdapter.intervals(s, dir))
    } {
      // waiting-time power law: whole-second durations, the same
      // bit-bucket lnq-OLS tail as jump_length_fit
      s"""${EventsAdapter.pfsSql}, dm AS (
         |  SELECT CAST(floor((f_us - s_us) / 1000000.0) AS BIGINT) AS m FROM intervals),
         |jb AS (
         |  SELECT CAST(length(bin(m)) - 1 AS BIGINT) AS bucket,
         |         CAST(count(*) AS BIGINT) AS c
         |  FROM dm WHERE m >= 1 GROUP BY 1),
         |xy AS (
         |  SELECT CAST(floor(ln(CAST(CAST(1 AS BIGINT) << CAST(bucket AS INT) AS DOUBLE)) * 1e6) AS BIGINT) AS x,
         |         CAST(floor(ln(CAST(c AS DOUBLE)) * 1e6) AS BIGINT) AS y
         |  FROM jb),
         |${olsFitSql("n_buckets", "slope", "intercept")}""".stripMargin
    },
    // one visit row per (user, tour block): the block's first fix
    Gate("od_gravity_fit") { (s, dir) =>
      Metrics.odGravityFit(blockVisits(s, dir))
    } {
      // Zipf gravity law: flows between block-first visits, centroids as
      // exact micro-degree sums divided once, ln-ln OLS over OD pairs
      s"""${flowCtes(flow = "flow", mass = "n")},
         |cc AS (
         |  SELECT loc, (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) / 1000000.0 AS clon,
         |         (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) / 1000000.0 AS clat
         |  FROM ce),
         |dst AS (
         |  SELECT fl.flow,
         |         CAST(floor(${hav("a.clon", "a.clat", "b.clon", "b.clat")}) AS BIGINT) AS d
         |  FROM fl JOIN cc a ON fl.f = a.loc JOIN cc b ON fl.t = b.loc),
         |xy AS (
         |  SELECT CAST(floor(ln(CAST(d AS DOUBLE)) * 1e6) AS BIGINT) AS x,
         |         CAST(floor(ln(CAST(flow AS DOUBLE)) * 1e6) AS BIGINT) AS y
         |  FROM dst WHERE d >= 1),
         |ag AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |         sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
         |         sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx
         |  FROM xy),
         |sl AS (
         |  SELECT n_pairs, sx, sy,
         |         CAST(CAST(n_pairs AS HUGEINT) * sxy
         |              - CAST(sx AS HUGEINT) * CAST(sy AS HUGEINT) AS DOUBLE)
         |           / CAST(CAST(n_pairs AS HUGEINT) * sxx
         |                  - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT) AS DOUBLE) AS slope
         |  FROM ag)
         |SELECT n_pairs, slope,
         |       ((CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE))
         |          / CAST(n_pairs AS DOUBLE)) / CAST(1000000 AS DOUBLE) AS intercept
         |FROM sl""".stripMargin
    },
    Gate("od_radiation") { (s, dir) =>
      Metrics.radiationModel(blockVisits(s, dir))
    } {
      // Simini radiation model: same vis/flow/centroid chain as gravity,
      // s_ij = intervening mass via floor-metre distance comparison,
      // DECIMAL-exact prediction terms with one double division
      s"""$radiationCtes
         |SELECT prd.f AS from_loc, prd.t AS to_loc, prd.dist_m,
         |       prd.m_from, prd.m_to,
         |       CAST(coalesce(sb.s_between, 0) AS BIGINT) AS s_between,
         |       prd.observed,
         |       CAST(CAST(prd.m_from AS HUGEINT) * CAST(prd.m_to AS HUGEINT) AS DOUBLE)
         |         / CAST((CAST(prd.m_from AS HUGEINT) + coalesce(sb.s_between, 0))
         |                * (CAST(prd.m_from AS HUGEINT) + CAST(prd.m_to AS HUGEINT)
         |                   + coalesce(sb.s_between, 0)) AS DOUBLE) AS p_pred
         |FROM prd LEFT JOIN sb ON prd.f = sb.f AND prd.t = sb.t""".stripMargin
    },
    // Lenormand 2016 CPC scorecard: radiation vs fixed-exponent gravity
    // against the observed OD matrix, exact ppm integers
    Gate("flow_model_cpc") { (s, dir) =>
      Metrics.flowModelCpc(blockVisits(s, dir))
    } {
      // Lenormand CPC: radiation + inverse-square gravity weights and the
      // production-constrained predictions quantized by HUGEINT floor
      // division — mirrors Metrics.flowModelCpc's DECIMAL(38,0) math
      s"""$radiationCtes,
         |fin AS (
         |  SELECT prd.f, prd.observed, prd.m_from, prd.m_to, prd.dist_m,
         |         CAST(coalesce(sb.s_between, 0) AS HUGEINT) AS s
         |  FROM prd LEFT JOIN sb ON prd.f = sb.f AND prd.t = sb.t),
         |wt AS (
         |  SELECT f, observed,
         |    (1000000::HUGEINT * m_from * m_to) //
         |      ((CAST(m_from AS HUGEINT) + s) * (CAST(m_from AS HUGEINT) + m_to + s)) AS w_rad,
         |    (1000000000000::HUGEINT * m_from * m_to) //
         |      (CAST(greatest(dist_m, 1) AS HUGEINT) * CAST(greatest(dist_m, 1) AS HUGEINT)) AS w_grav
         |  FROM fin),
         |nm AS (
         |  SELECT observed, w_rad, w_grav,
         |         sum(w_rad) OVER (PARTITION BY f) AS sw_rad,
         |         sum(w_grav) OVER (PARTITION BY f) AS sw_grav,
         |         sum(observed) OVER (PARTITION BY f) AS oi
         |  FROM wt),
         |pu AS (
         |  SELECT CAST(observed AS HUGEINT) * 1000000 AS obs_u,
         |    CASE WHEN sw_rad = 0 THEN 0::HUGEINT
         |         ELSE (CAST(oi AS HUGEINT) * 1000000 * w_rad) // sw_rad END AS pu_rad,
         |    CASE WHEN sw_grav = 0 THEN 0::HUGEINT
         |         ELSE (CAST(oi AS HUGEINT) * 1000000 * w_grav) // sw_grav END AS pu_grav
         |  FROM nm)
         |SELECT 'radiation' AS model, CAST(count(*) AS BIGINT) AS n_pairs,
         |       CAST((2000000::HUGEINT * sum(least(pu_rad, obs_u)))
         |            // (sum(pu_rad) + sum(obs_u)) AS BIGINT) AS cpc_ppm
         |FROM pu
         |UNION ALL
         |SELECT 'gravity2' AS model, CAST(count(*) AS BIGINT) AS n_pairs,
         |       CAST((2000000::HUGEINT * sum(least(pu_grav, obs_u)))
         |            // (sum(pu_grav) + sum(obs_u)) AS BIGINT) AS cpc_ppm
         |FROM pu""".stripMargin
    },
    // Song et al. 2010 entropy ladder per user (random / uncorrelated /
    // LZ76-temporal) over the location-visit sequence
    Gate("location_entropy") { (s, dir) =>
      Metrics.locationEntropyQ(blockLocations(s, dir))
    } {
      // Song entropy ladder: quantized-ln Shannon numerator plus the LZ76
      // parse of the per-user location-symbol string — the same recursive
      // parse CTE the text_lz_density oracle uses, keyed by user
      songEntropySql(
        """SELECT e.user_id, e.n_visits, e.n_locs,
          |  CAST(floor(ln(CAST(e.n_locs AS DOUBLE)) * 1e6) AS BIGINT) AS s_rand_q,
          |  CAST(e.n_visits * CAST(floor(ln(CAST(e.n_visits AS DOUBLE)) * 1e6) AS BIGINT)
          |       - e.sclnc AS BIGINT) AS entropy_num_q,
          |  CAST(e.n_visits * CAST(floor(ln(CAST(e.n_visits AS DOUBLE)) * 1e6) AS BIGINT)
          |       - e.sclnc AS DOUBLE)
          |    / (CAST(e.n_visits AS DOUBLE) * 1000000.0) AS s_unc_nats,
          |  ph.n_phrases,
          |  CAST(ph.n_phrases * CAST(floor(ln(CAST(e.n_visits AS DOUBLE)) * 1e6) AS BIGINT)
          |       AS BIGINT) AS s_temp_num_q,
          |  CAST(ph.n_phrases * CAST(floor(ln(CAST(e.n_visits AS DOUBLE)) * 1e6) AS BIGINT)
          |       AS DOUBLE)
          |    / (CAST(e.n_visits AS DOUBLE) * 1000000.0) AS s_temp_nats
          |FROM ent e JOIN ph USING (user_id)""".stripMargin)
    },
    // Fano-bound max predictability for both entropy rungs — exact
    // integer grid argmax, no transcendental bisection
    Gate("predictability_bound") { (s, dir) =>
      Metrics.predictabilityBound(blockLocations(s, dir))
    } {
      // Fano grid argmax: F(j) exact-integer per (user, j), admission by
      // cross-multiplication, max admitted j per user; single-location
      // users are Π = 1 by definition
      songEntropySql(
        """grid AS (SELECT CAST(unnest(generate_series(1, 1024)) AS BIGINT) AS j),
          |fz AS (
          |  SELECT e.user_id, e.n_visits, e.n_locs,
          |         CAST(e.n_visits * CAST(floor(ln(CAST(e.n_visits AS DOUBLE)) * 1e6) AS BIGINT)
          |              - e.sclnc AS BIGINT) AS s_unc_num,
          |         CAST(ph.n_phrases * CAST(floor(ln(CAST(e.n_visits AS DOUBLE)) * 1e6) AS BIGINT)
          |              AS BIGINT) AS s_temp_num
          |  FROM ent e JOIN ph USING (user_id)),
          |fj AS (
          |  SELECT f.user_id, f.n_visits, f.n_locs, f.s_unc_num, f.s_temp_num, g.j,
          |    CASE WHEN g.j = 1024 THEN 0 ELSE
          |      - g.j * CAST(floor(ln(CAST(g.j AS DOUBLE)) * 1e6) AS BIGINT)
          |      + g.j * 6931471
          |      - (1024 - g.j) * CAST(floor(ln(CAST(1024 - g.j AS DOUBLE)) * 1e6) AS BIGINT)
          |      + (1024 - g.j) * 6931471
          |      + (1024 - g.j) * CAST(floor(ln(CAST(f.n_locs - 1 AS DOUBLE)) * 1e6) AS BIGINT)
          |    END AS fv
          |  FROM fz f CROSS JOIN grid g WHERE f.n_locs >= 2),
          |pi AS (
          |  SELECT user_id, n_visits, n_locs,
          |    coalesce(max(CASE WHEN n_visits * fv >= 1024 * s_unc_num THEN j END), 0) AS pi_unc_q,
          |    coalesce(max(CASE WHEN n_visits * fv >= 1024 * s_temp_num THEN j END), 0) AS pi_temp_q
          |  FROM fj GROUP BY 1, 2, 3
          |  UNION ALL
          |  SELECT user_id, n_visits, n_locs, 1024, 1024 FROM fz WHERE n_locs = 1)
          |SELECT user_id, n_visits, n_locs,
          |  CAST(pi_unc_q AS BIGINT) AS pi_unc_q,
          |  CAST(pi_unc_q AS DOUBLE) / 1024.0 AS pi_unc,
          |  CAST(pi_temp_q AS BIGINT) AS pi_temp_q,
          |  CAST(pi_temp_q AS DOUBLE) / 1024.0 AS pi_temp
          |FROM pi""".stripMargin)
    },
    // the ladder's order-1 Markov rung: plug-in conditional entropy
    // H(X_t | X_{t-1}) over the same capped visit window
    Gate("location_markov_entropy") { (s, dir) =>
      Metrics.markovEntropyQ(blockLocations(s, dir))
    } {
      // order-1 Markov rung of the ladder: plug-in conditional entropy
      // from transition counts — integer quantized-ln numerator, one
      // double division; users without a transition in the window drop
      s"""${EventsAdapter.pfsSql},
         |vis AS MATERIALIZED (
         |  SELECT user_id, k, (k // 12) % 4 AS loc FROM intervals WHERE k < 120),
         |tr AS (
         |  SELECT user_id, lag(loc) OVER (PARTITION BY user_id ORDER BY k) AS prev, loc
         |  FROM vis),
         |cij AS (
         |  SELECT user_id, prev, loc, CAST(count(*) AS BIGINT) AS c
         |  FROM tr WHERE prev IS NOT NULL GROUP BY 1, 2, 3),
         |ci AS (
         |  SELECT user_id, prev, CAST(sum(c) AS BIGINT) AS ci,
         |         CAST(sum(c * CAST(floor(ln(CAST(c AS DOUBLE)) * 1e6) AS BIGINT)) AS BIGINT) AS sclnc
         |  FROM cij GROUP BY 1, 2)
         |SELECT user_id, CAST(sum(ci) AS BIGINT) AS n_trans,
         |       CAST(count(*) AS BIGINT) AS n_contexts,
         |       CAST(sum(ci * CAST(floor(ln(CAST(ci AS DOUBLE)) * 1e6) AS BIGINT)) - sum(sclnc) AS BIGINT) AS markov_num_q,
         |       CAST(sum(ci * CAST(floor(ln(CAST(ci AS DOUBLE)) * 1e6) AS BIGINT)) - sum(sclnc) AS DOUBLE)
         |         / (CAST(sum(ci) AS DOUBLE) * 1000000.0) AS s_mkv_nats
         |FROM ci GROUP BY user_id""".stripMargin
    },
    // Schneider et al. 2013 daily-motif distribution under TRUE graph
    // isomorphism (iso-canonical 36-bit adjacency masks, min over the
    // 720 label permutations) — the `mobility_motifs` gate below keeps
    // the finer visit-sequence signature; this one is the paper's
    // unlabeled-graph class
    Gate("mobility_motifs_canonical") { (s, dir) =>
      Metrics.mobilityMotifsCanonical(blockLocations(s, dir))
        .groupBy(col("n_nodes"), col("n_edges"), col("motif_id"))
        .agg(count(lit(1)).cast("long").as("n_user_days"))
    } {
      // Schneider daily motifs, iso-canonical: first-visit relabel →
      // 36-bit adjacency mask → min over the 720 slot permutations,
      // expanded on DISTINCT masks only; the permutation table is the
      // 6-way distinct digit join
      s"""${EventsAdapter.pfsSql},
         |v AS (SELECT user_id, k, s_us // 86400000000 AS day, (k // 12) % 4 AS loc
         |      FROM intervals),
         |tr0 AS (SELECT user_id, day, lag(loc) OVER (PARTITION BY user_id, day ORDER BY k) AS f,
         |               loc AS t FROM v),
         |tr AS (SELECT DISTINCT user_id, day, f, t FROM tr0 WHERE f IS NOT NULL AND f <> t),
         |rk AS (
         |  SELECT user_id, day, loc,
         |         row_number() OVER (PARTITION BY user_id, day ORDER BY k0) - 1 AS r
         |  FROM (SELECT user_id, day, loc, min(k) AS k0 FROM v GROUP BY 1, 2, 3)),
         |dn AS (SELECT user_id, day, CAST(count(*) AS BIGINT) AS n_nodes
         |       FROM rk GROUP BY 1, 2 HAVING count(*) <= 6),
         |e AS (SELECT t.user_id, t.day, ri.r AS i, rj.r AS j
         |      FROM tr t
         |      JOIN dn ON dn.user_id = t.user_id AND dn.day = t.day
         |      JOIN rk ri ON ri.user_id = t.user_id AND ri.day = t.day AND ri.loc = t.f
         |      JOIN rk rj ON rj.user_id = t.user_id AND rj.day = t.day AND rj.loc = t.t),
         |mk AS (SELECT user_id, day,
         |              CAST(sum(CAST(1 AS BIGINT) << CAST(i * 6 + j AS INT)) AS BIGINT) AS mask,
         |              CAST(count(*) AS BIGINT) AS n_edges
         |       FROM e GROUP BY 1, 2),
         |dys AS (SELECT dn.user_id, dn.day, dn.n_nodes,
         |               coalesce(mk.n_edges, 0) AS n_edges, coalesce(mk.mask, 0) AS mask
         |        FROM dn LEFT JOIN mk ON mk.user_id = dn.user_id AND mk.day = dn.day),
         |me AS (SELECT DISTINCT mk.mask, e.i, e.j
         |       FROM e JOIN mk ON mk.user_id = e.user_id AND mk.day = e.day),
         |dg AS (SELECT unnest(range(0, 6)) AS d),
         |pm AS (SELECT [a.d, b.d, c.d, e2.d, f.d, g.d] AS p
         |       FROM dg a, dg b, dg c, dg e2, dg f, dg g
         |       WHERE a.d <> b.d AND a.d <> c.d AND a.d <> e2.d AND a.d <> f.d AND a.d <> g.d
         |         AND b.d <> c.d AND b.d <> e2.d AND b.d <> f.d AND b.d <> g.d
         |         AND c.d <> e2.d AND c.d <> f.d AND c.d <> g.d
         |         AND e2.d <> f.d AND e2.d <> g.d AND f.d <> g.d),
         |cn AS (SELECT mask, CAST(min(pmsum) AS BIGINT) AS motif_id FROM (
         |         SELECT me.mask, pm.p,
         |                CAST(sum(CAST(1 AS BIGINT) <<
         |                  CAST(p[CAST(me.i AS INT) + 1] * 6 + p[CAST(me.j AS INT) + 1] AS INT))
         |                  AS BIGINT) AS pmsum
         |         FROM me, pm GROUP BY me.mask, pm.p)
         |       GROUP BY mask)
         |SELECT d.n_nodes, d.n_edges, CAST(coalesce(cn.motif_id, 0) AS BIGINT) AS motif_id,
         |       CAST(count(*) AS BIGINT) AS n_user_days
         |FROM dys d LEFT JOIN cn ON cn.mask = d.mask
         |GROUP BY 1, 2, 3""".stripMargin
    },
    Gate("mobility_motifs") { (s, dir) =>
      val sp = blockLocations(s, dir)
      Metrics.mobilityMotifs(sp)
    } {
      // Schneider daily motifs: ordered day sequence, consecutive-repeat
      // collapse and first-appearance relabel as pure list ops (1-based
      // lambda index in DuckDB, 0-based in Spark — both written explicitly)
      s"""${EventsAdapter.pfsSql},
         |v AS (
         |  SELECT user_id, s_us // 86400000000 AS day, s_us AS t, id AS i,
         |         (k // 12) % 4 AS l
         |  FROM intervals),
         |g AS (
         |  SELECT user_id, day, list(l ORDER BY t, i) AS seq
         |  FROM v GROUP BY user_id, day),
         |c AS (
         |  SELECT user_id, day,
         |    list_filter(seq, (x, i) -> i = 1 OR x != seq[i - 1]) AS cl
         |  FROM g),
         |f AS (
         |  SELECT user_id, day, cl,
         |    list_filter(cl, (x, i) -> list_position(list_slice(cl, 1, i - 1), x) = 0) AS firsts
         |  FROM c),
         |m AS (
         |  SELECT array_to_string(list_transform(cl, x -> list_position(firsts, x)), '-') AS motif,
         |    CAST(len(cl) AS BIGINT) AS n_visits, CAST(len(firsts) AS BIGINT) AS n_distinct
         |  FROM f)
         |SELECT motif, n_visits, n_distinct, CAST(count(*) AS BIGINT) AS n_user_days
         |FROM m GROUP BY 1, 2, 3""".stripMargin
    },
    Gate("returners_explorers") { (s, dir) =>
      Metrics.kRadiusGyration(blockLocations(s, dir), kTop = 2)
    } {
      // Pappalardo returners/explorers: rg twice (all visits; top-2
      // locations only), floored-metre comparison for the flag
      s"""${EventsAdapter.pfsSql}, sp AS (
         |  SELECT id, user_id, lon, lat, (k // 12) % 4 AS loc FROM intervals),
         |cnts AS (
         |  SELECT user_id, loc, CAST(count(*) AS BIGINT) AS n FROM sp GROUP BY user_id, loc),
         |topk AS (
         |  SELECT user_id, loc FROM (
         |    SELECT user_id, loc,
         |           row_number() OVER (PARTITION BY user_id ORDER BY n DESC, loc) AS rk
         |    FROM cnts) WHERE rk <= 2),
         |cent AS (
         |  SELECT user_id, sum(lon * 1.0) / sum(1.0) AS cx, sum(lat * 1.0) / sum(1.0) AS cy
         |  FROM sp GROUP BY user_id),
         |rga AS (
         |  SELECT i.user_id,
         |    CAST(floor(sqrt(sum(pow(${hav("i.lon", "i.lat", "c.cx", "c.cy")}, 2) * 1.0) / sum(1.0))) AS BIGINT) AS rg_m
         |  FROM sp i JOIN cent c ON i.user_id = c.user_id
         |  GROUP BY i.user_id),
         |spk AS (
         |  SELECT s.user_id, s.lon, s.lat FROM sp s
         |  JOIN topk t ON s.user_id = t.user_id AND s.loc = t.loc),
         |centk AS (
         |  SELECT user_id, sum(lon * 1.0) / sum(1.0) AS cx, sum(lat * 1.0) / sum(1.0) AS cy
         |  FROM spk GROUP BY user_id),
         |rgk AS (
         |  SELECT i.user_id,
         |    CAST(floor(sqrt(sum(pow(${hav("i.lon", "i.lat", "c.cx", "c.cy")}, 2) * 1.0) / sum(1.0))) AS BIGINT) AS rgk_m
         |  FROM spk i JOIN centk c ON i.user_id = c.user_id
         |  GROUP BY i.user_id)
         |SELECT a.user_id, a.rg_m, k.rgk_m, (k.rgk_m * 2 >= a.rg_m) AS is_returner
         |FROM rga a JOIN rgk k ON a.user_id = k.user_id""".stripMargin
    },
    Gate("location_growth_fit") { (s, dir) =>
      Metrics.locationGrowthFit(blockLocations(s, dir))
    } {
      // Song exploration curve S(t) ~ t^mu: heaps_fit's cumulative-spine
      // lnq-OLS over (visit index, new-location discoveries)
      s"""${EventsAdapter.pfsSql}, sp AS (
         |  SELECT user_id, k, (k // 12) % 4 AS loc FROM intervals),
         |fo AS (
         |  SELECT min(k) AS fk FROM sp GROUP BY user_id, loc),
         |ns AS (SELECT fk // 8 AS bucket, CAST(count(*) AS BIGINT) AS ns FROM fo GROUP BY fk // 8),
         |nt AS (SELECT k // 8 AS bucket, CAST(count(*) AS BIGINT) AS nt FROM sp GROUP BY k // 8),
         |cum AS (
         |  SELECT nt.bucket,
         |         sum(coalesce(ns.ns, 0)) OVER (ORDER BY nt.bucket ROWS UNBOUNDED PRECEDING) AS v,
         |         sum(nt.nt) OVER (ORDER BY nt.bucket ROWS UNBOUNDED PRECEDING) AS n
         |  FROM nt LEFT JOIN ns ON nt.bucket = ns.bucket),
         |xy AS (
         |  SELECT CAST(floor(ln(CAST(n AS DOUBLE)) * 1e6) AS BIGINT) AS x,
         |         CAST(floor(ln(CAST(v AS DOUBLE)) * 1e6) AS BIGINT) AS y
         |  FROM cum),
         |${wideOlsFitSql("n_points", "beta", "log_k")}""".stripMargin
    },
    Gate("uniqueness_risk") { (s, dir) =>
      Metrics.uniquenessRisk(blockLocations(s, dir), kTop = 2)
    } {
      // de Montjoye top-2-location anonymity-set histogram
      s"""${EventsAdapter.pfsSql}, sp AS (
         |  SELECT user_id, (k // 12) % 4 AS loc FROM intervals),
         |cnt AS (
         |  SELECT user_id, loc, CAST(count(*) AS BIGINT) AS n FROM sp GROUP BY user_id, loc),
         |rk AS (
         |  SELECT user_id, loc,
         |         row_number() OVER (PARTITION BY user_id ORDER BY n DESC, loc) AS r
         |  FROM cnt),
         |sig AS (
         |  SELECT user_id,
         |         CAST(coalesce(max(CASE WHEN r = 1 THEN loc END), -1) AS BIGINT) AS l1,
         |         CAST(coalesce(max(CASE WHEN r = 2 THEN loc END), -1) AS BIGINT) AS l2
         |  FROM rk WHERE r <= 2 GROUP BY user_id),
         |ss AS (SELECT l1, l2, CAST(count(*) AS BIGINT) AS sz FROM sig GROUP BY l1, l2)
         |SELECT sz AS set_size, CAST(count(*) AS BIGINT) AS n_signatures,
         |       CAST(sum(sz) AS BIGINT) AS n_users
         |FROM ss GROUP BY sz""".stripMargin
    },
    Gate("location_freq") { (s, dir) =>
      val sp = blockLocations(s, dir)
      LocationLabelling.freqMethod(sp).select(col("id"), col("purpose"))
    } {
      s"""${EventsAdapter.pfsSql}, sp AS (
         |  SELECT id, user_id, s_us, f_us, (k // 12) % 4 AS loc FROM intervals
         |), per AS (
         |  SELECT user_id, loc, sum(f_us - s_us) AS tot FROM sp GROUP BY user_id, loc
         |), ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY tot DESC, loc) AS rk FROM per)
         |SELECT s.id, CASE r.rk WHEN 1 THEN 'home' WHEN 2 THEN 'work' END AS purpose
         |FROM sp s LEFT JOIN ranked r ON s.user_id = r.user_id AND s.loc = r.loc""".stripMargin
    },
    Gate("location_rank_curve") { (s, dir) =>
      Metrics.locationRankCurve(blockLocations(s, dir))
    } {
      // Gonzalez visit-frequency rank curve: per-user ranks off the
      // bounded (user, loc) count table, pooled corpus-wide
      s"""${EventsAdapter.pfsSql}, sp AS (
         |  SELECT user_id, (k // 12) % 4 AS loc FROM intervals),
         |cnt AS (
         |  SELECT user_id, loc, CAST(count(*) AS BIGINT) AS n FROM sp GROUP BY user_id, loc),
         |rk AS (
         |  SELECT user_id, loc, n,
         |         CAST(row_number() OVER (PARTITION BY user_id ORDER BY n DESC, loc) AS BIGINT) AS rank
         |  FROM cnt),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM rk)
         |SELECT rank, CAST(count(*) AS BIGINT) AS n_users,
         |       CAST(sum(n) AS BIGINT) AS sum_visits,
         |       CAST(sum(n) AS DOUBLE) / CAST(tot.tot AS DOUBLE) AS visit_share
         |FROM rk, tot GROUP BY rank, tot.tot""".stripMargin
    },
    Gate("home_stay_share") { (s, dir) =>
      Metrics.homeStayShare(blockLocations(s, dir))
    } {
      // FREQ-home dwell share: rank-1 total-dwell location over the same
      // bounded per-(user, loc) table
      s"""${EventsAdapter.pfsSql}, sp AS (
         |  SELECT user_id, (k // 12) % 4 AS loc, f_us - s_us AS dur FROM intervals),
         |per AS (
         |  SELECT user_id, loc, CAST(sum(dur) AS BIGINT) AS total
         |  FROM sp GROUP BY user_id, loc),
         |rk AS (
         |  SELECT user_id, loc, total,
         |         row_number() OVER (PARTITION BY user_id ORDER BY total DESC, loc) AS r
         |  FROM per)
         |SELECT user_id,
         |  CAST(max(CASE WHEN r = 1 THEN loc END) AS BIGINT) AS home_loc,
         |  CAST(max(CASE WHEN r = 1 THEN total END) AS BIGINT) AS home_us,
         |  CAST(sum(total) AS BIGINT) AS total_us,
         |  CAST(max(CASE WHEN r = 1 THEN total END) AS DOUBLE)
         |    / CAST(sum(total) AS DOUBLE) AS home_share
         |FROM rk GROUP BY user_id""".stripMargin
    },
    Gate("location_osna") { (s, dir) =>
      val sp = blockLocations(s, dir)
      LocationLabelling.osnaMethod(sp).select(col("id"), col("purpose"))
    } {
      s"""${EventsAdapter.pfsSql}, sp AS (
         |  SELECT id, user_id, s_us, f_us, (k // 12) % 4 AS loc,
         |         make_timestamp(s_us + (f_us - s_us) // 2) AS mt
         |  FROM intervals
         |), $osnaFramesCtes
         |), agg AS (
         |  SELECT user_id, loc,
         |         sum(CASE WHEN grp = 'home' THEN dur ELSE 0.0 END) AS h,
         |         sum(CASE WHEN grp = 'work' THEN dur ELSE 0.0 END) AS wk,
         |         max(CASE WHEN grp = 'home' THEN 1 ELSE 0 END) AS has_h,
         |         max(CASE WHEN grp = 'work' THEN 1 ELSE 0 END) AS has_w
         |  FROM frames GROUP BY user_id, loc
         |), ranked AS (
         |  SELECT *,
         |    row_number() OVER (PARTITION BY user_id ORDER BY h DESC, loc) AS hr,
         |    row_number() OVER (PARTITION BY user_id ORDER BY wk DESC, loc) AS wr
         |  FROM agg
         |), marked AS (
         |  SELECT *, (hr = 1 AND has_h = 1) AS is_home, (wr = 1 AND has_w = 1) AS is_work_raw FROM ranked
         |), resolved AS (
         |  SELECT *,
         |    max(CASE WHEN is_home AND is_work_raw THEN 1 ELSE 0 END) OVER (PARTITION BY user_id) AS conflict,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY (CASE WHEN is_home THEN -1.0 ELSE wk END) DESC, loc) AS wr2
         |  FROM marked
         |), final AS (
         |  SELECT user_id, loc,
         |    CASE WHEN is_home THEN 'home'
         |         WHEN (CASE WHEN conflict = 1
         |                    THEN (NOT is_home AND wr2 = 1 AND has_w = 1 AND wk > 0.0)
         |                    ELSE is_work_raw END) THEN 'work' END AS purpose
         |  FROM resolved)
         |SELECT s.id, f.purpose
         |FROM sp s LEFT JOIN final f ON s.user_id = f.user_id AND s.loc = f.loc""".stripMargin
    },
    // FREQ-vs-OSNA home agreement rate — the sanity card before either
    // label feeds commute/home-attachment analytics
    Gate("home_agreement") { (s, dir) =>
      val sp = blockLocations(s, dir)
      LocationLabelling.homeAgreement(sp)
    } {
      // FREQ home (max total dwell) vs OSNA home (the chain above) per
      // user; denominator = users holding a home under BOTH methods
      s"""${EventsAdapter.pfsSql}, sp AS (
         |  SELECT id, user_id, s_us, f_us, (k // 12) % 4 AS loc,
         |         make_timestamp(s_us + (f_us - s_us) // 2) AS mt
         |  FROM intervals
         |), fper AS (
         |  SELECT user_id, loc, sum(f_us - s_us) AS tot FROM sp GROUP BY user_id, loc
         |), frk AS (
         |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY tot DESC, loc) AS rk FROM fper
         |), fhome AS (
         |  SELECT user_id, loc AS floc FROM frk WHERE rk = 1
         |), $osnaFramesCtes
         |), agg AS (
         |  SELECT user_id, loc,
         |         sum(CASE WHEN grp = 'home' THEN dur ELSE 0.0 END) AS h,
         |         max(CASE WHEN grp = 'home' THEN 1 ELSE 0 END) AS has_h
         |  FROM frames GROUP BY user_id, loc
         |), oranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY h DESC, loc) AS hr
         |  FROM agg
         |), ohome AS (
         |  SELECT user_id, loc AS oloc FROM oranked WHERE hr = 1 AND has_h = 1
         |), j AS (
         |  SELECT f.user_id, CASE WHEN f.floc = o.oloc THEN 1 ELSE 0 END AS agree
         |  FROM fhome f JOIN ohome o USING (user_id))
         |SELECT CAST(count(*) AS BIGINT) AS n_users,
         |       CAST(sum(agree) AS BIGINT) AS n_agree,
         |       CAST(CASE WHEN count(*) = 0 THEN 0
         |                 ELSE (1000000 * sum(agree)) // count(*) END AS BIGINT) AS agree_ppm
         |FROM j""".stripMargin
    },
    Gate("pre_filter_locations") { (s, dir) =>
      val sp = blockLocations(s, dir)
      LocationLabelling.preFilterLocations(sp).select(col("id"), col("keep"))
    } {
      s"""${EventsAdapter.pfsSql}, sp AS (
         |  SELECT id, user_id, s_us, f_us, (k // 12) % 4 AS loc FROM intervals
         |), u AS (
         |  SELECT user_id,
         |         (count(DISTINCT s_us) >= 10 AND count(DISTINCT loc) >= 10) AS user_ok
         |  FROM sp GROUP BY user_id
         |), l AS (
         |  SELECT user_id, loc,
         |         (count(s_us) >= 10) AND (sum(f_us - s_us) >= 3600000000.0)
         |           AND (CAST(max(f_us) - min(s_us) AS DOUBLE) >= 18000000000.0) AS loc_ok
         |  FROM sp GROUP BY user_id, loc)
         |SELECT s.id, (coalesce(u.user_ok, false) AND coalesce(l.loc_ok, false)) AS keep
         |FROM sp s LEFT JOIN u ON s.user_id = u.user_id
         |          LEFT JOIN l ON s.user_id = l.user_id AND s.loc = l.loc""".stripMargin
    },
    Gate("modal_split") { (s, dir) =>
      val tplsLike = EventsAdapter.events(s, dir)
        .select(col("user_id"), col("event_type").as("mode"),
          timestamp_micros(col("t_us")).as("started_at"), timestamp_micros(col("t_us")).as("finished_at"))
      Metrics.calculateModalSplit(tplsLike, metric = "count", perUser = true)
    } {
      """SELECT user_id,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS DOUBLE) AS click,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS DOUBLE) AS error,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS DOUBLE) AS purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS DOUBLE) AS signup,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS DOUBLE) AS view
        |FROM events GROUP BY user_id""".stripMargin
    },
    Gate("modal_split_daily") { (s, dir) =>
      val tplsLike = EventsAdapter.events(s, dir)
        .select(col("user_id"), col("event_type").as("mode"),
          timestamp_micros(col("t_us")).as("started_at"), timestamp_micros(col("t_us")).as("finished_at"))
      Metrics.calculateModalSplit(tplsLike, metric = "count", freq = Some("D"),
        perUser = true, norm = true)
        .withColumn("ts_us", unix_micros(col("timestamp"))).drop("timestamp")
    } {
      """WITH p AS (
        |  SELECT user_id, date_trunc('day', ts) AS d,
        |    sum(CASE WHEN event_type = 'click' THEN 1.0 ELSE 0.0 END) AS click,
        |    sum(CASE WHEN event_type = 'error' THEN 1.0 ELSE 0.0 END) AS error,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END) AS purchase,
        |    sum(CASE WHEN event_type = 'signup' THEN 1.0 ELSE 0.0 END) AS signup,
        |    sum(CASE WHEN event_type = 'view' THEN 1.0 ELSE 0.0 END) AS view
        |  FROM events GROUP BY user_id, d)
        |SELECT user_id, epoch_us(d) AS ts_us,
        |  click / (click + error + purchase + signup + view) AS click,
        |  error / (click + error + purchase + signup + view) AS error,
        |  purchase / (click + error + purchase + signup + view) AS purchase,
        |  signup / (click + error + purchase + signup + view) AS signup,
        |  view / (click + error + purchase + signup + view) AS view
        |FROM p""".stripMargin
    }
  )
}
