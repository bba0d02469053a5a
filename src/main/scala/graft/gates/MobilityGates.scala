package graft.gates

import graft.Pipeline
import graft.operators._
import graft.sources.EventsAdapter
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Shared.{blockLocations, hav, staypointSegmentsCte, withMaterializedCtes}

/** The trackintel chain: positionfixes, staypoints, triplegs, trips,
  * locations and tours, and the gates that read the chain's memos.
  */
private[graft] object MobilityGates {

  /** The sliding staypoint detector as SQL: per-user fixes in time order;
    * the anchor set is the fixpoint of "next anchor = first later fix
    * ≥ distM from the current anchor" (a recursive CTE — each recursion
    * step is one anchor jump). A segment [anchor, breach) emits a
    * staypoint iff the breach fix is ≥ timeUs after the anchor; the tail
    * segment emits against the user's last fix (includeLast). The checked
    * membership surface dedups on e6-QUANTIZED integer coordinates on
    * both sides (Spark quantizes then `.distinct()`; the oracle DISTINCTs
    * the same `floor(x*1e6+0.5)` integers) so the dedup domains are
    * identical by construction — raw-double DISTINCT diverges when
    * engine arithmetic differs in the last ulp. Gap handling is omitted:
    * the pipeline runs with the gap threshold disabled.
    *
    * The coordinate sums are CAST back to BIGINT: DuckDB `sum(BIGINT)`
    * returns HUGEINT (arrow decimal128(38,0)), and a type-aware hash of
    * the oracle result then diverges from Spark's int64 column even when
    * every value is identical.
    */
  private def staypointsOracle(distM: Double, timeUs: Long): String =
    s"""${staypointSegmentsCte(distM, timeUs)},
       |cent AS (
       |  SELECT k2.u, k2.a_t, k2.f_t,
       |    (SELECT CAST(sum(qx) AS BIGINT)
       |       FROM (SELECT DISTINCT CAST(floor(lon * 1000000.0 + 0.5) AS BIGINT) AS qx,
       |                             CAST(floor(lat * 1000000.0 + 0.5) AS BIGINT) AS qy FROM fx
       |             WHERE user_id = k2.u AND kk BETWEEN k2.a AND k2.mend)) AS lon_sum_e6,
       |    (SELECT CAST(sum(qy) AS BIGINT)
       |       FROM (SELECT DISTINCT CAST(floor(lon * 1000000.0 + 0.5) AS BIGINT) AS qx,
       |                             CAST(floor(lat * 1000000.0 + 0.5) AS BIGINT) AS qy FROM fx
       |             WHERE user_id = k2.u AND kk BETWEEN k2.a AND k2.mend)) AS lat_sum_e6,
       |    (SELECT count(*)
       |       FROM (SELECT DISTINCT CAST(floor(lon * 1000000.0 + 0.5) AS BIGINT) AS qx,
       |                             CAST(floor(lat * 1000000.0 + 0.5) AS BIGINT) AS qy FROM fx
       |             WHERE user_id = k2.u AND kk BETWEEN k2.a AND k2.mend)) AS n_uniq
       |  FROM kept k2)
       |SELECT CAST(row_number() OVER (ORDER BY u, a_t, f_t) - 1 AS BIGINT) AS id,
       |       u AS user_id, a_t AS s_us, f_t AS f_us,
       |       lon_sum_e6, lat_sum_e6, CAST(n_uniq AS BIGINT) AS n_uniq
       |FROM cent""".stripMargin

  /** Tripleg generation as SQL: TriplegGenerator's segmentation in
    * window form (new-tripleg flags, cumulative segment ids, >= 2-fix
    * filter) over fixes annotated with their containing kept staypoint.
    * Extends the staypoint chain with `szok(user_id, seg, n, s_us, f_us)`.
    */
  private def triplegSegmentsCte(distM: Double, timeUs: Long): String =
    s"""${staypointSegmentsCte(distM, timeUs)},
       |pfs2 AS (
       |  SELECT f.user_id, f.kk, f.t_us, f.lon, f.lat, sp.sp_id
       |  FROM fx f LEFT JOIN (
       |    SELECT row_number() OVER (ORDER BY u, a_t, f_t) - 1 AS sp_id, u, a, mend FROM kept) sp
       |    ON sp.u = f.user_id AND f.kk BETWEEN sp.a AND sp.mend),
       |flg AS (
       |  SELECT *, lag(kk) OVER w IS NULL AS new_user,
       |         coalesce(sp_id + 1, 0) AS stp, lag(coalesce(sp_id + 1, 0)) OVER w AS prev_stp
       |  FROM pfs2 WINDOW w AS (PARTITION BY user_id ORDER BY t_us, kk)),
       |starts AS (
       |  SELECT *, CASE WHEN (new_user OR stp IS DISTINCT FROM prev_stp) AND sp_id IS NULL
       |                 THEN 1 ELSE 0 END AS st
       |  FROM flg),
       |segd AS (
       |  SELECT *, sum(st) OVER (PARTITION BY user_id ORDER BY t_us, kk ROWS UNBOUNDED PRECEDING) AS seg
       |  FROM starts),
       |cand AS (SELECT * FROM segd WHERE sp_id IS NULL AND seg >= 1),
       |szok AS (
       |  SELECT user_id, seg, count(*) AS n, min(t_us) AS s_us, max(t_us) AS f_us
       |  FROM cand GROUP BY user_id, seg HAVING count(*) >= 2)""".stripMargin

  private def triplegsOracle(distM: Double, timeUs: Long): String =
    s"""${triplegSegmentsCte(distM, timeUs)},
       |lenq AS (
       |  SELECT user_id, seg, sum(seglen) AS len FROM (
       |    SELECT user_id, seg,
       |           CASE WHEN lag(lon) OVER w2 IS NULL THEN NULL
       |                ELSE ${hav("lag(lon) OVER w2", "lag(lat) OVER w2", "lon", "lat")} END AS seglen
       |    FROM cand WINDOW w2 AS (PARTITION BY user_id, seg ORDER BY t_us, kk))
       |  GROUP BY user_id, seg)
       |SELECT CAST(row_number() OVER (ORDER BY z.user_id, z.s_us) - 1 AS BIGINT) AS id,
       |       z.user_id, z.s_us, z.f_us, CAST(z.n AS BIGINT) AS n_points,
       |       CAST(floor(coalesce(l.len, 0.0)) AS BIGINT) AS length_m
       |FROM szok z JOIN lenq l ON l.user_id = z.user_id AND l.seg = z.seg""".stripMargin

  /** overlap_staypoints triplegs as SQL: the between segmentation
    * (triplegSegmentsCte) plus the overlap extensions
    * (positionfixes.py:417-477) — a tripleg's time span and geometry gain
    * the first fix of the following staypoint when no gap separates them,
    * and its geometry gains the last fix of the preceding staypoint
    * unless that fix was already claimed by the tripleg before it (the
    * single-fix-staypoint rule). Checked surface is integer-exact: ids,
    * extended time spans, point counts; the centroid coordinates the
    * overlap points carry are trig-valued and spec-gated
    * (TriplegTripSpec).
    */
  private def triplegsOverlapOracle(distM: Double, timeUs: Long, gapUs: Long): String =
    s"""${triplegSegmentsCte(distM, timeUs)},
       |vmx AS (
       |  SELECT c.user_id, c.kk, c.t_us, c.seg FROM cand c
       |  JOIN szok z ON z.user_id = c.user_id AND z.seg = c.seg),
       |tplk AS (
       |  SELECT row_number() OVER (ORDER BY z.user_id, z.s_us) - 1 AS id,
       |         z.user_id, z.seg, z.n, z.s_us, z.f_us, m.k0, m.k1
       |  FROM szok z JOIN (
       |    SELECT user_id, seg, min(kk) AS k0, max(kk) AS k1 FROM vmx GROUP BY user_id, seg) m
       |    ON m.user_id = z.user_id AND m.seg = z.seg),
       |ovx AS (
       |  SELECT t.id, t.user_id, t.s_us, t.n,
       |    CASE WHEN spe.u IS NOT NULL AND fe.t_us - t.f_us <= $gapUs
       |         THEN fe.t_us ELSE t.f_us END AS f_us,
       |    CASE WHEN spe.u IS NOT NULL AND fe.t_us - t.f_us <= $gapUs THEN 1 ELSE 0 END AS e_ext,
       |    CASE WHEN sps.u IS NOT NULL AND fs.kk >= 1 AND t.s_us - fs.t_us <= $gapUs
       |           AND NOT EXISTS (SELECT 1 FROM vmx v
       |             WHERE v.user_id = t.user_id AND v.kk = fs.kk - 1 AND fs.t_us - v.t_us <= $gapUs)
       |         THEN 1 ELSE 0 END AS s_ext
       |  FROM tplk t
       |  LEFT JOIN fx fe ON fe.user_id = t.user_id AND fe.kk = t.k1 + 1
       |  LEFT JOIN kept spe ON spe.u = t.user_id AND fe.kk BETWEEN spe.a AND spe.mend
       |  LEFT JOIN fx fs ON fs.user_id = t.user_id AND fs.kk = t.k0 - 1
       |  LEFT JOIN kept sps ON sps.u = t.user_id AND fs.kk BETWEEN sps.a AND sps.mend)
       |SELECT id, user_id, s_us, f_us, CAST(n + e_ext + s_ext AS BIGINT) AS n_points
       |FROM ovx""".stripMargin

  /** Trip generation as SQL: TripGenerator's interleaved
    * staypoint/tripleg stream — new-trip flags at user boundaries and
    * after activity runs, trips = non-activity member groups with ≥ 1
    * tripleg, origin/destination from lag/lead over the trips +
    * activities + user-change stream. Gap handling omitted (disabled in
    * the pipeline parameters).
    */
  private def tripsOracle(distM: Double, timeUs: Long,
                          activityThresholdSec: Double, gapUs: Long): String =
    s"""${tripsCte(distM, timeUs, activityThresholdSec, gapUs)}
       |SELECT trip_id AS id, user_id, s_us, f_us, origin_staypoint_id, destination_staypoint_id
       |FROM shifted WHERE trip_id IS NOT NULL""".stripMargin

  /** CTE chain through TripGenerator's stream: ends with
    * `shifted(user_id, s_us, f_us, ord2, stid, trip_id, origin/destination_staypoint_id)`
    * plus `tt`, `tplt`, `sp3`, `kept`, `szok`, `cand`, `fx` upstream.
    */
  private def tripsCte(distM: Double, timeUs: Long,
                       activityThresholdSec: Double, gapUs: Long): String =
    s"""${triplegSegmentsCte(distM, timeUs)},
       |tplt AS (
       |  SELECT row_number() OVER (ORDER BY user_id, s_us) - 1 AS stid,
       |         user_id, seg, s_us, f_us FROM szok),
       |sp3 AS (
       |  SELECT row_number() OVER (ORDER BY u, a_t, f_t) - 1 AS stid,
       |         u AS user_id, a_t AS s_us, f_t AS f_us,
       |         ((f_t - a_t) / 1000000.0 > $activityThresholdSec) AS act
       |  FROM kept),
       |un AS (
       |  SELECT stid, user_id, s_us, f_us, act, 0 AS typ FROM sp3
       |  UNION ALL
       |  SELECT stid, user_id, s_us, f_us, false, 1 FROM tplt),
       |flagged AS (
       |  SELECT *, row_number() OVER w3 = 1 AS new_user,
       |         act AND NOT coalesce(lead(act) OVER w3, false) AS last_act
       |  FROM un WINDOW w3 AS (PARTITION BY user_id ORDER BY s_us, typ, stid)),
       |tt AS (
       |  SELECT *, sum(CASE WHEN new_user OR last_act THEN 1 ELSE 0 END)
       |           OVER (PARTITION BY user_id ORDER BY s_us, typ, stid ROWS UNBOUNDED PRECEDING) AS tmp
       |  FROM flagged),
       |trips0 AS (
       |  SELECT user_id, tmp, min(s_us) AS s_us, max(f_us) AS f_us
       |  FROM tt WHERE NOT act GROUP BY user_id, tmp
       |  HAVING sum(CASE WHEN typ = 1 THEN 1 ELSE 0 END) > 0),
       |tripid AS (
       |  SELECT row_number() OVER (ORDER BY user_id, tmp) - 1 AS trip_id, * FROM trips0),
       |stream AS (
       |  SELECT user_id, s_us, f_us, 0 AS ord2, CAST(NULL AS BIGINT) AS stid, trip_id FROM tripid
       |  UNION ALL
       |  SELECT user_id, s_us, f_us, 1, stid, NULL FROM tt WHERE act
       |  UNION ALL
       |  SELECT user_id, s_us - $gapUs // 2, NULL, 3, NULL, NULL FROM flagged WHERE new_user),
       |shifted AS (
       |  SELECT *, lag(stid) OVER w4 AS origin_staypoint_id,
       |         lead(stid) OVER w4 AS destination_staypoint_id
       |  FROM stream WINDOW w4 AS (PARTITION BY user_id ORDER BY s_us, ord2, stid NULLS FIRST))""".stripMargin

  /** DBSCAN locations as SQL (minPts = 1 → clusters are the connected
    * components of the ε-graph over staypoint centroids, computed by a
    * second recursive closure). The checked surface is the clustering:
    * (location id, user, member count, smallest member staypoint id) —
    * all integers. Centroid coordinates pass through trig (engine-ulp-
    * divergent) and only steer the ε decisions, where ulps are harmless;
    * the dissolve geometry itself is spec-gated (LocationMergeTourSpec).
    */
  /** Staypoint trig centroids `cent2(sid, user_id, c_lon, c_lat)` —
    * suffix over `kept`/`fx`.
    */
  private val cent2Cte: String =
    s"""cent2 AS (
       |  SELECT row_number() OVER (ORDER BY k2.u, k2.a_t, k2.f_t) - 1 AS sid,
       |    k2.u AS user_id,
       |    (SELECT degrees(atan2(list_sum(list(sin(radians(lon)) ORDER BY lon, lat)) / count(*),
       |                          list_sum(list(cos(radians(lon)) ORDER BY lon, lat)) / count(*)))
       |       FROM (SELECT DISTINCT lon, lat FROM fx
       |             WHERE user_id = k2.u AND kk BETWEEN k2.a AND k2.mend)) AS c_lon,
       |    (SELECT list_sum(list(lat ORDER BY lon, lat)) / count(*)
       |       FROM (SELECT DISTINCT lon, lat FROM fx
       |             WHERE user_id = k2.u AND kk BETWEEN k2.a AND k2.mend)) AS c_lat
       |  FROM kept k2)""".stripMargin

  /** ε-graph components over cent2: `rep(sid, user_id, rep)` and
    * `locs(user_id, rep, n_sp)` — suffix over cent2.
    */
  private def locationCompCte(epsM: Double): String =
    s"""pd AS (
       |  SELECT a.sid AS pa, b.sid AS pb FROM cent2 a JOIN cent2 b
       |  ON a.user_id = b.user_id AND a.sid < b.sid
       |     AND ${hav("a.c_lon", "a.c_lat", "b.c_lon", "b.c_lat")} <= $epsM),
       |und2 AS (SELECT pa AS a, pb AS b FROM pd UNION SELECT pb, pa FROM pd),
       |reach2(a, b) AS (
       |  SELECT a, b FROM und2
       |  UNION
       |  SELECT r.a, u2.b FROM reach2 r JOIN und2 u2 ON r.b = u2.a),
       |rep AS (
       |  SELECT s.sid, s.user_id, coalesce(least(s.sid, m.mb), s.sid) AS rep
       |  FROM cent2 s LEFT JOIN (SELECT a, min(b) AS mb FROM reach2 GROUP BY a) m ON m.a = s.sid),
       |locs AS (
       |  SELECT user_id, rep, count(*) AS n_sp FROM rep GROUP BY user_id, rep)""".stripMargin

  /** The location chain over the default staypoints: segments,
    * centroids and the 100 m location components, ending in
    * `rep(sid, user_id, rep)`.
    */
  private def locationVisitCtes: String =
    s"""${staypointSegmentsCte(Pipeline.staypointParams.distThresholdMeters,
          (Pipeline.staypointParams.timeThresholdMinutes * 60e6).toLong)},
       |$cent2Cte,
       |${locationCompCte(100.0)}""".stripMargin

  /** [[locationVisitCtes]] plus the visits in staypoint order:
    * `spk(sid, u, a_t, f_t)` and `rt`, each visit's `rtCols` over
    * `rep r` joined to `spk k`.
    */
  private def visitCtes(rtCols: String): String =
    s"""$locationVisitCtes,
       |spk AS (
       |  SELECT row_number() OVER (ORDER BY u, a_t, f_t) - 1 AS sid, u, a_t, f_t FROM kept),
       |rt AS (
       |  SELECT $rtCols
       |  FROM rep r JOIN spk k ON k.sid = r.sid)""".stripMargin

  /** Each user's visits as a symbol string `seqs(user_id, seq)`: a
    * location's symbol is its first-visit rank `rk(user_id, rep, rnk)`
    * as a letter.
    */
  private def symbolSeqCtes: String =
    s"""${visitCtes("r.user_id, r.rep, k.a_t, k.sid")},
       |fv AS (
       |  SELECT user_id, rep, min(a_t) AS fv_t, min(sid) AS fv_sid
       |  FROM rt GROUP BY user_id, rep),
       |rk AS (
       |  SELECT user_id, rep,
       |         row_number() OVER (PARTITION BY user_id ORDER BY fv_t, fv_sid) - 1 AS rnk
       |  FROM fv),
       |seqs AS (
       |  SELECT t.user_id, string_agg(chr(CAST(97 + rk.rnk AS INT)), '' ORDER BY t.a_t, t.sid) AS seq
       |  FROM rt t JOIN rk ON rk.user_id = t.user_id AND rk.rep = t.rep
       |  GROUP BY t.user_id)""".stripMargin

  private def locationsOracle(distM: Double, timeUs: Long, epsM: Double): String =
    s"""${staypointSegmentsCte(distM, timeUs)},
       |$cent2Cte,
       |${locationCompCte(epsM)}
       |SELECT CAST(row_number() OVER (ORDER BY user_id, rep) - 1 AS BIGINT) AS id,
       |       user_id, CAST(n_sp AS BIGINT) AS n_sp, rep AS min_sp_id
       |FROM locs""".stripMargin

  /** Tour generation as SQL (maxNrGaps = 0, both linking modes).
    *
    * With no gap budget the candidate stack degenerates to the current
    * *continuity run* (a discontinuous trip resets the stack to itself
    * and skips its closure scan), so the whole scan is expressible:
    *  - runs: cumulative sum over "not connected to previous trip";
    *  - the backward closure scan: candidates c in the same run with
    *    pos ≤ t.pos; the kernel breaks at the first too-old candidate —
    *    trip start times rise with pos, so that break is a prefix cutoff
    *    (max too-old pos); the winner is the *most recent* eligible
    *    closing candidate (arg_max by pos), one tour max per trip;
    *  - candidate-stack cropping in the kernel is memory management only
    *    (scans stop at too-old candidates regardless) — emission-neutral.
    *
    * Trip endpoints: staypoint trig centroid when the o/d staypoint is
    * known, else the first/last fix of the first/last member tripleg —
    * trig only steers the ≤ maxDist decisions (ulp-safe); the oracle
    * output surface is integers.
    */
  private def toursOracle(distM: Double, timeUs: Long, activityThresholdSec: Double,
                          gapUs: Long, maxTourDistM: Double, maxTourTimeUs: Long,
                          locationMode: Boolean, epsM: Double = 100.0): String = {
    val select = if (locationMode)
      "w.wloc AS location_id, CAST(w.tpos2 - w.wcpos + 1 AS BIGINT) AS n_trips"
    else
      "w.wcs AS s_us, w.wtf AS f_us, CAST(w.tpos2 - w.wcpos + 1 AS BIGINT) AS n_trips"
    s"""${toursChain(distM, timeUs, activityThresholdSec, gapUs, maxTourDistM, maxTourTimeUs,
          locationMode, epsM)}
       |SELECT CAST(row_number() OVER (ORDER BY w.user_id, w.tpos2) - 1 AS BIGINT) AS id,
       |       w.user_id, $select
       |FROM win w""".stripMargin
  }

  /** [[toursOracle]] over the pipeline's staypoint and trip parameters,
    * with 30-day tours.
    */
  private def pipelineToursOracle(maxTourDistM: Double, locationMode: Boolean): String =
    withMaterializedCtes(toursOracle(
      distM = Pipeline.staypointParams.distThresholdMeters,
      timeUs = (Pipeline.staypointParams.timeThresholdMinutes * 60e6).toLong,
      activityThresholdSec = 120.0 * 60.0, gapUs = (1e7 * 60e6).toLong,
      maxTourDistM = maxTourDistM, maxTourTimeUs = (30.0 * 86400e6).toLong,
      locationMode = locationMode))

  /** Each 12-fix block of the positionfixes as a tripleg: start, end
    * and its points in fix order.
    */
  private def blockTriplegs(s: SparkSession, dir: String): DataFrame =
    EventsAdapter.positionfixes(s, dir)
      .groupBy(col("user_id"), expr("k div 12").as("block"))
      .agg(
        min(col("tracked_at")).as("started_at"), max(col("tracked_at")).as("finished_at"),
        transform(array_sort(collect_list(struct(col("k"), col("lon"), col("lat")))),
          p => struct(p.getField("lon").as("lon"), p.getField("lat").as("lat"))).as("points"))

  /** The oracle side of [[blockTriplegs]]: each fix's haversine step from
    * the previous fix of its block, `segs(user_id, block, t_us, seg)`.
    */
  private def blockSegsCte: String =
    s"""${EventsAdapter.pfsSql}, segs AS (
       |  SELECT user_id, k // 12 AS block, t_us,
       |         CASE WHEN lag(lon) OVER w IS NULL THEN NULL
       |              ELSE ${hav("lag(lon) OVER w", "lag(lat) OVER w", "lon", "lat")} END AS seg
       |  FROM pfs WINDOW w AS (PARTITION BY user_id, k // 12 ORDER BY k)
       |)""".stripMargin

  /** The checked tour columns: ids, start and end in µs, trip count. */
  private def tourRows(tours: DataFrame): DataFrame =
    tours.select(col("id"), col("user_id"),
      unix_micros(col("started_at")).as("s_us"), unix_micros(col("finished_at")).as("f_us"),
      size(col("trips")).cast("long").as("n_trips"))

  /** Trips-of-each-tour oracle (get_trips_grouped, trips.py:12-51): under
    * maxNrGaps = 0 a tour's member trips are exactly the contiguous
    * candidate positions [wcpos, tpos2] of its run — the same slice whose
    * length the tours oracle checks as n_trips.
    */
  private def tripsGroupedOracle(distM: Double, timeUs: Long, activityThresholdSec: Double,
                                 gapUs: Long, maxTourDistM: Double, maxTourTimeUs: Long): String =
    s"""${toursChain(distM, timeUs, activityThresholdSec, gapUs, maxTourDistM, maxTourTimeUs,
          locationMode = false)},
       |tourx AS (
       |  SELECT row_number() OVER (ORDER BY w.user_id, w.tpos2) - 1 AS tour_id,
       |         w.user_id, w.tid, w.wcpos, w.tpos2 FROM win w)
       |SELECT tx.tour_id, r2.trip_id, r2.user_id, r2.s_us, r2.f_us,
       |       r2.osp AS origin_staypoint_id, r2.dsp AS destination_staypoint_id
       |FROM tourx tx
       |JOIN runs2 tr ON tr.user_id = tx.user_id AND tr.trip_id = tx.tid
       |JOIN runs2 r2 ON r2.user_id = tx.user_id AND r2.run = tr.run
       |             AND r2.pos BETWEEN tx.wcpos AND tx.tpos2""".stripMargin

  /** Prefix of the tour oracles: trips with per-user positions, endpoint
    * geometry and the connected-to-previous flag — ends at
    * `conn2(trip_id, user_id, s_us, f_us, osp, dsp, pos, o/d endpoints,
    * first_of_user, connected)`. Shared by [[toursChain]] (gaps = 0 run
    * closure) and [[toursGapsOracle]] (windowed scan recursion).
    */
  private def tourTripxChain(distM: Double, timeUs: Long, activityThresholdSec: Double,
                             gapUs: Long, maxTourDistM: Double,
                             locationMode: Boolean, epsM: Double = 100.0): String = {
    val endpointCtes =
      s"""$cent2Cte,
         |tplends AS (
         |  SELECT user_id, seg, arg_min(lon, kk) AS s_lon, arg_min(lat, kk) AS s_lat,
         |         arg_max(lon, kk) AS e_lon, arg_max(lat, kk) AS e_lat
         |  FROM cand GROUP BY user_id, seg),
         |tplpt AS (
         |  SELECT tp.stid, te.s_lon, te.s_lat, te.e_lon, te.e_lat
         |  FROM tplt tp JOIN tplends te ON te.user_id = tp.user_id AND te.seg = tp.seg),
         |trip_tpl AS (
         |  SELECT user_id, tmp,
         |         arg_min(stid, s_us) AS first_tpl,
         |         arg_max(stid, s_us) AS last_tpl
         |  FROM tt WHERE typ = 1 AND NOT act GROUP BY user_id, tmp)""".stripMargin
    val locCtes = if (locationMode)
      s""",
         |${locationCompCte(epsM)},
         |sploc AS (
         |  SELECT r.sid, lx.id AS loc FROM rep r JOIN
         |    (SELECT row_number() OVER (ORDER BY user_id, rep) - 1 AS id, user_id, rep FROM locs) lx
         |    ON lx.user_id = r.user_id AND lx.rep = r.rep)""".stripMargin
    else ""
    val tripxExtra = if (locationMode)
      """so.loc AS o_loc, sd.loc AS d_loc,
        |         CAST(NULL AS DOUBLE) AS o_lon, CAST(NULL AS DOUBLE) AS o_lat,
        |         CAST(NULL AS DOUBLE) AS d_lon, CAST(NULL AS DOUBLE) AS d_lat""".stripMargin
    else
      """CAST(NULL AS BIGINT) AS o_loc, CAST(NULL AS BIGINT) AS d_loc,
        |         CASE WHEN s.origin_staypoint_id IS NULL THEN fp.s_lon ELSE co.c_lon END AS o_lon,
        |         CASE WHEN s.origin_staypoint_id IS NULL THEN fp.s_lat ELSE co.c_lat END AS o_lat,
        |         CASE WHEN s.destination_staypoint_id IS NULL THEN lp.e_lon ELSE cd.c_lon END AS d_lon,
        |         CASE WHEN s.destination_staypoint_id IS NULL THEN lp.e_lat ELSE cd.c_lat END AS d_lat""".stripMargin
    val locJoins = if (locationMode)
      """LEFT JOIN sploc so ON so.sid = s.origin_staypoint_id
        |  LEFT JOIN sploc sd ON sd.sid = s.destination_staypoint_id""".stripMargin
    else
      """LEFT JOIN trip_tpl ttl ON ttl.user_id = s.user_id AND ttl.tmp = ti.tmp
        |  LEFT JOIN tplpt fp ON fp.stid = ttl.first_tpl
        |  LEFT JOIN tplpt lp ON lp.stid = ttl.last_tpl
        |  LEFT JOIN cent2 co ON co.sid = s.origin_staypoint_id
        |  LEFT JOIN cent2 cd ON cd.sid = s.destination_staypoint_id""".stripMargin
    val connPred = if (locationMode)
      "lag(d_loc) OVER wu IS NOT NULL AND o_loc IS NOT NULL AND lag(d_loc) OVER wu = o_loc"
    else
      s"lag(d_lon) OVER wu IS NOT NULL AND o_lon IS NOT NULL AND " +
        s"${hav("lag(d_lon) OVER wu", "lag(d_lat) OVER wu", "o_lon", "o_lat")} <= $maxTourDistM"
    s"""${tripsCte(distM, timeUs, activityThresholdSec, gapUs)},
       |$endpointCtes$locCtes,
       |tripx AS (
       |  SELECT s.trip_id, s.user_id, s.s_us, s.f_us,
       |         s.origin_staypoint_id AS osp, s.destination_staypoint_id AS dsp,
       |         row_number() OVER (PARTITION BY s.user_id ORDER BY s.s_us, s.trip_id) AS pos,
       |         $tripxExtra
       |  FROM shifted s
       |  JOIN tripid ti ON ti.user_id = s.user_id AND ti.trip_id = s.trip_id
       |  $locJoins
       |  WHERE s.trip_id IS NOT NULL),
       |conn2 AS (
       |  SELECT *, row_number() OVER wu = 1 AS first_of_user,
       |         ($connPred) AS connected
       |  FROM tripx WINDOW wu AS (PARTITION BY user_id ORDER BY s_us, trip_id))""".stripMargin
  }

  /** CTE chain through the tour closure scan, ending at
    * `win(user_id, tid, wcpos, wcs, wloc, wtf, tpos2)`; shared by
    * [[toursOracle]] and [[tripsGroupedOracle]]. Valid ONLY for
    * maxNrGaps = 0 (run-based closure).
    */
  private def toursChain(distM: Double, timeUs: Long, activityThresholdSec: Double,
                         gapUs: Long, maxTourDistM: Double, maxTourTimeUs: Long,
                         locationMode: Boolean, epsM: Double = 100.0): String = {
    val closePred = if (locationMode)
      "c2.c_o_loc IS NOT NULL AND c2.t_d_loc IS NOT NULL AND c2.c_o_loc = c2.t_d_loc"
    else
      s"c2.c_o_lon IS NOT NULL AND c2.t_d_lon IS NOT NULL AND " +
        s"${hav("c2.c_o_lon", "c2.c_o_lat", "c2.t_d_lon", "c2.t_d_lat")} <= $maxTourDistM"
    s"""${tourTripxChain(distM, timeUs, activityThresholdSec, gapUs, maxTourDistM,
          locationMode, epsM)},
       |runs2 AS (
       |  SELECT *, sum(CASE WHEN first_of_user OR NOT coalesce(connected, false) THEN 1 ELSE 0 END)
       |           OVER (PARTITION BY user_id ORDER BY s_us, trip_id ROWS UNBOUNDED PRECEDING) AS run,
       |         (NOT first_of_user AND NOT coalesce(connected, false)) AS reset_start
       |  FROM conn2),
       |cand3 AS (
       |  SELECT t.user_id, t.trip_id AS tid, t.pos AS tpos, t.f_us AS tf,
       |         t.d_lon AS t_d_lon, t.d_lat AS t_d_lat, t.d_loc AS t_d_loc,
       |         c.trip_id AS cid, c.pos AS cpos, c.s_us AS cs, c.osp AS cosp,
       |         c.o_lon AS c_o_lon, c.o_lat AS c_o_lat, c.o_loc AS c_o_loc
       |  FROM runs2 t JOIN runs2 c
       |    ON c.user_id = t.user_id AND c.run = t.run AND c.pos <= t.pos
       |  WHERE NOT t.reset_start AND t.dsp IS NOT NULL),
       |cut3 AS (
       |  SELECT user_id, tid, max(CASE WHEN tf - cs > $maxTourTimeUs THEN cpos END) AS cutoff
       |  FROM cand3 GROUP BY user_id, tid),
       |elig AS (
       |  SELECT c2.* FROM cand3 c2
       |  LEFT JOIN cut3 ct ON ct.user_id = c2.user_id AND ct.tid = c2.tid
       |  WHERE (ct.cutoff IS NULL OR c2.cpos > ct.cutoff) AND c2.cosp IS NOT NULL
       |    AND ($closePred)),
       |win AS (
       |  SELECT e.user_id, e.tid, max(e.cpos) AS wcpos, arg_max(e.cs, e.cpos) AS wcs,
       |         arg_max(e.c_o_loc, e.cpos) AS wloc,
       |         arg_max(e.tf, e.cpos) AS wtf, arg_max(e.tpos, e.cpos) AS tpos2
       |  FROM elig e GROUP BY e.user_id, e.tid)""".stripMargin
  }

  /** Tour generation with a NONZERO gap budget as SQL (distance mode).
    *
    * With gaps allowed the candidate stack is no longer a continuity run,
    * but it is still a *contiguous window* of the gap-marker-interleaved
    * trip sequence, and every scan decision is computable from static
    * tables plus one scalar of evolving state — the window start `w`:
    *  - markers sit between consecutive non-connected trips, a property
    *    of the trip pair only (never of the stack), so virtual positions
    *    `vpos` (trips + markers) and marker counts are window functions;
    *  - budget exclusion is monotone (markers only accumulate) and age
    *    exclusion is monotone (end times only grow), so the backward scan
    *    of trip p stops at the HIGHEST of three positions: the
    *    (g+1)-th marker below p (budget break), the newest too-old
    *    candidate (age break — starts rise with pos, so too-old trips are
    *    a prefix), and the newest closing candidate (emit);
    *  - the two crops move `w` exactly as the kernel does, including the
    *    reference's asymmetric indices (trips.py:289-340): a budget break
    *    at backward index j drops j+1 entries from the FRONT, an age
    *    break keeps from the too-old candidate on;
    * so the whole scan is a per-user linear recursion over trips carrying
    * `w` — a recursive CTE of the same shape as the staypoint anchor
    * jump. Emissions (tour rows) fall out of the recursion; members are
    * the trips in [closing candidate, p], bridged gaps included.
    */
  private def toursGapsOracle(distM: Double, timeUs: Long, activityThresholdSec: Double,
                              gapUs: Long, maxTourDistM: Double, maxTourTimeUs: Long,
                              maxNrGaps: Int): String = {
    val closeFilter =
      s"""c.user_id = t.user_id AND c.vpos >= r.w AND c.vpos <= t.vpos
         |           AND c.osp IS NOT NULL AND c.o_lon IS NOT NULL AND t.d_lon IS NOT NULL
         |           AND ${hav("c.o_lon", "c.o_lat", "t.d_lon", "t.d_lat")} <= $maxTourDistM""".stripMargin
    s"""${tourTripxChain(distM, timeUs, activityThresholdSec, gapUs, maxTourDistM,
          locationMode = false)},
       |tripv AS (
       |  SELECT *, CASE WHEN NOT first_of_user AND NOT coalesce(connected, false)
       |                 THEN 1 ELSE 0 END AS mark
       |  FROM conn2),
       |tripx2 AS (
       |  SELECT *,
       |    sum(mark) OVER (PARTITION BY user_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS cum,
       |    pos + sum(mark) OVER (PARTITION BY user_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS vpos
       |  FROM tripv),
       |markers AS (SELECT user_id, cum AS mnum, vpos - 1 AS mvpos FROM tripx2 WHERE mark = 1),
       |rec AS (
       |  SELECT user_id, 0 AS p, CAST(1 AS BIGINT) AS w,
       |         false AS emit, CAST(NULL AS BIGINT) AS ecs, CAST(NULL AS BIGINT) AS ef,
       |         CAST(NULL AS BIGINT) AS en
       |  FROM (SELECT DISTINCT user_id FROM tripx2)
       |  UNION ALL
       |  SELECT t.user_id, t.pos,
       |    CASE WHEN t.dsp IS NULL THEN r.w
       |         WHEN x.vc IS NOT NULL AND x.vc > coalesce(x.vb, 0) AND x.vc > coalesce(x.vo, 0)
       |           THEN r.w
       |         WHEN coalesce(x.vb, 0) > coalesce(x.vo, 0) THEN r.w + (t.vpos - x.vb) + 1
       |         WHEN x.vo IS NOT NULL THEN x.vo
       |         ELSE r.w END,
       |    t.dsp IS NOT NULL AND x.vc IS NOT NULL
       |      AND x.vc > coalesce(x.vb, 0) AND x.vc > coalesce(x.vo, 0),
       |    x.ccs, t.f_us, t.pos - x.cpos + 1
       |  FROM rec r
       |  JOIN tripx2 t ON t.user_id = r.user_id AND t.pos = r.p + 1
       |  CROSS JOIN LATERAL (SELECT
       |    (SELECT m.mvpos FROM markers m
       |      WHERE m.user_id = t.user_id AND m.mnum = t.cum - $maxNrGaps
       |        AND m.mvpos >= r.w) AS vb,
       |    (SELECT max(c.vpos) FROM tripx2 c
       |      WHERE c.user_id = t.user_id AND c.vpos >= r.w AND c.vpos <= t.vpos
       |        AND t.f_us - c.s_us > $maxTourTimeUs) AS vo,
       |    (SELECT max(c.vpos) FROM tripx2 c WHERE $closeFilter) AS vc,
       |    (SELECT arg_max(c.pos, c.vpos) FROM tripx2 c WHERE $closeFilter) AS cpos,
       |    (SELECT arg_max(c.s_us, c.vpos) FROM tripx2 c WHERE $closeFilter) AS ccs) x)
       |SELECT CAST(row_number() OVER (ORDER BY user_id, p) - 1 AS BIGINT) AS id,
       |       user_id, ecs AS s_us, ef AS f_us, CAST(en AS BIGINT) AS n_trips
       |FROM rec WHERE emit""".stripMargin
  }

  val gates: Seq[Gate] = Seq(
    Gate("pf_dedup") { (s, dir) =>
      EventsAdapter.positionfixes(s, dir)
        .dropDuplicates("user_id", "t_us", "lon", "lat")
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_pfs"))
    } {
      s"""${EventsAdapter.pfsSql}, d AS (
         |  SELECT DISTINCT user_id, t_us, lon, lat FROM pfs)
         |SELECT user_id, count(*) AS n_pfs FROM d GROUP BY user_id""".stripMargin
    },
    Gate("speed_positionfixes") { (s, dir) =>
      val pfs = EventsAdapter.positionfixes(s, dir).drop("value")
      Labelling.getSpeedPositionfixes(pfs)
        .select(col("id"), col("user_id"),
          floor(col("speed") * 1000.0).cast("long").as("speed_mms"))
    } {
      s"""${EventsAdapter.pfsSql}, lagged AS (
         |  SELECT id, user_id, t_us, lon, lat,
         |         lag(t_us) OVER w AS pt, lag(lon) OVER w AS plon, lag(lat) OVER w AS plat
         |  FROM pfs WINDOW w AS (PARTITION BY user_id ORDER BY t_us, id)
         |), sp AS (
         |  SELECT id, user_id, t_us,
         |         ${hav("plon", "plat", "lon", "lat")} / ((t_us - pt) / 1000000.0) AS speed0
         |  FROM lagged
         |)
         |SELECT id, user_id,
         |  CAST(floor(coalesce(speed0, lead(speed0) OVER (PARTITION BY user_id ORDER BY t_us, id)) * 1000.0) AS BIGINT) AS speed_mms
         |FROM sp""".stripMargin
    },
    // staypoints_sliding has an exact oracle: the anchor-jump recurrence
    // runs as a DuckDB recursive CTE (see staypointsOracle). The checked
    // surface is segmentation + membership: per staypoint, the integer
    // micro-degree sums over DISTINCT member coordinates (exact — source
    // coords are 1e-6 multiples). The trig wrap-aware centroid passes
    // through libm, whose last-ulp differs between the JVM and DuckDB, so
    // it is verified by StaypointGeneratorSpec instead.
    Gate("staypoints_sliding") { (s, dir) =>
      val sp = Pipeline.staypoints(s, dir)
        .select(col("id"), col("user_id"),
          unix_micros(col("started_at")).as("s_us"), unix_micros(col("finished_at")).as("f_us"))
      val members = Pipeline.pfsWithStaypoints(s, dir)
        .filter(col("staypoint_id").isNotNull)
        .select(col("staypoint_id"),
          floor(col("lon") * 1000000.0 + 0.5).cast("long").as("_x"),
          floor(col("lat") * 1000000.0 + 0.5).cast("long").as("_y"))
        .distinct()
        .groupBy(col("staypoint_id"))
        .agg(sum(col("_x")).as("lon_sum_e6"), sum(col("_y")).as("lat_sum_e6"),
          count(lit(1)).as("n_uniq"))
      sp.join(members, sp("id") === members("staypoint_id")).drop("staypoint_id")
    } {
      withMaterializedCtes(staypointsOracle(
        distM = Pipeline.staypointParams.distThresholdMeters,
        timeUs = (Pipeline.staypointParams.timeThresholdMinutes * 60e6).toLong))
    },
    Gate("triplegs_generate") { (s, dir) =>
      import graft.functions.GeoFunctions
      Pipeline.triplegs(s, dir)
        .select(col("id"), col("user_id"),
          unix_micros(col("started_at")).as("s_us"), unix_micros(col("finished_at")).as("f_us"),
          size(col("points")).cast("long").as("n_points"),
          floor(GeoFunctions.linestringLengthMeters(col("points"))).cast("long").as("length_m"))
    } {
      withMaterializedCtes(triplegsOracle(
        distM = Pipeline.staypointParams.distThresholdMeters,
        timeUs = (Pipeline.staypointParams.timeThresholdMinutes * 60e6).toLong))
    },
    Gate("triplegs_overlap") { (s, dir) =>
      Pipeline.triplegsOverlap(s, dir)
        .select(col("id"), col("user_id"),
          unix_micros(col("started_at")).as("s_us"), unix_micros(col("finished_at")).as("f_us"),
          size(col("points")).cast("long").as("n_points"))
    } {
      withMaterializedCtes(triplegsOverlapOracle(
        distM = Pipeline.staypointParams.distThresholdMeters,
        timeUs = (Pipeline.staypointParams.timeThresholdMinutes * 60e6).toLong,
        gapUs = (1e7 * 60e6).toLong))
    },
    Gate("trips_generate") { (s, dir) =>
      Pipeline.trips(s, dir)
        .select(col("id"), col("user_id"),
          unix_micros(col("started_at")).as("s_us"), unix_micros(col("finished_at")).as("f_us"),
          col("origin_staypoint_id"), col("destination_staypoint_id"))
    } {
      withMaterializedCtes(tripsOracle(
        distM = Pipeline.staypointParams.distThresholdMeters,
        timeUs = (Pipeline.staypointParams.timeThresholdMinutes * 60e6).toLong,
        activityThresholdSec = 120.0 * 60.0,
        gapUs = (1e7 * 60e6).toLong))
    },
    // clustering surface is integer-exact (ids, member counts, smallest
    // member); the trig dissolve geometry is spec-gated — see
    // locationsOracle scaladoc
    Gate("locations_dbscan") { (s, dir) =>
      val locs = Pipeline.locations(s, dir).select(col("id"), col("user_id"))
      val members = Pipeline.staypointsWithLocation(s, dir)
        .filter(col("location_id").isNotNull)
        .groupBy(col("location_id"))
        .agg(count(lit(1)).as("n_sp"), min(col("id")).as("min_sp_id"))
      locs.join(members, locs("id") === members("location_id")).drop("location_id")
    } {
      withMaterializedCtes(locationsOracle(
        distM = Pipeline.staypointParams.distThresholdMeters,
        timeUs = (Pipeline.staypointParams.timeThresholdMinutes * 60e6).toLong,
        epsM = 100.0))
    },
    // bills the shared staypoints→triplegs→trips→tours memo chain as its
    // own bench line, exactly like colocation__prolog: "tours__" sorts
    // before "tours_gaps", the chain's previous alphabetically-first
    // consumer, so the tour/trip family gates report marginal cost
    // instead of one of them absorbing the whole generator chain (r15
    // verdict item 1 — its 3.15→3.77 s "regression" was this
    // attribution). Output = the tours table (same oracle as
    // tours_generate), integer-exact and oracle-checked like any gate.
    Gate("tours__prolog") { (s, dir) =>
      tourRows(Pipeline.tours(s, dir))
    } {
      // the shared mobility-chain prolog returns the tours table itself —
      // same oracle as tours_generate by construction
      pipelineToursOracle(maxTourDistM = 200.0, locationMode = false)
    },
    Gate("tours_generate") { (s, dir) =>
      tourRows(Pipeline.tours(s, dir))
    } {
      pipelineToursOracle(maxTourDistM = 200.0, locationMode = false)
    },
    Gate("tours_gaps") { (s, dir) => // gap budget 1: tours may bridge one discontinuity
      val (_, tours) = TourGenerator.generate(Pipeline.trips(s, dir), None,
        TourGenerator.Params(maxDistMeters = 200.0, maxTimeDays = 30.0, maxNrGaps = 1),
        share = Share.materialize)
      tourRows(tours)
    } {
      withMaterializedCtes(toursGapsOracle(
        distM = Pipeline.staypointParams.distThresholdMeters,
        timeUs = (Pipeline.staypointParams.timeThresholdMinutes * 60e6).toLong,
        activityThresholdSec = 120.0 * 60.0, gapUs = (1e7 * 60e6).toLong,
        maxTourDistM = 200.0, maxTourTimeUs = (30.0 * 86400e6).toLong, maxNrGaps = 1))
    },
    Gate("trips_grouped") { (s, dir) =>
      TourGenerator.getTripsGrouped(Pipeline.trips(s, dir), Pipeline.tours(s, dir))
        .select(col("tour_id"), col("trip_id"), col("user_id"),
          unix_micros(col("started_at")).as("s_us"), unix_micros(col("finished_at")).as("f_us"),
          col("origin_staypoint_id"), col("destination_staypoint_id"))
    } {
      withMaterializedCtes(tripsGroupedOracle(
        distM = Pipeline.staypointParams.distThresholdMeters,
        timeUs = (Pipeline.staypointParams.timeThresholdMinutes * 60e6).toLong,
        activityThresholdSec = 120.0 * 60.0, gapUs = (1e7 * 60e6).toLong,
        maxTourDistM = 200.0, maxTourTimeUs = (30.0 * 86400e6).toLong))
    },
    Gate("tours_locations") { (s, dir) => // location-mode tours
      val (_, tours) = TourGenerator.generate(
        Pipeline.trips(s, dir), Some(Pipeline.staypointsWithLocation(s, dir)),
        TourGenerator.Params(maxTimeDays = 30.0),
        share = Share.materialize)
      tours.select(col("id"), col("user_id"), col("location_id"),
        size(col("trips")).cast("long").as("n_trips"))
    } {
      pipelineToursOracle(maxTourDistM = 100.0, locationMode = true)
    },
    Gate("od_flows") { (s, dir) =>
      Metrics.odFlows(Pipeline.staypointsWithLocation(s, dir))
    } {
      // OD flows over the same location chain: sid is time-ordered per
      // user by construction (row_number over (u, a_t, f_t)), so lead()
      // over sid order is the consecutive-visit transition; the location
      // key is the component's smallest member staypoint id (rep) — the
      // engine-neutral key odFlows also derives
      withMaterializedCtes(
        s"""$locationVisitCtes,
           |odt AS (
           |  SELECT user_id, rep AS f, lead(rep) OVER (PARTITION BY user_id ORDER BY sid) AS t
           |  FROM rep)
           |SELECT f AS from_loc, t AS to_loc, CAST(count(*) AS BIGINT) AS n_transitions
           |FROM odt WHERE t IS NOT NULL GROUP BY f, t""".stripMargin)
    },
    Gate("location_diversity") { (s, dir) =>
      Metrics.locationDiversity(Pipeline.staypointsWithLocation(s, dir))
    } {
      withMaterializedCtes(
        s"""$locationVisitCtes,
           |lvc AS (SELECT user_id, rep, CAST(count(*) AS BIGINT) AS c FROM rep GROUP BY user_id, rep)
           |SELECT user_id, CAST(sum(c) AS BIGINT) AS n_visits,
           |       CAST(count(*) AS BIGINT) AS n_locations,
           |       CAST(max(c) AS BIGINT) AS max_visits,
           |       CAST(sum(c * (c - 1)) AS BIGINT) AS simpson_num
           |FROM lvc GROUP BY user_id""".stripMargin)
    },
    Gate("return_times") { (s, dir) =>
      Metrics.returnTimes(Pipeline.staypointsWithLocation(s, dir))
    } {
      withMaterializedCtes(
        s"""${visitCtes("r.user_id, r.rep, k.a_t, k.f_t, r.sid")},
           |g AS (
           |  SELECT user_id, rep,
           |         row_number() OVER (PARTITION BY user_id, rep ORDER BY a_t, sid) - 1 AS revisit,
           |         a_t - lag(f_t) OVER (PARTITION BY user_id, rep ORDER BY a_t, sid) AS gap_us
           |  FROM rt)
           |SELECT user_id, rep AS location_id, CAST(revisit AS BIGINT) AS revisit,
           |       CAST(gap_us AS BIGINT) AS gap_us
           |FROM g WHERE gap_us IS NOT NULL""".stripMargin)
    },
    Gate("regularity_curve") { (s, dir) =>
      Metrics.regularityCurve(Pipeline.staypointsWithLocation(s, dir))
    } {
      // hour-of-week regularity R(t): per-(user, hour) top-location visit
      // share over the same rep/spk visit chain; the pooled ratio is one
      // IEEE division over exact integer sums
      withMaterializedCtes(
        s"""${visitCtes("r.user_id, r.rep, k.a_t")},
           |vis AS (
           |  SELECT user_id, rep,
           |         CAST((((a_t % 604800000000 + 604800000000) % 604800000000)
           |               // 86400000000 + 3) % 7 AS BIGINT) AS weekday,
           |         CAST(((a_t % 86400000000 + 86400000000) % 86400000000)
           |              // 3600000000 AS BIGINT) AS hour
           |  FROM rt),
           |c AS (
           |  SELECT user_id, weekday, hour, rep, count(*) AS c
           |  FROM vis GROUP BY user_id, weekday, hour, rep),
           |p AS (
           |  SELECT user_id, weekday, hour, max(c) AS top, sum(c) AS tot
           |  FROM c GROUP BY user_id, weekday, hour)
           |SELECT weekday, hour, CAST(sum(top) AS BIGINT) AS sum_top,
           |       CAST(sum(tot) AS BIGINT) AS sum_visits,
           |       CAST(sum(top) AS DOUBLE) / CAST(sum(tot) AS DOUBLE) AS regularity
           |FROM p GROUP BY weekday, hour""".stripMargin)
    },
    Gate("next_location_acc") { (s, dir) =>
      Metrics.nextLocationAccuracy(Pipeline.staypointsWithLocation(s, dir), trainPct = 80)
    } {
      // markov train/test split + argmax transition + hit counting over
      // the same rep/spk visit chain as return_times
      withMaterializedCtes(
        s"""${visitCtes("r.user_id, r.rep, k.a_t, k.sid")},
           |vis AS (
           |  SELECT user_id, rep AS loc,
           |         row_number() OVER (PARTITION BY user_id ORDER BY a_t, sid) - 1 AS pos,
           |         count(*) OVER (PARTITION BY user_id) AS n,
           |         lag(rep) OVER (PARTITION BY user_id ORDER BY a_t, sid) AS prev
           |  FROM rt),
           |tr AS (
           |  SELECT user_id, prev AS from_loc, loc AS to_loc, count(*) AS c
           |  FROM vis WHERE prev IS NOT NULL AND pos < (n * 80) // 100
           |  GROUP BY user_id, prev, loc),
           |best AS (
           |  SELECT user_id, from_loc, to_loc AS pred FROM (
           |    SELECT *, row_number() OVER (PARTITION BY user_id, from_loc
           |                                 ORDER BY c DESC, to_loc) AS rk FROM tr)
           |  WHERE rk = 1),
           |ev AS (
           |  SELECT v.user_id, v.loc, v.prev, b.pred
           |  FROM vis v LEFT JOIN best b ON b.user_id = v.user_id AND b.from_loc = v.prev
           |  WHERE v.pos >= (v.n * 80) // 100 AND v.prev IS NOT NULL)
           |SELECT user_id, CAST(count(*) AS BIGINT) AS n_test,
           |  CAST(count(pred) AS BIGINT) AS n_predicted,
           |  CAST(sum(CASE WHEN pred = loc THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
           |FROM ev GROUP BY user_id""".stripMargin)
    },
    Gate("lz_complexity") { (s, dir) =>
      Metrics.lzComplexity(Pipeline.staypointsWithLocation(s, dir))
    } {
      // LZ76 phrase parsing as a recursive CTE: the per-user symbol string
      // (dense first-visit ranks as characters — phrase structure is
      // relabeling-invariant) advances one phrase per recursion step; the
      // longest prior match is a list_max over candidate lengths with a
      // character strpos against the prefix before the cursor
      withMaterializedCtes(
        s"""${symbolSeqCtes},
           |lz(user_id, seq, n, p, c) AS (
           |  SELECT user_id, seq, length(seq), 1, 0 FROM seqs
           |  UNION ALL
           |  SELECT user_id, seq, n, p + least(coalesce(mm, 0) + 1, n - p + 1), c + 1
           |  FROM (
           |    SELECT user_id, seq, n, p, c,
           |           list_max(list_filter(range(1, n - p + 2),
           |             L -> strpos(substring(seq, 1, CAST(p + L - 2 AS INT)),
           |                         substring(seq, CAST(p AS INT), CAST(L AS INT))) > 0)) AS mm
           |    FROM lz WHERE p <= n))
           |SELECT user_id, CAST(n AS BIGINT) AS n_symbols, CAST(c AS BIGINT) AS n_phrases
           |FROM lz WHERE p > n""".stripMargin)
    },
    // integer surface only (n, N, sum of per-position match lengths);
    // the transcendental entropy/Fano outputs are spec-gated — the
    // locationEntropy engine-split contract
    Gate("predictability") { (s, dir) =>
      Metrics.predictability(Pipeline.staypointsWithLocation(s, dir))
        .select(col("user_id"), col("n_symbols"), col("n_locations"), col("sum_lambda"))
    } {
      // per-position match lengths need no recursion: one unnest(range)
      // per symbol + the same strpos prefix probe as lz_complexity; the
      // checked surface is the pure-integer (n, N, sum lambda) triple
      withMaterializedCtes(
        s"""${symbolSeqCtes},
           |nl AS (
           |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_locations FROM rk GROUP BY user_id),
           |pos AS (
           |  SELECT user_id, seq, length(seq) AS n, unnest(range(1, length(seq) + 1)) AS i
           |  FROM seqs),
           |lam AS (
           |  SELECT user_id, n,
           |    least(coalesce(list_max(list_filter(range(1, n - i + 2),
           |      L -> strpos(substring(seq, 1, CAST(i + L - 2 AS INT)),
           |                  substring(seq, CAST(i AS INT), CAST(L AS INT))) > 0)), 0) + 1,
           |      n - i + 1) AS lam
           |  FROM pos)
           |SELECT a.user_id, a.n_symbols, nl.n_locations, a.sum_lambda
           |FROM (SELECT user_id, CAST(max(n) AS BIGINT) AS n_symbols,
           |             CAST(sum(lam) AS BIGINT) AS sum_lambda
           |      FROM lam GROUP BY user_id) a
           |JOIN nl USING(user_id)""".stripMargin)
    },
    Gate("speed_triplegs") { (s, dir) =>
      val tpls = blockTriplegs(s, dir)
      Labelling.getSpeedTriplegs(tpls)
        .filter(col("finished_at") =!= col("started_at")) // degenerate single-fix blocks
        .select(col("user_id"), col("block"), floor(col("speed") * 1000.0).cast("long").as("speed_mms"))
    } {
      s"""$blockSegsCte
         |SELECT user_id, block,
         |  CAST(floor(coalesce(sum(seg), 0.0) / ((max(t_us) - min(t_us)) / 1000000.0) * 1000.0) AS BIGINT) AS speed_mms
         |FROM segs GROUP BY user_id, block
         |HAVING max(t_us) > min(t_us)""".stripMargin
    },
    Gate("transport_mode") { (s, dir) =>
      val tpls = blockTriplegs(s, dir)
      Labelling.predictTransportMode(tpls.filter(col("finished_at") =!= col("started_at")))
        .select(col("user_id"), col("block"), col("mode"))
    } {
      s"""$blockSegsCte, spd AS (
         |  SELECT user_id, block,
         |         coalesce(sum(seg), 0.0) / ((max(t_us) - min(t_us)) / 1000000.0) AS speed
         |  FROM segs GROUP BY user_id, block
         |  HAVING max(t_us) > min(t_us))
         |SELECT user_id, block,
         |  CASE WHEN speed < ${15.0 / 3.6} THEN 'slow_mobility'
         |       WHEN speed < ${100.0 / 3.6} THEN 'motorized_mobility'
         |       ELSE 'fast_mobility' END AS mode
         |FROM spd""".stripMargin
    },
    Gate("speed_triplegs_pfs_mean") { (s, dir) =>
      // pfs-mean variant: average the member fixes' speeds per tripleg
      // (blocks stand in as tripleg ids, consistent on both sides)
      val pfs = EventsAdapter.positionfixes(s, dir)
      val withSpeed = Labelling.getSpeedPositionfixes(pfs.drop("value"))
        .withColumn("tripleg_id", col("user_id") * 100000 + expr("k div 12"))
      val tplsLike = pfs.groupBy(col("user_id"), expr("k div 12").as("block"))
        .agg(min(col("tracked_at")).as("started_at"), max(col("tracked_at")).as("finished_at"))
        .withColumn("id", col("user_id") * 100000 + col("block"))
      Labelling.getSpeedTriplegsPfsMean(tplsLike, withSpeed)
        .filter(col("speed").isNotNull)
        .select(col("user_id"), col("block"), floor(col("speed") * 1000.0).cast("long").as("speed_mms"))
    } {
      s"""${EventsAdapter.pfsSql}, lagged AS (
         |  SELECT id, user_id, k, t_us, lon, lat,
         |         lag(t_us) OVER w AS pt, lag(lon) OVER w AS plon, lag(lat) OVER w AS plat
         |  FROM pfs WINDOW w AS (PARTITION BY user_id ORDER BY t_us, id)
         |), sp0 AS (
         |  SELECT id, user_id, k, t_us,
         |         ${hav("plon", "plat", "lon", "lat")} / ((t_us - pt) / 1000000.0) AS speed0
         |  FROM lagged
         |), sp1 AS (
         |  SELECT user_id, k // 12 AS block,
         |         coalesce(speed0, lead(speed0) OVER (PARTITION BY user_id ORDER BY t_us, id)) AS speed
         |  FROM sp0)
         |SELECT user_id, block, CAST(floor(avg(speed) * 1000.0) AS BIGINT) AS speed_mms
         |FROM sp1 WHERE speed IS NOT NULL GROUP BY user_id, block
         |HAVING avg(speed) IS NOT NULL""".stripMargin
    },
    Gate("merge_staypoints") { (s, dir) =>
      val sp = blockLocations(s, dir)
        .select(col("id"), col("user_id"), col("started_at"), col("finished_at"), col("location_id"))
      val emptyTpls = sp.filter(lit(false)).select(col("id"), col("user_id"), col("started_at"))
      StaypointMerger.mergeStaypoints(sp, emptyTpls, maxTimeGapMinutes = 2880)
        .select(col("id"), col("user_id"), unix_micros(col("started_at")).as("s_us"),
          unix_micros(col("finished_at")).as("f_us"), col("location_id"))
    } {
      s"""${EventsAdapter.pfsSql}, sp AS (
         |  SELECT id, user_id, s_us, f_us, (k // 12) % 4 AS location_id FROM intervals
         |), flagged AS (
         |  SELECT *, CASE WHEN lag(f_us) OVER w IS NOT NULL
         |                  AND s_us - lag(f_us) OVER w <= 172800000000
         |                  AND location_id = lag(location_id) OVER w
         |            THEN 0 ELSE 1 END AS new_run
         |  FROM sp WINDOW w AS (PARTITION BY user_id ORDER BY s_us, id)
         |), runs AS (
         |  SELECT *, sum(new_run) OVER (PARTITION BY user_id ORDER BY s_us, id ROWS UNBOUNDED PRECEDING) AS run
         |  FROM flagged)
         |SELECT min(id) AS id, user_id, min(s_us) AS s_us, arg_max(f_us, id) AS f_us,
         |       min(location_id) AS location_id
         |FROM runs GROUP BY user_id, run""".stripMargin
    }
  )
}
