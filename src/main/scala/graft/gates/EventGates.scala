package graft.gates

import graft.operators._
import graft.sources.EventsAdapter
import org.apache.spark.sql.functions._
import Shared.decimalsToDigits

/** Event analytics over the events table: sessions, funnels, retention,
  * attribution, periodicity and survival.
  */
private[graft] object EventGates {

  val gates: Seq[Gate] = Seq(
    Gate("sessionize_events") { (s, dir) =>
      EventOps.sessionize(EventsAdapter.events(s, dir), gapMinutes = 30.0, tsCol = "t_us")
        .select(col("event_id"), col("user_id"), col("session_id"))
    } {
      """WITH t AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS t_us,
        |         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS pt
        |  FROM events)
        |SELECT event_id, user_id,
        |  CAST(sum(CASE WHEN pt IS NULL OR t_us - pt > 1800000000 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY t_us, event_id ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_id
        |FROM t""".stripMargin
    },
    Gate("session_length_hist") { (s, dir) =>
      EventOps.sessionLengthHistogram(
        EventOps.sessionize(EventsAdapter.events(s, dir), gapMinutes = 30.0, tsCol = "t_us"),
        tsCol = "t_us")
    } {
      // engagement-depth histogram over the sessionize chain
      """WITH t AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS t_us,
        |         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS pt
        |  FROM events),
        |se AS (
        |  SELECT user_id, t_us,
        |    sum(CASE WHEN pt IS NULL OR t_us - pt > 1800000000 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY t_us, event_id ROWS UNBOUNDED PRECEDING) - 1 AS sid
        |  FROM t),
        |per AS (
        |  SELECT user_id, sid, CAST(count(*) AS BIGINT) AS n,
        |         CAST(max(t_us) - min(t_us) AS BIGINT) AS dur
        |  FROM se GROUP BY user_id, sid)
        |SELECT CAST(length(bin(n)) - 1 AS BIGINT) AS bucket,
        |       CAST(count(*) AS BIGINT) AS n_sessions,
        |       CAST(sum(n) AS BIGINT) AS sum_events,
        |       CAST(sum(dur) AS BIGINT) AS sum_dur_us
        |FROM per GROUP BY 1""".stripMargin
    },
    Gate("session_paths") { (s, dir) =>
      EventOps.sessionPaths(EventsAdapter.events(s, dir), gapMinutes = 30.0,
        n = 3, topK = 20, tsCol = "t_us")
    } {
      // top-K 3-step event-type journeys: ordered per-session type string
      // (string_agg with explicit ORDER BY = the struct-sort convention),
      // gram slices with multiplicity, count-desc/path tie-break top-K
      """WITH t AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS t_us,
        |         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS pt
        |  FROM events),
        |se AS (
        |  SELECT user_id, event_id, event_type, t_us,
        |    sum(CASE WHEN pt IS NULL OR t_us - pt > 1800000000 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY t_us, event_id ROWS UNBOUNDED PRECEDING) - 1 AS sid
        |  FROM t),
        |sq AS (
        |  SELECT user_id, sid, string_agg(event_type, ' ' ORDER BY t_us, event_id) AS path
        |  FROM se GROUP BY user_id, sid),
        |wd AS (SELECT string_split(path, ' ') AS ws FROM sq),
        |g AS (
        |  SELECT array_to_string(ws[p+1:p+3], ' ') AS path
        |  FROM (SELECT ws, unnest(range(0, greatest(len(ws) - 2, 0))) AS p FROM wd))
        |SELECT path, CAST(count(*) AS BIGINT) AS n_occurrences
        |FROM g GROUP BY path ORDER BY n_occurrences DESC, path LIMIT 20""".stripMargin
    },
    Gate("session_lift") { (s, dir) =>
      EventOps.sessionLift(EventsAdapter.events(s, dir), gapMinutes = 30.0, tsCol = "t_us")
    } {
      // within-session association lift: session-distinct type sets,
      // pair self-join on the session key, exact marginals + 1-row total
      """WITH t AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS t_us,
        |         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS pt
        |  FROM events),
        |se AS (
        |  SELECT DISTINCT user_id,
        |    sum(CASE WHEN pt IS NULL OR t_us - pt > 1800000000 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY t_us, event_id ROWS UNBOUNDED PRECEDING) - 1 AS sid,
        |    event_type
        |  FROM t),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_sessions FROM (SELECT DISTINCT user_id, sid FROM se)),
        |mg AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM se GROUP BY event_type),
        |pairs AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |         CAST(count(*) AS BIGINT) AS n_both
        |  FROM se a JOIN se b ON a.user_id = b.user_id AND a.sid = b.sid
        |  WHERE a.event_type < b.event_type
        |  GROUP BY a.event_type, b.event_type)
        |SELECT p.type_a, p.type_b, p.n_both, ma.n AS n_a, mb.n AS n_b,
        |       tot.n_sessions,
        |       CAST(tot.n_sessions * p.n_both AS DOUBLE)
        |         / CAST(ma.n * mb.n AS DOUBLE) AS lift
        |FROM pairs p
        |JOIN mg ma ON p.type_a = ma.event_type
        |JOIN mg mb ON p.type_b = mb.event_type
        |CROSS JOIN tot""".stripMargin
    },
    // strict-order earliest-match funnel inside a 7-day window
    Gate("funnel_events") { (s, dir) =>
      EventOps.funnel(EventsAdapter.events(s, dir), Seq("view", "click", "purchase"),
        windowMinutes = Some(7 * 24 * 60.0), tsCol = "t_us")
    } {
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
        |s0 AS (SELECT user_id, min(t) AS t0 FROM ev WHERE event_type = 'view' GROUP BY user_id),
        |s1 AS (SELECT e.user_id, any_value(t0) AS t0, min(e.t) AS t1
        |       FROM ev e JOIN s0 USING (user_id)
        |       WHERE e.event_type = 'click' AND e.t > t0 AND e.t <= t0 + 604800000000
        |       GROUP BY e.user_id),
        |s2 AS (SELECT e.user_id, min(e.t) AS t2
        |       FROM ev e JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.t > t1 AND e.t <= t0 + 604800000000
        |       GROUP BY e.user_id)
        |SELECT CAST(1 AS BIGINT) AS step, 'view' AS event_type, CAST(count(*) AS BIGINT) AS users FROM s0
        |UNION ALL SELECT 2, 'click', count(*) FROM s1
        |UNION ALL SELECT 3, 'purchase', count(*) FROM s2""".stripMargin
    },
    Gate("retention_cohorts") { (s, dir) =>
      EventOps.retentionCohorts(EventsAdapter.events(s, dir), tsCol = "t_us")
    } {
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS t FROM events),
        |f AS (SELECT user_id, CAST(min(t) // 604800000000 AS BIGINT) AS cohort_week
        |      FROM ev GROUP BY user_id),
        |a AS (SELECT DISTINCT user_id, CAST(t // 604800000000 AS BIGINT) AS w FROM ev)
        |SELECT cohort_week, w - cohort_week AS week_offset, CAST(count(*) AS BIGINT) AS users
        |FROM a JOIN f USING (user_id) GROUP BY cohort_week, w""".stripMargin
    },
    Gate("burstiness") { (s, dir) =>
      EventOps.burstiness(EventsAdapter.events(s, dir))
    } {
      s"""WITH g AS (
         |  SELECT user_id,
         |         (epoch_us(ts) - lag(epoch_us(ts)) OVER (
         |            PARTITION BY user_id ORDER BY epoch_us(ts), event_id)) // 1000000 AS gap_s
         |  FROM events),
         |m AS (
         |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
         |         CAST(sum(gap_s) AS BIGINT) AS sum_gap_s,
         |         CAST(sum(gap_s * gap_s) AS BIGINT) AS sum_gap_sq
         |  FROM g WHERE gap_s IS NOT NULL GROUP BY user_id)
         |SELECT user_id, n_gaps, sum_gap_s, sum_gap_sq,
         |  CASE WHEN sqrt(greatest(CAST(sum_gap_sq AS DOUBLE) / CAST(n_gaps AS DOUBLE)
         |                          - (CAST(sum_gap_s AS DOUBLE) / CAST(n_gaps AS DOUBLE))
         |                            * (CAST(sum_gap_s AS DOUBLE) / CAST(n_gaps AS DOUBLE)), 0.0))
         |            + CAST(sum_gap_s AS DOUBLE) / CAST(n_gaps AS DOUBLE) = 0.0
         |       THEN 0.0
         |       ELSE (sqrt(greatest(CAST(sum_gap_sq AS DOUBLE) / CAST(n_gaps AS DOUBLE)
         |                           - (CAST(sum_gap_s AS DOUBLE) / CAST(n_gaps AS DOUBLE))
         |                             * (CAST(sum_gap_s AS DOUBLE) / CAST(n_gaps AS DOUBLE)), 0.0))
         |             - CAST(sum_gap_s AS DOUBLE) / CAST(n_gaps AS DOUBLE))
         |            / (sqrt(greatest(CAST(sum_gap_sq AS DOUBLE) / CAST(n_gaps AS DOUBLE)
         |                             - (CAST(sum_gap_s AS DOUBLE) / CAST(n_gaps AS DOUBLE))
         |                               * (CAST(sum_gap_s AS DOUBLE) / CAST(n_gaps AS DOUBLE)), 0.0))
         |               + CAST(sum_gap_s AS DOUBLE) / CAST(n_gaps AS DOUBLE)) END AS burstiness
         |FROM m""".stripMargin
    },
    Gate("gap_histogram") { (s, dir) =>
      EventOps.gapHistogram(EventsAdapter.events(s, dir))
    } {
      // bit-length gap buckets after the per-user lag — the burstiness
      // window reaggregated into the lengthHistogram shape
      """WITH g AS (
        |  SELECT event_type,
        |    (epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |       PARTITION BY user_id ORDER BY epoch_us(ts), event_id)) // 1000000 AS gap_s
        |  FROM events),
        |b AS (
        |  SELECT event_type,
        |    greatest(CAST(length(bin(gap_s)) - 1 AS BIGINT), 0) AS bucket, gap_s
        |  FROM g WHERE gap_s IS NOT NULL)
        |SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS n_gaps,
        |  CAST(sum(gap_s) AS BIGINT) AS sum_gap_s,
        |  CAST(CAST(1 AS BIGINT) << CAST(bucket AS INT) AS BIGINT) AS bucket_lo
        |FROM b GROUP BY event_type, bucket""".stripMargin
    },
    Gate("circadian_profile") { (s, dir) =>
      decimalsToDigits(EventOps.circadianProfile(EventsAdapter.events(s, dir)))
    } {
      // circadian chi-square vs uniform: 24Σc² − n² exact in int128, the
      // nonuniform decision a pure integer cross-compare (χ²₀.₀₀₁, df 23)
      """WITH c AS (
        |  SELECT user_id,
        |         ((epoch_us(ts) % 86400000000 + 86400000000) % 86400000000)
        |           // 3600000000 AS hour,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT user_id, CAST(sum(c) AS BIGINT) AS n_events,
        |    CAST(count(*) AS BIGINT) AS n_active_hours,
        |    CAST(max(c) AS BIGINT) AS peak_hour_events,
        |    sum(CAST(c AS HUGEINT) * c) AS h2
        |  FROM c GROUP BY user_id)
        |SELECT user_id, n_events, n_active_hours, peak_hour_events,
        |  CAST(h2 AS VARCHAR) AS sum_c2,
        |  CAST(24 * h2 - CAST(n_events AS HUGEINT) * n_events AS VARCHAR) AS chi2_num,
        |  (100 * (24 * h2 - CAST(n_events AS HUGEINT) * n_events))
        |    > 4973 * CAST(n_events AS HUGEINT) AS nonuniform
        |FROM m""".stripMargin
    },
    Gate("diurnal_rayleigh") { (s, dir) =>
      EventOps.diurnalConcentration(EventsAdapter.events(s, dir))
    } {
      // circular-statistics twin of the chi-square: quantized-trig
      // resultants (tables injected from Scala), integer Rayleigh decision
      EventOps.diurnalConcentrationSql()
    },
    Gate("rfm_segments") { (s, dir) =>
      EventOps.rfmSegmentation(EventsAdapter.events(s, dir))
    } { EventOps.rfmSegmentationSql() },
    Gate("event_rate_anomalies") { (s, dir) =>
      EventOps.rateAnomalies(EventsAdapter.events(s, dir), zThreshold = 3L)
    } {
      // cross-multiplied z² decision in int128 — no float mean/stddev exists
      """WITH c AS (
        |  SELECT user_id, (epoch_us(ts) // 3600000000) * 3600000000 AS bucket_us,
        |         CAST(count(*) AS BIGINT) AS n_events
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_buckets,
        |         CAST(sum(n_events) AS BIGINT) AS sum_c,
        |         CAST(sum(n_events * n_events) AS BIGINT) AS sum_c2
        |  FROM c GROUP BY user_id)
        |SELECT c.user_id, c.bucket_us, c.n_events, m.n_buckets, m.sum_c, m.sum_c2
        |FROM c JOIN m USING (user_id)
        |WHERE c.n_events * m.n_buckets - m.sum_c > 0
        |  AND CAST(c.n_events * m.n_buckets - m.sum_c AS HUGEINT)
        |      * CAST(c.n_events * m.n_buckets - m.sum_c AS HUGEINT)
        |      > 9 * CAST(m.n_buckets * m.sum_c2 - m.sum_c * m.sum_c AS HUGEINT)""".stripMargin
    },
    Gate("event_decayed_counts") { (s, dir) =>
      decimalsToDigits(EventOps.decayedCounts(EventsAdapter.events(s, dir), halfLifeHours = 24L))
    } {
      // exact power-of-two half-life weights: 2^40 >> age, floored at 40
      """WITH r AS (SELECT max(epoch_us(ts)) AS ref_us FROM events),
        |w AS (
        |  SELECT event_type,
        |         CASE WHEN (r.ref_us - epoch_us(ts)) // 86400000000 >= 40 THEN CAST(0 AS BIGINT)
        |              ELSE CAST(1099511627776 AS BIGINT)
        |                   >> CAST((r.ref_us - epoch_us(ts)) // 86400000000 AS INT) END AS w_q
        |  FROM events CROSS JOIN r)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(CAST(sum(w_q) AS HUGEINT) AS VARCHAR) AS decayed_q
        |FROM w GROUP BY event_type""".stripMargin
    },
    Gate("event_props_summary") { (s, dir) =>
      EventOps.propsSummary(EventsAdapter.events(s, dir))
    } {
      // schema-driven JSON payload extraction + per-type profile
      """WITH p AS (
        |  SELECT event_type, CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(k) AS BIGINT) AS sum_k,
        |  CAST(min(k) AS BIGINT) AS min_k, CAST(max(k) AS BIGINT) AS max_k,
        |  CAST(count(DISTINCT k) AS BIGINT) AS n_distinct_k
        |FROM p GROUP BY event_type""".stripMargin
    },
    Gate("latest_events") { (s, dir) =>
      EventOps.latestSnapshot(EventsAdapter.events(s, dir), Seq("user_id", "event_type"))
    } {
      // latest row per (user, type): struct-max with id tie-break — the
      // {'t','id'} struct ordering mirrors Spark's lexicographic struct max
      """SELECT user_id, event_type,
        |  CAST(max(epoch_us(ts)) AS BIGINT) AS t_us,
        |  (max({'t': epoch_us(ts), 'id': event_id})).id AS event_id,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM events GROUP BY user_id, event_type""".stripMargin
    },
    Gate("event_transitions") { (s, dir) =>
      EventOps.typeTransitions(EventsAdapter.events(s, dir))
    } {
      // clickstream Markov matrix: per-user lead, |types|^2-bounded counts,
      // row-conditional p
      """WITH ev AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS t, event_type FROM events),
        |tr AS (
        |  SELECT event_type AS from_type,
        |         lead(event_type) OVER (PARTITION BY user_id ORDER BY t, event_id) AS to_type
        |  FROM ev),
        |c AS (
        |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        |  FROM tr WHERE to_type IS NOT NULL GROUP BY from_type, to_type)
        |SELECT from_type, to_type, n,
        |       CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p
        |FROM c""".stripMargin
    },
    Gate("conversion_latency") { (s, dir) =>
      EventOps.conversionLatency(EventsAdapter.events(s, dir), "click", "purchase")
    } {
      // last-touch click->purchase latency: conditional running max over
      // the ordered per-user stream, bit-length second buckets
      """WITH ev AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS t, event_type FROM events),
        |lf AS (
        |  SELECT user_id, t, event_type,
        |         max(CASE WHEN event_type = 'click' THEN t END)
        |           OVER (PARTITION BY user_id ORDER BY t, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lastf
        |  FROM ev),
        |conv AS (
        |  SELECT CAST(floor((t - lastf) / 1000000.0) AS BIGINT) AS sec
        |  FROM lf WHERE event_type = 'purchase' AND lastf IS NOT NULL)
        |SELECT CASE WHEN sec < 1 THEN CAST(-1 AS BIGINT)
        |            ELSE CAST(length(bin(sec)) - 1 AS BIGINT) END AS bucket,
        |       CAST(count(*) AS BIGINT) AS n_conversions,
        |       CAST(sum(sec) AS BIGINT) AS sum_sec
        |FROM conv GROUP BY 1""".stripMargin
    },
    Gate("survival_table") { (s, dir) =>
      EventOps.survivalTable(EventsAdapter.events(s, dir))
    } {
      // survival table: first-signup -> first-subsequent-purchase latency,
      // never-converted users censored at the stream end; (d, n) per
      // log2-second bucket with the suffix-sum at-risk count
      """WITH t0 AS (
        |  SELECT user_id, min(epoch_us(ts)) AS t0
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        |ref AS (SELECT max(epoch_us(ts)) AS r FROM events),
        |conv AS (
        |  SELECT t0.user_id, t0.t0,
        |         min(CASE WHEN epoch_us(e.ts) >= t0.t0 THEN epoch_us(e.ts) END) AS c
        |  FROM t0 LEFT JOIN events e
        |    ON e.user_id = t0.user_id AND e.event_type = 'purchase'
        |  GROUP BY 1, 2),
        |u AS (
        |  SELECT user_id, c IS NOT NULL AS observed,
        |         (coalesce(c, (SELECT r FROM ref)) - t0) // 1000000 AS sec
        |  FROM conv),
        |b AS (
        |  SELECT CAST(length(bin(sec)) - 1 AS BIGINT) AS bucket,
        |         CAST(sum(CASE WHEN observed THEN 1 ELSE 0 END) AS BIGINT) AS n_events,
        |         CAST(sum(CASE WHEN observed THEN 0 ELSE 1 END) AS BIGINT) AS n_censored
        |  FROM u GROUP BY 1)
        |SELECT bucket, CAST(CAST(1 AS BIGINT) << bucket AS BIGINT) AS bucket_lo,
        |       CAST(sum(n_events + n_censored) OVER (
        |         ORDER BY bucket DESC
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_at_risk,
        |       n_events, n_censored
        |FROM b""".stripMargin
    },
    Gate("user_lifespan") { (s, dir) =>
      EventOps.userLifespan(EventsAdapter.events(s, dir))
    } {
      // engagement lifespan card: per-user firsts/lasts/active days
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS t FROM events),
        |a AS (
        |  SELECT user_id, CAST(min(t) AS BIGINT) AS first_us, CAST(max(t) AS BIGINT) AS last_us,
        |         CAST(count(*) AS BIGINT) AS n_events,
        |         CAST(count(DISTINCT t // 86400000000) AS BIGINT) AS n_active_days
        |  FROM ev GROUP BY user_id)
        |SELECT user_id, first_us, last_us, n_events, n_active_days,
        |       CAST(last_us // 86400000000 - first_us // 86400000000 + 1 AS BIGINT) AS span_days,
        |       CAST(n_active_days AS DOUBLE)
        |         / CAST(last_us // 86400000000 - first_us // 86400000000 + 1 AS DOUBLE) AS activity_ratio
        |FROM a""".stripMargin
    },
    Gate("hourly_autocorr") { (s, dir) =>
      EventOps.hourlyAutocorr(EventsAdapter.events(s, dir))
    } {
      {
        def lagBlock(l: Int): String =
          s"""SELECT CAST($l AS BIGINT) AS lag, CAST(count(*) AS BIGINT) AS n_pairs,
             |       CAST(CAST(count(*) AS HUGEINT) * sum(CAST(a.c AS HUGEINT) * CAST(b.c AS HUGEINT))
             |            - CAST(sum(a.c) AS HUGEINT) * CAST(sum(b.c) AS HUGEINT) AS DOUBLE)
             |         / (sqrt(CAST(CAST(count(*) AS HUGEINT) * sum(CAST(a.c AS HUGEINT) * CAST(a.c AS HUGEINT))
             |                      - CAST(sum(a.c) AS HUGEINT) * CAST(sum(a.c) AS HUGEINT) AS DOUBLE))
             |            * sqrt(CAST(CAST(count(*) AS HUGEINT) * sum(CAST(b.c AS HUGEINT) * CAST(b.c AS HUGEINT))
             |                        - CAST(sum(b.c) AS HUGEINT) * CAST(sum(b.c) AS HUGEINT) AS DOUBLE))) AS r
             |FROM d a JOIN d b ON b.h = a.h + $l""".stripMargin
        s"""WITH ev AS (SELECT epoch_us(ts) // 3600000000 AS h FROM events),
           |c AS (SELECT h, CAST(count(*) AS BIGINT) AS c FROM ev GROUP BY h),
           |sp AS (SELECT unnest(generate_series((SELECT min(h) FROM c), (SELECT max(h) FROM c))) AS h),
           |d AS MATERIALIZED (SELECT sp.h, COALESCE(c.c, 0) AS c FROM sp LEFT JOIN c ON sp.h = c.h)
           |${Seq(1, 24, 168).map(lagBlock).mkString("\nUNION ALL\n")}""".stripMargin
      }
    },
    // classical decomposition: centered-MA trend, per-hour-of-day
    // seasonal means — all x48 integers, ppm by 128-bit floor division
    Gate("seasonal_decompose") { (s, dir) =>
      EventOps.seasonalDecompose(EventsAdapter.events(s, dir))
    } {
      // seasonality r at 1/24/168h lags: dense hour spine, int128 Pearson
      // sums, one division per lag
      // textbook decomposition over the zero-filled hourly spine: trend*48
      // = x[-12] + 2*sum(x[-11..11]) + x[+12], full-window rows only
      """WITH ev AS (
        |  SELECT event_type AS k, epoch_us(ts) // 3600000000 AS h FROM events),
        |cnt AS (SELECT k, h, CAST(count(*) AS BIGINT) AS c FROM ev GROUP BY k, h),
        |bounds AS (SELECT k, min(h) AS h0, max(h) AS h1 FROM cnt GROUP BY k),
        |spine AS (SELECT k, unnest(generate_series(h0, h1)) AS h FROM bounds),
        |dense AS (
        |  SELECT s.k, s.h, coalesce(c.c, 0) AS c
        |  FROM spine s LEFT JOIN cnt c ON s.k = c.k AND s.h = c.h),
        |tr AS (
        |  SELECT k, h, c,
        |    count(*) OVER w25 AS n25,
        |    lag(c, 12) OVER wo + 2 * sum(c) OVER w23 + lead(c, 12) OVER wo AS t48
        |  FROM dense
        |  WINDOW wo AS (PARTITION BY k ORDER BY h),
        |         w25 AS (PARTITION BY k ORDER BY h ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING),
        |         w23 AS (PARTITION BY k ORDER BY h ROWS BETWEEN 11 PRECEDING AND 11 FOLLOWING)),
        |det AS (SELECT k, h % 24 AS hod, 48 * c - t48 AS d48 FROM tr WHERE n25 = 25)
        |SELECT k AS event_type, CAST(hod AS BIGINT) AS hour_of_day,
        |  CAST(count(*) AS BIGINT) AS n_obs,
        |  CAST(sum(d48) AS BIGINT) AS sum_detrended48,
        |  CAST((1000000::HUGEINT * sum(d48)) // (48::HUGEINT * count(*)) AS BIGINT) AS seasonal_ppm
        |FROM det GROUP BY k, hod""".stripMargin
    },
    // last-touch attribution as an as-of join (one user-keyed shuffle,
    // never the naive theta-join)
    Gate("attribution_last_touch") { (s, dir) =>
      EventOps.lastTouchAttribution(EventsAdapter.events(s, dir))
    } {
      // last-touch attribution: per purchase, the latest view/click by the
      // same user within 7 days ((t, id)-max — AsOfJoin's tie rules)
      """WITH ev AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS t FROM events),
        |conv AS (SELECT user_id, event_id, t FROM ev WHERE event_type = 'purchase'),
        |tch AS (SELECT user_id, event_id AS tid, event_type AS ttype, t AS tt FROM ev
        |        WHERE event_type IN ('view', 'click')),
        |j AS (
        |  SELECT c.event_id, c.t, t.ttype, t.tt,
        |         row_number() OVER (PARTITION BY c.event_id
        |                            ORDER BY t.tt DESC, t.tid DESC) AS rn
        |  FROM conv c JOIN tch t ON t.user_id = c.user_id
        |   AND t.tt <= c.t AND t.tt >= c.t - 604800000000),
        |att AS (SELECT event_id, ttype, tt FROM j WHERE rn = 1)
        |SELECT coalesce(a.ttype, 'unattributed') AS touch_type,
        |  CAST(count(*) AS BIGINT) AS n_conversions,
        |  CAST(sum(CASE WHEN a.ttype IS NULL THEN 0 ELSE c.t - a.tt END) AS BIGINT) AS sum_gap_us
        |FROM conv c LEFT JOIN att a USING (event_id)
        |GROUP BY 1""".stripMargin
    },
    // first-touch twin: an event-time RANGE-frame window over the
    // touch/conversion union — the exact 7-day horizon by value
    Gate("attribution_first_touch") { (s, dir) =>
      EventOps.firstTouchAttribution(EventsAdapter.events(s, dir))
    } {
      // first-touch: identical window, EARLIEST (t, id) wins — the struct
      // min of the Spark range frame in join form
      """WITH ev AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS t FROM events),
        |conv AS (SELECT user_id, event_id, t FROM ev WHERE event_type = 'purchase'),
        |tch AS (SELECT user_id, event_id AS tid, event_type AS ttype, t AS tt FROM ev
        |        WHERE event_type IN ('view', 'click')),
        |j AS (
        |  SELECT c.event_id, c.t, t.ttype, t.tt,
        |         row_number() OVER (PARTITION BY c.event_id
        |                            ORDER BY t.tt ASC, t.tid ASC) AS rn
        |  FROM conv c JOIN tch t ON t.user_id = c.user_id
        |   AND t.tt <= c.t AND t.tt >= c.t - 604800000000),
        |att AS (SELECT event_id, ttype, tt FROM j WHERE rn = 1)
        |SELECT coalesce(a.ttype, 'unattributed') AS touch_type,
        |  CAST(count(*) AS BIGINT) AS n_conversions,
        |  CAST(sum(CASE WHEN a.ttype IS NULL THEN 0 ELSE c.t - a.tt END) AS BIGINT) AS sum_gap_us
        |FROM conv c LEFT JOIN att a USING (event_id)
        |GROUP BY 1""".stripMargin
    },
    Gate("week_heatmap") { (s, dir) =>
      val ev = EventsAdapter.events(s, dir)
      ev.groupBy(
          // floor-mod form (negative-safe); epoch day 0 = Thursday, +3 → Monday 0
          expr("(pmod(t_us, 604800000000L) div 86400000000L + 3) % 7").as("weekday"),
          expr("pmod(t_us, 86400000000L) div 3600000000L").as("hour"))
        .agg(count(lit(1)).cast("long").as("n_events"))
    } {
      // hour-of-week load heatmap: pure epoch arithmetic (epoch day 0 =
      // Thursday, +3 makes Monday 0)
      """SELECT CAST((((epoch_us(ts) % 604800000000 + 604800000000) % 604800000000)
        |             // 86400000000 + 3) % 7 AS BIGINT) AS weekday,
        |       CAST(((epoch_us(ts) % 86400000000 + 86400000000) % 86400000000)
        |            // 3600000000 AS BIGINT) AS hour,
        |       CAST(count(*) AS BIGINT) AS n_events
        |FROM events GROUP BY 1, 2""".stripMargin
    },
    Gate("dp_counts") { (s, dir) =>
      CorpusOps.dpNoisyCounts(EventsAdapter.events(s, dir), groupCol = "event_type")
    } { CorpusOps.dpNoisyCountsSql("events", "event_type") }
  )
}
