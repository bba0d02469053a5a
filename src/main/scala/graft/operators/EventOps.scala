package graft.operators

import graft.functions.GeoFunctions.dq
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Generic event-stream operators (no geometry). */
object EventOps {

  /** Session-length histogram over [[sessionize]] output: sessions
    * log₂-bucketed by event count, with total events and exact-µs
    * duration mass per bucket — the engagement-depth profile (a
    * one-event-heavy histogram means the gap threshold is splitting
    * real visits). Two map-side-combinable groupBys: (user, session)
    * then the ≤64-bucket histogram.
    */
  def sessionLengthHistogram(sessions: DataFrame, tsCol: String = "ts_us",
                             userCol: String = "user_id"): DataFrame =
    sessions
      .groupBy(col(userCol), col("session_id"))
      .agg(count(lit(1)).as("_n"),
        (max(col(tsCol)) - min(col(tsCol))).as("_dur"))
      .withColumn("bucket", (length(bin(col("_n"))) - 1).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).cast("long").as("n_sessions"),
        sum(col("_n")).cast("long").as("sum_events"),
        sum(col("_dur")).cast("long").as("sum_dur_us"))

  /** Autocorrelation of the hourly event-count series at chosen lags —
    * the seasonality detector (r at lag 24 ≈ daily rhythm, 168 ≈ weekly;
    * a flat r says the load is memoryless). The series densifies over
    * the full hour spine (missing hours count 0 — skipping them would
    * fake correlation), pairs meet through an exact hour equi-join, and
    * every Pearson sum is an exact integer in DECIMAL(38,0); the one
    * r division runs last.
    *
    * Scale shape: counts are one map-side-combinable groupBy bounded by
    * the hour domain; the spine explodes from a single min/max row; per
    * lag one equi-join + bounded aggregate over the hour table, never
    * over events.
    */
  def hourlyAutocorr(events: DataFrame, lags: Seq[Int] = Seq(1, 24, 168),
                     tsCol: String = "t_us"): DataFrame = {
    require(lags.nonEmpty && lags.forall(_ >= 1), "lags must be positive")
    val counts = events.groupBy(expr(s"$tsCol div 3600000000L").as("h"))
      .agg(count(lit(1)).as("c"))
    val spine = counts.agg(min(col("h")).as("_h0"), max(col("h")).as("_h1"))
      .select(explode(sequence(col("_h0"), col("_h1"))).as("h"))
    val dense = spine.join(counts, Seq("h"), "left")
      .select(col("h"), coalesce(col("c"), lit(0L)).as("c"))
      .localCheckpoint(false)
    lags.map { lag =>
      val a = dense.select(col("h"), col("c").as("_x"))
      val b = dense.select((col("h") - lit(lag.toLong)).as("h"), col("c").as("_y"))
      a.join(b, Seq("h"))
        .agg(count(lit(1)).cast("long").as("n_pairs"),
          sum(col("_x")).as("_sx"), sum(col("_y")).as("_sy"),
          sum(dq(col("_x")) * dq(col("_y"))).as("_sxy"),
          sum(dq(col("_x")) * dq(col("_x"))).as("_sxx"),
          sum(dq(col("_y")) * dq(col("_y"))).as("_syy"))
        .select(lit(lag.toLong).as("lag"), col("n_pairs"),
          ((dq(col("n_pairs")) * col("_sxy") - dq(col("_sx")) * dq(col("_sy"))).cast("double")
            / (sqrt((dq(col("n_pairs")) * col("_sxx") - dq(col("_sx")) * dq(col("_sx"))).cast("double"))
              * sqrt((dq(col("n_pairs")) * col("_syy") - dq(col("_sy")) * dq(col("_sy"))).cast("double"))))
            .as("r"))
    }.reduce(_.unionByName(_))
  }

  /** Per-user engagement lifespan card: first/last activity, event
    * count, distinct active days, the calendar span those days sit in,
    * and the activity ratio (active days / span days) — the retention
    * surface cohort studies slice. All-integer except the one final
    * ratio.
    *
    * Scale shape: one map-side-combinable groupBy; the distinct-day
    * count partial-aggregates on (user, day) first.
    */
  def userLifespan(events: DataFrame, tsCol: String = "t_us",
                   userCol: String = "user_id"): DataFrame = {
    val dayUs = 86400000000L
    val day = expr(s"$tsCol div ${dayUs}L")
    events
      .groupBy(col(userCol))
      .agg(min(col(tsCol)).cast("long").as("first_us"),
        max(col(tsCol)).cast("long").as("last_us"),
        count(lit(1)).cast("long").as("n_events"),
        countDistinct(day).cast("long").as("n_active_days"))
      .withColumn("span_days",
        (expr(s"last_us div ${dayUs}L") - expr(s"first_us div ${dayUs}L") + lit(1L)).cast("long"))
      .withColumn("activity_ratio",
        col("n_active_days").cast("double") / col("span_days").cast("double"))
  }

  /** First-order transition matrix between event types — the Markov
    * structure of a clickstream (which action follows which, the input
    * to next-action prediction and to funnel design). Per (from, to):
    * the transition count and its row-conditional probability
    * p = n / Σ_to n (ties none — counts are exact; the one division is
    * last).
    *
    * Scale shape: one per-user lag window (the sessionize shuffle), a
    * map-side-combinable (from, to) count bounded by |types|², and a
    * row-total window over that bounded table.
    */
  def typeTransitions(events: DataFrame, tsCol: String = "t_us",
                      userCol: String = "user_id", idCol: String = "event_id",
                      typeCol: String = "event_type"): DataFrame = {
    val w = Window.partitionBy(userCol).orderBy(col(tsCol), col(idCol))
    val counts = events
      .withColumn("_to", lead(col(typeCol), 1).over(w))
      .filter(col("_to").isNotNull)
      .groupBy(col(typeCol).as("from_type"), col("_to").as("to_type"))
      .agg(count(lit(1)).cast("long").as("n"))
    counts
      .withColumn("_row", sum(col("n")).over(Window.partitionBy(col("from_type"))))
      .withColumn("p", col("n").cast("double") / col("_row").cast("double"))
      .select(col("from_type"), col("to_type"), col("n"), col("p"))
  }

  /** Time-to-convert histogram between two event types: for every
    * `toType` event with at least one earlier `fromType` event by the
    * same user, the latency from the MOST RECENT preceding `fromType`
    * (the product-analytics "last touch" convention), log₂-bucketed in
    * whole seconds by the exact bit-length trick. Zero-latency pairs
    * (same microsecond) land in a dedicated bucket −1.
    *
    * Scale shape: one per-user ordered window carrying a conditional
    * running max (the last fromType time so far — constant state, no
    * join), then a ≤ 64-bucket map-side-combinable count.
    */
  def conversionLatency(events: DataFrame, fromType: String, toType: String,
                        tsCol: String = "t_us", userCol: String = "user_id",
                        idCol: String = "event_id", typeCol: String = "event_type"): DataFrame = {
    val w = Window.partitionBy(userCol).orderBy(col(tsCol), col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    events
      .withColumn("_lastFrom", max(when(col(typeCol) === fromType, col(tsCol))).over(w))
      .filter(col(typeCol) === toType && col("_lastFrom").isNotNull)
      .withColumn("_sec", ((col(tsCol) - col("_lastFrom")) / lit(1000000L)).cast("long"))
      .withColumn("bucket",
        when(col("_sec") < 1L, lit(-1L))
          .otherwise((length(bin(col("_sec"))) - 1).cast("long")))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).cast("long").as("n_conversions"),
        sum(col("_sec")).cast("long").as("sum_sec"))
  }

  /** Gap-based sessionization: a new session starts at the first event of
    * a user or after a silence > gapMinutes. Same conditional-cumulative
    * -sum idiom as tripleg segmentation (SURVEY.md §2.5). Adds a per-user
    * dense `session_id`.
    */
  def sessionize(events: DataFrame, gapMinutes: Double = 30.0,
                 tsCol: String = "ts_us", userCol: String = "user_id", idCol: String = "event_id"): DataFrame = {
    val gapUs = (gapMinutes * 60e6).toLong
    val w = Window.partitionBy(userCol).orderBy(col(tsCol), col(idCol))
    val prev = lag(col(tsCol), 1).over(w)
    val newSession = when(prev.isNull || col(tsCol) - prev > gapUs, 1L).otherwise(0L)
    events.withColumn("session_id", sum(newSession).over(w) - 1L)
  }

  /** Ordered funnel analysis: how many users complete each prefix of a
    * step sequence, where step i+1 must occur strictly after the user's
    * earliest completion of step i (the standard strict-order funnel;
    * earliest-match semantics make the result unique). Optional
    * conversion window bounds the whole journey from the step-0 time.
    *
    * Shape: one min-aggregation per step, each joined on user_id — the
    * per-user frames after step 0 are tiny (≤ one row per user), so every
    * post-first join hash-joins on the same user_id partitioning and AQE
    * broadcasts the shrinking side. No window over the raw stream, no
    * per-user collect.
    *
    * @return (step, event_type, users) — step is 1-based prefix length
    */
  def funnel(events: DataFrame, steps: Seq[String], windowMinutes: Option[Double] = None,
             tsCol: String = "ts_us", userCol: String = "user_id",
             typeCol: String = "event_type"): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val winUs = windowMinutes.map(m => (m * 60e6).toLong)
    // scanLeft: frame i holds, per user who completed the prefix 0..i,
    // the earliest completion times _t0.._ti
    val firstStep = events.filter(col(typeCol) === steps.head)
      .groupBy(col(userCol)).agg(min(col(tsCol)).as("_t0"))
    val prefixFrames = steps.zipWithIndex.tail.scanLeft(firstStep) { case (prev, (s, i)) =>
      val bound = winUs.map(w => col(tsCol) <= col("_t0") + w).getOrElse(lit(true))
      val aggs = (0 until i).map(j => first(col(s"_t$j")).as(s"_t$j")) :+
        min(col(tsCol)).as(s"_t$i")
      events.filter(col(typeCol) === s)
        .join(prev, userCol)
        .filter(col(tsCol) > col(s"_t${i - 1}") && bound)
        .groupBy(col(userCol))
        .agg(aggs.head, aggs.tail: _*)
    }
    prefixFrames.zipWithIndex.map { case (f, i) =>
      f.agg(count(lit(1)).as("users"))
        .select(lit((i + 1).toLong).as("step"), lit(steps(i)).as("event_type"), col("users"))
    }.reduce(_.unionAll(_))
  }

  /** Weekly retention cohorts: users grouped by the epoch-week of their
    * first event; for each cohort and week offset, how many of its users
    * were active that week. Two map-side-combinable aggregations and one
    * join on user_id — the canonical cohort shape.
    *
    * @return (cohort_week, week_offset, users) with cohort_week an epoch
    *         week index (floor(us / week))
    */
  def retentionCohorts(events: DataFrame, tsCol: String = "ts_us",
                       userCol: String = "user_id"): DataFrame = {
    val weekUs = 7L * 24 * 3600 * 1000000L
    val weekOf = (t: org.apache.spark.sql.Column) => floor(t / weekUs).cast("long")
    val firsts = events.groupBy(col(userCol))
      .agg(weekOf(min(col(tsCol))).as("cohort_week"))
    val active = events
      .select(col(userCol), weekOf(col(tsCol)).as("_w")).distinct()
    active.join(firsts, userCol)
      .groupBy(col("cohort_week"), (col("_w") - col("cohort_week")).as("week_offset"))
      .agg(count(lit(1)).as("users"))
  }

  /** Goh & Barabási (2008) burstiness parameter B = (σ−μ)/(σ+μ) of each
    * user's inter-event times: B → −1 for clockwork activity, 0 for a
    * Poisson process, → 1 for extreme burst-silence alternation. The
    * gate surface carries the exact integer moments (n, Σgap, Σgap²,
    * in whole seconds so the squares stay well inside a long); the one
    * double B derives from them through a fixed expression tree — IEEE
    * division and sqrt are correctly rounded, so the value is
    * engine-exact. One window + one map-side-combinable groupBy.
    */
  def burstiness(events: DataFrame, tsCol: String = "t_us",
                 userCol: String = "user_id", idCol: String = "event_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    val moments = events
      .withColumn("_prev", lag(col(tsCol), 1).over(w))
      .filter(col("_prev").isNotNull)
      .withColumn("_gap_s", expr(s"($tsCol - _prev) div 1000000"))
      .groupBy(col(userCol))
      .agg(count(lit(1)).cast("long").as("n_gaps"),
        sum(col("_gap_s")).cast("long").as("sum_gap_s"),
        sum(col("_gap_s") * col("_gap_s")).cast("long").as("sum_gap_sq"))
    val mu = col("sum_gap_s").cast("double") / col("n_gaps").cast("double")
    val variance = greatest(
      col("sum_gap_sq").cast("double") / col("n_gaps").cast("double") - mu * mu, lit(0.0))
    val sigma = sqrt(variance)
    moments.withColumn("burstiness",
      when(sigma + mu === 0.0, lit(0.0)).otherwise((sigma - mu) / (sigma + mu)))
  }

  /** Per-user event-rate anomaly detection: flag time buckets whose event
    * count sits more than `zThreshold` standard deviations above that
    * user's own bucket-rate distribution — the ingest-monitoring primitive
    * behind "this feed just 50×'d, is the crawler looping?" alerts.
    *
    * The baseline is over the user's OBSERVED buckets (silent hours carry
    * no row and do not dilute the variance — documented semantics, not an
    * accident: for sparse streams an all-zeros spine would flag every
    * active hour).
    *
    * Scale shape: one (user, bucket) map-side-combinable count, one
    * per-user moment aggregate (n, Σc, Σc²), one equi-join keyed on the
    * user. The z² decision is cross-multiplied — `(c·n − Σc)² >
    * z²·(n·Σc² − (Σc)²)` — in DECIMAL(38,0) so the squares are exact at
    * any realistic count (a long² would overflow past ~3·10⁹·√n), and no
    * float mean/stddev ever exists.
    */
  def rateAnomalies(events: DataFrame, zThreshold: Long = 3L,
                    bucketUs: Long = 3600000000L, tsCol: String = "t_us",
                    userCol: String = "user_id"): DataFrame = {
    require(zThreshold > 0, "rateAnomalies: zThreshold must be positive")
    require(bucketUs > 0, "rateAnomalies: bucketUs must be positive")
    val counts = events
      .withColumn("bucket_us", expr(s"($tsCol div ${bucketUs}L) * ${bucketUs}L"))
      .groupBy(col(userCol), col("bucket_us"))
      .agg(count(lit(1)).cast("long").as("n_events"))
    val moments = counts
      .groupBy(col(userCol))
      .agg(count(lit(1)).cast("long").as("n_buckets"),
        sum(col("n_events")).cast("long").as("sum_c"),
        sum(col("n_events") * col("n_events")).cast("long").as("sum_c2"))
    val dec = "decimal(38,0)"
    counts.join(moments, Seq(userCol))
      .withColumn("dev_num", col("n_events") * col("n_buckets") - col("sum_c"))
      .withColumn("var_num",
        col("n_buckets") * col("sum_c2") - col("sum_c") * col("sum_c"))
      .filter(col("dev_num") > 0 &&
        col("dev_num").cast(dec) * col("dev_num").cast(dec) >
          lit(zThreshold * zThreshold).cast(dec) * col("var_num").cast(dec))
      .select(col(userCol), col("bucket_us"), col("n_events"),
        col("n_buckets"), col("sum_c"), col("sum_c2"))
  }

  /** Log₂-bucketed inter-event gap histogram per event type — the
    * empirical distribution behind every session-gap / timeout choice
    * (the lengthHistogram bit-length trick applied to whole-second
    * gaps; bucket = bitlength(gap_s)−1, gap 0 lands in bucket −1's
    * stead as bucket 0 via greatest). Map-side-combinable after the
    * per-user lag window — the one shuffle keys on the user.
    */
  def gapHistogram(events: DataFrame, tsCol: String = "t_us",
                   userCol: String = "user_id", typeCol: String = "event_type",
                   idCol: String = "event_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    events
      .withColumn("_prev", lag(col(tsCol), 1).over(w))
      .filter(col("_prev").isNotNull)
      .withColumn("_gap_s", expr(s"($tsCol - _prev) div 1000000"))
      .withColumn("bucket",
        greatest(length(bin(col("_gap_s"))) - 1, lit(0)).cast("long"))
      .groupBy(col(typeCol), col("bucket"))
      .agg(count(lit(1)).cast("long").as("n_gaps"),
        sum(col("_gap_s")).cast("long").as("sum_gap_s"))
      .withColumn("bucket_lo", expr("shiftleft(cast(1 as bigint), cast(bucket as int))"))
  }

  /** Hour-of-day activity profile with a uniformity chi-square — the
    * circadian-rhythm check (a human's clock shows day/night structure; a
    * bot's doesn't — and a feed whose "users" are uniform around the
    * clock is telling you something).
    *
    * The chi-square against uniform needs no 24-hour spine: absent hours
    * contribute c = 0 to Σc², and algebraically
    * `Σ_h (c_h − n/24)² = Σc² − n²/24`, so `χ²·n = 24·Σc² − n²` exactly
    * — kept in DECIMAL(38,0). The nonuniform flag is the integer
    * cross-compare `100·(24Σc² − n²) > 4973·n` (χ²₀.₀₀₁ at df 23 ≈
    * 49.73); no float statistic exists.
    *
    * Scale shape: one (user, hour) map-side-combinable count, one
    * per-user aggregate. ≤ 24 rows per user into the second exchange.
    */
  def circadianProfile(events: DataFrame, tsCol: String = "t_us",
                       userCol: String = "user_id"): DataFrame = {
    val dec = "decimal(38,0)"
    events
      // pmod-to-day-micros then integral divide: `(t div H) % 24` yields
      // negative buckets for pre-epoch stamps (hourlyProfile's documented
      // wrap); floorDiv(t,H) mod 24 == pmod(t, 24H) div H for all longs.
      .withColumn("_hour", expr(s"(pmod($tsCol, 86400000000L) div 3600000000L)"))
      .groupBy(col(userCol), col("_hour"))
      .agg(count(lit(1)).cast("long").as("_c"))
      .groupBy(col(userCol))
      .agg(sum(col("_c")).cast("long").as("n_events"),
        count(lit(1)).cast("long").as("n_active_hours"),
        max(col("_c")).cast("long").as("peak_hour_events"),
        sum(col("_c").cast(dec) * col("_c").cast(dec)).as("sum_c2"))
      .withColumn("chi2_num",
        lit(24L).cast(dec) * col("sum_c2") -
          col("n_events").cast(dec) * col("n_events").cast(dec))
      .withColumn("nonuniform",
        lit(100L).cast(dec) * col("chi2_num") >
          lit(4973L).cast(dec) * col("n_events").cast(dec))
  }

  /** Quantized unit-circle coordinates of the 24 clock hours — computed
    * ONCE in Scala and injected as literals into both the Spark plan and
    * the DuckDB oracle, so engine parity never depends on libm's sin/cos
    * rounding. Scale 1e6 keeps per-user resultants inside exact-long
    * range up to ~10⁹ events per user.
    */
  val hourCosQ: IndexedSeq[Long] =
    (0 until 24).map(h => math.floor(math.cos(2 * math.Pi * h / 24) * 1e6 + 0.5).toLong)
  val hourSinQ: IndexedSeq[Long] =
    (0 until 24).map(h => math.floor(math.sin(2 * math.Pi * h / 24) * 1e6 + 0.5).toLong)

  /** Diurnal concentration via circular statistics (the Rayleigh test):
    * per user, the resultant vector of event hours on the 24-hour clock
    * — R̄ near 1 means activity packs into one time of day (a strongly
    * diurnal human/bot), near 0 a uniform around-the-clock pattern. The
    * circular-statistics complement of [[circadianProfile]]'s χ²
    * (χ² sees ANY nonuniformity; the Rayleigh statistic specifically
    * detects unimodal concentration, the Fisher 1993 textbook pairing).
    *
    * Exactness: hour weights come from the shared quantized tables
    * above, so Rx/Ry are exact integer sums; R̄² = (Rx² + Ry²)/(n·10⁶)²
    * is computed from exact DECIMAL(38,0) squares with one final double
    * division, and the Rayleigh decision z = n·R̄² > 2.995 (p ≈ 0.05)
    * is the pure integer cross-compare 1000·(Rx²+Ry²) > 2995·n·10¹².
    *
    * Scale shape: one (user, hour) map-side-combinable count, one
    * ≤ 24-rows-per-user aggregate. No joins, no windows.
    */
  def diurnalConcentration(events: DataFrame, tsCol: String = "t_us",
                           userCol: String = "user_id"): DataFrame = {
    val dec = "decimal(38,0)"
    val cosA = typedlit(hourCosQ.toArray)
    val sinA = typedlit(hourSinQ.toArray)
    events
      // pmod-to-day-micros then integral divide: `(t div H) % 24` is wrong
      // for pre-epoch stamps (div truncates toward zero, % keeps the
      // dividend's sign → negative index silently wraps element_at from
      // the END); floorDiv(t,H) mod 24 == pmod(t, 24H) div H for all longs
      .withColumn("_hour", expr(s"(pmod($tsCol, 86400000000L) div 3600000000L)").cast("int"))
      .groupBy(col(userCol), col("_hour"))
      .agg(count(lit(1)).cast("long").as("_c"))
      .groupBy(col(userCol))
      .agg(sum(col("_c")).cast("long").as("n_events"),
        sum(col("_c") * element_at(cosA, col("_hour") + 1)).cast("long").as("rx_q"),
        sum(col("_c") * element_at(sinA, col("_hour") + 1)).cast("long").as("ry_q"))
      .withColumn("_r2",
        col("rx_q").cast(dec) * col("rx_q").cast(dec) +
          col("ry_q").cast(dec) * col("ry_q").cast(dec))
      .withColumn("mrl2",
        col("_r2").cast("double") /
          (col("n_events").cast("double") * col("n_events").cast("double") * 1e12))
      .withColumn("concentrated",
        lit(1000L).cast(dec) * col("_r2") >
          lit(2995L).cast(dec) * col("n_events").cast(dec) * lit(1000000000000L).cast(dec))
      .drop("_r2")
  }

  /** DuckDB twin of [[diurnalConcentration]] — same injected tables. */
  def diurnalConcentrationSql(): String = {
    val cosL = hourCosQ.mkString("[", ", ", "]")
    val sinL = hourSinQ.mkString("[", ", ", "]")
    s"""WITH hc AS (
       |  SELECT user_id,
       |         CAST(((epoch_us(ts) % 86400000000 + 86400000000) % 86400000000)
       |              // 3600000000 AS INT) AS h,
       |         CAST(count(*) AS BIGINT) AS c
       |  FROM events GROUP BY 1, 2),
       |r AS (
       |  SELECT user_id, CAST(sum(c) AS BIGINT) AS n_events,
       |         CAST(sum(c * ($cosL)[h + 1]) AS BIGINT) AS rx_q,
       |         CAST(sum(c * ($sinL)[h + 1]) AS BIGINT) AS ry_q
       |  FROM hc GROUP BY user_id),
       |r2 AS (
       |  SELECT *, CAST(rx_q AS HUGEINT) * rx_q + CAST(ry_q AS HUGEINT) * ry_q AS rr
       |  FROM r)
       |SELECT user_id, n_events, rx_q, ry_q,
       |       CAST(rr AS DOUBLE)
       |         / (CAST(n_events AS DOUBLE) * CAST(n_events AS DOUBLE) * 1e12) AS mrl2,
       |       1000 * rr > 2995 * CAST(n_events AS HUGEINT) * 1000000000000 AS concentrated
       |FROM r2""".stripMargin
  }

  /** RFM segmentation (the classic recency/frequency/monetary customer
    * table, Hughes 1994) over the event log: per user, time since last
    * event, event count, and exact milli-quantized value sum, each
    * scored into `buckets` equal-rank bands (5 = most recent / most
    * frequent / highest value). Banding uses the deterministic global
    * rank under (metric, user_id) with `bucket = ⌊b·(rank−1)/n⌋ + 1` —
    * NOT ntile (whose remainder placement is engine-specific) — so the
    * table is engine-exact including ties.
    *
    * Scale shape: one per-user aggregate, then three
    * [[CorpusOps.globalRank]] passes (range repartition + partition
    * offsets — no single-partition window), one broadcast of the global
    * (max t, user count) row. All integer outputs.
    */
  def rfmSegmentation(events: DataFrame, tsCol: String = "t_us", userCol: String = "user_id",
                      valueCol: String = "value", buckets: Int = 5,
                      partitions: Int = 32): DataFrame = {
    require(buckets >= 2, "need at least 2 buckets")
    val per = events.groupBy(col(userCol).as("user_id"))
      .agg(max(col(tsCol)).cast("long").as("_last_t"),
        count(lit(1)).cast("long").as("frequency"),
        sum(floor(col(valueCol) * 1000.0 + lit(0.5)).cast("long")).cast("long").as("monetary_q"))
    val glob = per.agg(max(col("_last_t")).as("_ref"), count(lit(1)).as("_n"))
    def bucketOf(rankCol: Column, nCol: Column): Column =
      (floor(lit(buckets.toLong) * (rankCol - 1L) / nCol) + 1L).cast("long")
    val withR = CorpusOps.globalRank(per, "_last_t", "user_id", "_rr", partitions)
    val withF = CorpusOps.globalRank(per.select(col("user_id"), col("frequency")),
      "frequency", "user_id", "_rf", partitions).select(col("user_id").as("_uf"), col("_rf"))
    val withM = CorpusOps.globalRank(per.select(col("user_id"), col("monetary_q")),
      "monetary_q", "user_id", "_rm", partitions).select(col("user_id").as("_um"), col("_rm"))
    withR
      .join(withF, col("user_id") === col("_uf")).drop("_uf")
      .join(withM, col("user_id") === col("_um")).drop("_um")
      .crossJoin(broadcast(glob))
      .select(col("user_id"),
        (col("_ref") - col("_last_t")).cast("long").as("recency_us"),
        col("frequency"), col("monetary_q"),
        bucketOf(col("_rr"), col("_n")).as("r_bucket"),
        bucketOf(col("_rf"), col("_n")).as("f_bucket"),
        bucketOf(col("_rm"), col("_n")).as("m_bucket"),
        (bucketOf(col("_rr"), col("_n")) * 100L + bucketOf(col("_rf"), col("_n")) * 10L +
          bucketOf(col("_rm"), col("_n"))).cast("long").as("rfm_code"))
  }

  /** DuckDB twin of [[rfmSegmentation]]. */
  def rfmSegmentationSql(buckets: Int = 5): String =
    s"""WITH per AS (
       |  SELECT user_id, max(epoch_us(ts)) AS last_t,
       |         CAST(count(*) AS BIGINT) AS frequency,
       |         CAST(sum(CAST(floor(value * 1000.0 + 0.5) AS BIGINT)) AS BIGINT) AS monetary_q
       |  FROM events GROUP BY user_id),
       |g AS (SELECT max(last_t) AS ref, count(*) AS n FROM per),
       |r AS (
       |  SELECT user_id, last_t, frequency, monetary_q,
       |         row_number() OVER (ORDER BY last_t, user_id) AS rr,
       |         row_number() OVER (ORDER BY frequency, user_id) AS rf,
       |         row_number() OVER (ORDER BY monetary_q, user_id) AS rm
       |  FROM per)
       |SELECT user_id, CAST(g.ref - last_t AS BIGINT) AS recency_us, frequency, monetary_q,
       |       CAST(floor($buckets * (rr - 1) / g.n) + 1 AS BIGINT) AS r_bucket,
       |       CAST(floor($buckets * (rf - 1) / g.n) + 1 AS BIGINT) AS f_bucket,
       |       CAST(floor($buckets * (rm - 1) / g.n) + 1 AS BIGINT) AS m_bucket,
       |       CAST((floor($buckets * (rr - 1) / g.n) + 1) * 100
       |            + (floor($buckets * (rf - 1) / g.n) + 1) * 10
       |            + (floor($buckets * (rm - 1) / g.n) + 1) AS BIGINT) AS rfm_code
       |FROM r, g""".stripMargin

  /** Typed extraction of the JSON `props` payload — schema-driven
    * `from_json` (codegen'd, scan-stage, null on malformed rows), the
    * Spark-first alternative to regex scraping a semi-structured column.
    * Adds `prop_k`; extend the struct schema as payloads grow.
    */
  def parseProps(events: DataFrame, propsCol: String = "props"): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructType}
    events
      .withColumn("_p", from_json(col(propsCol), new StructType().add("k", LongType)))
      .withColumn("prop_k", col("_p").getField("k"))
      .drop("_p")
  }

  /** Per-type rollup of the extracted payload: event count, payload sum /
    * range / distinct cardinality — the "what is actually in this event
    * stream" profile. One map-side-combinable groupBy over the
    * [[parseProps]] scan; |event types| rows out (exact count_distinct
    * is the oracle surface; swap in approx_count_distinct / [[Hll]] at
    * 100 TB if payload cardinality explodes).
    */
  def propsSummary(events: DataFrame, typeCol: String = "event_type",
                   propsCol: String = "props"): DataFrame =
    parseProps(events, propsCol)
      .groupBy(col(typeCol))
      .agg(count(lit(1)).cast("long").as("n_events"),
        sum(col("prop_k")).cast("long").as("sum_k"),
        min(col("prop_k")).cast("long").as("min_k"),
        max(col("prop_k")).cast("long").as("max_k"),
        countDistinct(col("prop_k")).cast("long").as("n_distinct_k"))

  /** Time-decayed event counts per event type — the freshness-weighted
    * activity monitor ("how alive is this source *lately*") with an
    * exponential half-life. Decay is exact: age in whole half-lives
    * shifts a power-of-two weight, `w_q = 2^40 >> min(age_hl, 40)` (0
    * beyond 40 half-lives), so `decayed_q = Σ w_q` is pure long
    * arithmetic — no `exp()`, no float accumulation order, bit-identical
    * in any engine. The reference instant is the stream's own max
    * timestamp (a 1-row broadcast), so the result is a deterministic
    * function of the data alone.
    *
    * Scale shape: one 1-row aggregate broadcast + a scan-stage weight
    * decision + one map-side-combinable groupBy over |event types| rows.
    */
  def decayedCounts(events: DataFrame, halfLifeHours: Long = 24L,
                    tsCol: String = "t_us", typeCol: String = "event_type"): DataFrame = {
    require(halfLifeHours > 0, "decayedCounts: halfLifeHours must be positive")
    val hlUs = halfLifeHours * 3600000000L
    val ref = events.agg(max(col(tsCol)).as("_ref_us"))
    events.crossJoin(broadcast(ref))
      .withColumn("_age_hl", expr(s"(_ref_us - $tsCol) div ${hlUs}L"))
      .withColumn("_w_q", when(col("_age_hl") >= 40L, lit(0L))
        .otherwise(expr("shiftright(cast(1099511627776 as bigint), cast(_age_hl as int))")))
      .groupBy(col(typeCol))
      .agg(count(lit(1)).cast("long").as("n_events"),
        // 2^40-scaled weights summed in DECIMAL(38,0): a long Σ would
        // overflow past ~8·10⁶ fully-fresh events per type — fine at test
        // scale, not at 100 TB (the embedding-covariance contract)
        sum(col("_w_q").cast("decimal(38,0)")).as("decayed_q"))
  }

  /** Top-K n-step event-type paths over sessionized streams — the
    * "user journey" card product analytics act on: [[typeTransitions]]
    * is the memoryless 1-step view, this surfaces the actual multi-step
    * flows (signup→view→purchase vs view→view→view) with multiplicity.
    * Paths rank by occurrence count, path string as tie-break, so the
    * top-K is a total order and engine-exact.
    *
    * Scale shape: session sequences assemble with one (user, session)
    * aggregation (sort_array over (ts, id, type) structs — collect_list
    * alone is arrival-ordered and nondeterministic); n-grams come from
    * the codegen [[TextAnalysis.ngrams]] kernel over the per-session
    * type string; the count groupBy map-side combines and the top-K
    * plans as TakeOrdered — no global sort of the path table.
    */
  def sessionPaths(events: DataFrame, gapMinutes: Double = 30.0, n: Int = 3,
                   topK: Int = 20, tsCol: String = "ts_us", userCol: String = "user_id",
                   idCol: String = "event_id", typeCol: String = "event_type"): DataFrame = {
    require(n >= 2 && topK >= 1, "need path length >= 2 and topK >= 1")
    val sess = sessionize(events, gapMinutes, tsCol, userCol, idCol)
    val seqs = sess
      .groupBy(col(userCol), col("session_id"))
      .agg(array_join(
        transform(
          sort_array(collect_list(struct(col(tsCol), col(idCol), col(typeCol)))),
          s => s.getField(typeCol)), " ").as("_path"))
    seqs
      .select(explode(TextAnalysis.ngrams(col("_path"), n)).as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).cast("long").as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("path"))
      .limit(topK)
  }

  /** Within-session association lift (the market-basket card over event
    * types, cf. Agrawal & Srikant 1994): for each unordered type pair,
    * the number of sessions containing BOTH, each alone, and
    *   lift = N·n_ab / (n_a·n_b)
    * — lift > 1 means the types co-occur beyond independence (the
    * unordered complement of [[sessionPaths]]' ordered journeys).
    * Counts are session-set semantics (distinct types per session), all
    * exact integers; lift is one double division.
    *
    * Scale shape: sessions collapse to distinct (session, type) rows
    * (map-side combinable, ≤ |types| per session); the pair join is a
    * self-join ON the session key — fan-out ≤ |types|² per session,
    * never sessions²; marginals and the 1-row total broadcast back onto
    * the ≤|types|²-row pair table.
    */
  def sessionLift(events: DataFrame, gapMinutes: Double = 30.0,
                  tsCol: String = "ts_us", userCol: String = "user_id",
                  idCol: String = "event_id", typeCol: String = "event_type"): DataFrame = {
    val st = sessionize(events, gapMinutes, tsCol, userCol, idCol)
      .select(col(userCol).as("_u"), col("session_id").as("_s"), col(typeCol).as("_t"))
      .distinct()
    val total = st.select(col("_u"), col("_s")).distinct()
      .agg(count(lit(1)).cast("long").as("n_sessions"))
    val marg = st.groupBy(col("_t")).agg(count(lit(1)).cast("long").as("_n"))
    val a = st.select(col("_u"), col("_s"), col("_t").as("type_a"))
    val b = st.select(col("_u"), col("_s"), col("_t").as("type_b"))
    a.join(b, Seq("_u", "_s"))
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).cast("long").as("n_both"))
      .join(broadcast(marg.select(col("_t").as("type_a"), col("_n").as("n_a"))), Seq("type_a"))
      .join(broadcast(marg.select(col("_t").as("type_b"), col("_n").as("n_b"))), Seq("type_b"))
      .crossJoin(broadcast(total))
      .withColumn("lift",
        (col("n_sessions") * col("n_both")).cast("double") /
          (col("n_a") * col("n_b")).cast("double"))
      .select(col("type_a"), col("type_b"), col("n_both"),
        col("n_a"), col("n_b"), col("n_sessions"), col("lift"))
  }

  /** Survival / at-risk table with right-censoring — the exact-integer
    * input of a Kaplan-Meier curve (time from a user's first `fromType`
    * event to their first subsequent `toType` event; users who never
    * convert are CENSORED at the end of the observed stream, which
    * [[conversionLatency]]'s converted-only histogram cannot express —
    * dropping censored users biases time-to-convert optimistic). Per
    * log₂-second bucket b: conversions observed in b, censorings in b,
    * and the at-risk count n_b = users whose horizon (conversion or
    * censor time) falls in bucket ≥ b — the (d_b, n_b) pairs a report
    * layer turns into Π(1 − d/n). Everything integer: micro-second
    * differences floor-divided to seconds, bit-length buckets; no float
    * until (at most) the report's own product.
    *
    * Scale shape: first-event and first-conversion are map-side-
    * combinable per-user min aggregates (the conversion min is
    * conditional on ts ≥ t0 — one equi-join on user, never an
    * inequality join); the stream end rides in as a 1-row broadcast;
    * buckets collapse to a ≤64-row table and the at-risk suffix sum
    * windows over that bounded table only.
    */
  def survivalTable(events: DataFrame, fromType: String = "signup",
                    toType: String = "purchase", tsCol: String = "t_us",
                    typeCol: String = "event_type", userCol: String = "user_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t0s = events.filter(col(typeCol) === fromType)
      .groupBy(col(userCol)).agg(min(col(tsCol)).as("_t0"))
    val ref = events.agg(max(col(tsCol)).as("_ref"))
    val conv = t0s
      .join(events.filter(col(typeCol) === toType).select(col(userCol), col(tsCol).as("_ct")),
        Seq(userCol), "left")
      .groupBy(col(userCol), col("_t0"))
      .agg(min(when(col("_ct") >= col("_t0"), col("_ct"))).as("_conv"))
    val users = conv.crossJoin(broadcast(ref))
      .withColumn("observed", col("_conv").isNotNull)
      .withColumn("_sec",
        expr("(coalesce(_conv, _ref) - _t0) div 1000000"))
      .withColumn("bucket", (length(bin(col("_sec"))) - 1).cast("long"))
    val byBucket = users.groupBy(col("bucket"))
      .agg(sum(when(col("observed"), 1L).otherwise(0L)).as("n_events"),
        sum(when(col("observed"), 0L).otherwise(1L)).as("n_censored"))
    // suffix sum over the <=64-row bucket table: at-risk at bucket b =
    // every user whose horizon bucket is >= b (bucket-granular KM)
    val w = Window.orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byBucket
      .withColumn("n_at_risk", sum(col("n_events") + col("n_censored")).over(w))
      .withColumn("bucket_lo", expr("shiftleft(cast(1 as bigint), cast(bucket as int))"))
      .select(col("bucket"), col("bucket_lo"), col("n_at_risk"),
        col("n_events"), col("n_censored"))
  }

  /** Latest row per key — the CDC/compaction primitive behind "current
    * state per entity" views (latest crawl snapshot per URL, last profile
    * update per user, newest version per document): one struct-max
    * aggregate per key, tie-broken by id so the result is deterministic
    * even when two rows share a timestamp.
    *
    * Scale shape: max of a (ts, id) struct is MAP-SIDE COMBINABLE — the
    * one shuffle moves a single candidate row per key per input
    * partition. The row_number-over-window formulation every SQL
    * cookbook reaches for instead shuffles and SORTS every raw row per
    * key; at 100 TB that is the difference between a partial-agg
    * exchange and a full-data sort.
    */
  def latestSnapshot(events: DataFrame, keyCols: Seq[String],
                     tsCol: String = "t_us", idCol: String = "event_id"): DataFrame = {
    require(keyCols.nonEmpty, "latestSnapshot: need at least one key column")
    events
      .groupBy(keyCols.map(col): _*)
      .agg(max(struct(col(tsCol), col(idCol))).as("_m"),
        count(lit(1)).cast("long").as("n_events"))
      .select(keyCols.map(col) ++ Seq(
        col(s"_m.$tsCol").as(tsCol), col(s"_m.$idCol").as(idCol),
        col("n_events")): _*)
  }

  /** Last-touch marketing attribution: credit each conversion to the
    * most recent touch event by the same user within the attribution
    * window — the default model of every web-analytics stack (first/
    * linear/time-decay are variants of the same point-in-time lookup).
    * Runs on [[AsOfJoin.asOf]]: union + one per-user ordered window, so
    * ONE shuffle on the user key and a linear scan — never the
    * theta-join a naive `t_touch <= t_conv` formulation explodes into
    * (the same BNLJ class the plan lint hunts).
    *
    * Tie rules are [[AsOfJoin]]'s, deterministic: a touch at exactly
    * the conversion instant matches; equal-timestamp touches break on
    * the highest event id. Conversions with no touch inside the window
    * report as 'unattributed' rather than dropping — the column every
    * honest attribution table carries.
    *
    * @return (touch_type, n_conversions, sum_gap_us) — gap totals
    *         support mean-latency readouts without a second pass
    */
  def lastTouchAttribution(events: DataFrame, conversionType: String = "purchase",
                           touchTypes: Seq[String] = Seq("view", "click"),
                           windowUs: Long = 7L * 86400000000L,
                           typeCol: String = "event_type", idCol: String = "event_id",
                           tsCol: String = "t_us", userCol: String = "user_id"): DataFrame = {
    require(touchTypes.nonEmpty && windowUs > 0, "need touch types and a positive window")
    val conv = events.filter(col(typeCol) === conversionType)
      .select(col(userCol), col(idCol), col(tsCol))
    val touch = events.filter(col(typeCol).isin(touchTypes: _*))
      .select(col(userCol), col(idCol).as("touch_id"),
        col(typeCol).as("touch_type"), col(tsCol))
    AsOfJoin.asOf(conv, touch, keyCol = userCol, tsCol = tsCol,
        rightPrefix = "t_", tiebreakCol = Some("touch_id"),
        toleranceUs = Some(windowUs))
      .groupBy(coalesce(col("t_touch_type"), lit("unattributed")).as("touch_type"))
      .agg(count(lit(1)).cast("long").as("n_conversions"),
        sum(coalesce(col(tsCol) - col(s"t_$tsCol"), lit(0L)))
          .cast("long").as("sum_gap_us"))
  }

  /** First-touch attribution — the acquisition-credit twin of
    * [[lastTouchAttribution]]: each conversion credits the EARLIEST
    * touch inside the attribution window. Where last-touch is an as-of
    * lookup, first-touch is a RANGE-frame window aggregate: union the
    * touches and conversions, order by event time per user, and take
    * the min touch struct over `RANGE BETWEEN windowUs PRECEDING AND
    * CURRENT ROW` — the event-time frame (not a row frame) is what
    * makes the 7-day horizon exact regardless of how many events fall
    * inside it. One shuffle on the user key, one ordered scan; min
    * ignores the null structs the conversion rows contribute.
    *
    * Tie rules, deterministic: a touch at exactly the conversion
    * instant is inside the frame; equal-timestamp touches break on the
    * LOWEST event id (lexicographic struct min) — the mirror image of
    * last-touch's highest-id rule, both spec-pinned.
    *
    * @return (touch_type, n_conversions, sum_gap_us)
    */
  def firstTouchAttribution(events: DataFrame, conversionType: String = "purchase",
                            touchTypes: Seq[String] = Seq("view", "click"),
                            windowUs: Long = 7L * 86400000000L,
                            typeCol: String = "event_type", idCol: String = "event_id",
                            tsCol: String = "t_us", userCol: String = "user_id"): DataFrame = {
    require(touchTypes.nonEmpty && windowUs > 0, "need touch types and a positive window")
    val conv = events.filter(col(typeCol) === conversionType)
      .select(col(userCol), col(tsCol), lit(1).as("_side"),
        lit(null).cast("struct<tt:bigint,tid:bigint,ttype:string>").as("_touch"))
    val touch = events.filter(col(typeCol).isin(touchTypes: _*))
      .select(col(userCol), col(tsCol), lit(0).as("_side"),
        struct(col(tsCol).as("tt"), col(idCol).as("tid"),
          col(typeCol).as("ttype")).as("_touch"))
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol))
      .rangeBetween(-windowUs, Window.currentRow)
    conv.unionByName(touch)
      .withColumn("_first", min(col("_touch")).over(w))
      .filter(col("_side") === 1)
      .groupBy(coalesce(col("_first.ttype"), lit("unattributed")).as("touch_type"))
      .agg(count(lit(1)).cast("long").as("n_conversions"),
        sum(coalesce(col(tsCol) - col("_first.tt"), lit(0L)))
          .cast("long").as("sum_gap_us"))
  }

  /** Classical seasonal decomposition of the hourly event-rate series
    * (the moving-average method of the textbook decomposition, the
    * deterministic core STL iterates on): per event type, trend is the
    * CENTERED 24-hour moving average (even period, so the two edge
    * hours take half weight), and the seasonal profile is the
    * per-hour-of-day mean of the detrended series — the "what does a
    * normal Tuesday 3 p.m. look like" table that rate-anomaly scoring
    * ([[eventRateAnomalies]], a robust-z method) deliberately does not
    * model.
    *
    * Engine-exact: everything runs ×48 in integers — trend·48 =
    * x₋₁₂ + 2·Σ₋₁₁..₊₁₁ x + x₊₁₂ over the ZERO-FILLED hourly spine
    * (missing hours are real zeros, not window skips), detrended·48 =
    * 48·x − trend·48, and the seasonal mean is quantized to ppm by
    * 128-bit integer division TRUNCATED toward zero (DuckDB's `//`
    * semantics on negatives; here a sign-split floor). Only hours
    * with the full
    * 25-row window contribute, so series shorter than 25 hours emit
    * nothing rather than an edge-biased profile.
    *
    * Scale shape: one groupBy over events to hourly counts (map-side
    * combinable — the only pass over the raw table), a per-type spine
    * explode, three windows over the SMALL hour table partitioned by
    * type, one final groupBy. Never anything × anything.
    */
  def seasonalDecompose(events: DataFrame, typeCol: String = "event_type",
                        tsCol: String = "t_us"): DataFrame = {
    val counts = events.groupBy(col(typeCol).as("k"), expr(s"$tsCol div 3600000000L").as("h"))
      .agg(count(lit(1)).as("c"))
    val spine = counts.groupBy(col("k")).agg(min(col("h")).as("_h0"), max(col("h")).as("_h1"))
      .select(col("k"), explode(sequence(col("_h0"), col("_h1"))).as("h"))
    val dense = spine.join(counts, Seq("k", "h"), "left")
      .select(col("k"), col("h"), coalesce(col("c"), lit(0L)).as("c"))
    val wo = Window.partitionBy("k").orderBy("h")
    val w25 = Window.partitionBy("k").orderBy("h").rowsBetween(-12, 12)
    val w23 = Window.partitionBy("k").orderBy("h").rowsBetween(-11, 11)
    dense
      .withColumn("_n25", count(lit(1)).over(w25))
      .withColumn("_t48",
        lag(col("c"), 12).over(wo) + lit(2L) * sum(col("c")).over(w23) +
          lead(col("c"), 12).over(wo))
      .filter(col("_n25") === 25)
      .withColumn("_d48", lit(48L) * col("c") - col("_t48"))
      // pmod (floor-mod) vs the oracle's trunc-mod %: identical under the
      // nonnegative-event-time assumption (h = t_us div 3600000000 >= 0);
      // pre-1970 timestamps would bucket differently on the two engines.
      // Same convention as SpatialOps.lDiversityCells' _hour bucket.
      .groupBy(col("k").as(typeCol), pmod(col("h"), lit(24L)).as("hour_of_day"))
      .agg(count(lit(1)).cast("long").as("n_obs"),
        sum(col("_d48")).cast("long").as("sum_detrended48"))
      .withColumn("seasonal_ppm", {
        // detrended sums go NEGATIVE; DuckDB's integer `//` truncates
        // toward zero there (-7 // 2 = -3), so truncate here too:
        // sign-split floor on magnitudes == truncation for d > 0
        val n = dq(lit(1000000L)) * dq(abs(col("sum_detrended48")))
        val d = dq(lit(48L)) * dq(col("n_obs"))
        val mag = ((n - pmod(n, d)) / d).cast("long")
        when(col("sum_detrended48") >= 0L, mag).otherwise(-mag)
      })
  }
}
