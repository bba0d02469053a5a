package graft.operators

import graft.functions.{GeoFunctions, TimeFunctions}
import graft.functions.GeoFunctions.{dq, lnq}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mobility metrics: radius of gyration, jump length, tracking quality,
  * modal split. Reference: trackintel/analysis/{metrics,tracking_quality,
  * modal_split}.py. Everything is one or two grouped aggregations — a
  * single shuffle on `user_id` each, with map-side partial aggregation.
  */
object Metrics {

  /** Per-user radius of gyration (metrics.py:8-79). `method` is "count" or
    * "duration". One pass: weighted centroid via sum(w·x)/sum(w) sub-
    * expressions, then the weighted mean squared haversine distance to it.
    * Done as two chained aggregations on the same key (the second input is
    * tiny — one row per user — and broadcast back).
    */
  def radiusGyration(sp: DataFrame, method: String = "count"): DataFrame = {
    require(method == "count" || method == "duration", s"method unknown: $method")
    val w = if (method == "duration")
      TimeFunctions.durationSeconds(col("started_at"), col("finished_at"))
    else lit(1.0)
    val dist = GeoFunctions.distanceMeters(GeoFunctions.isPlanar(sp)) _ // metrics.py:74

    val weighted = sp.select(col("user_id"), col("lon"), col("lat"), w.as("_w"))
    val centers = weighted.groupBy("user_id").agg(
      (sum(col("lon") * col("_w")) / sum(col("_w"))).as("_cx"),
      (sum(col("lat") * col("_w")) / sum(col("_w"))).as("_cy"))

    weighted
      .join(broadcast(centers), "user_id")
      .groupBy("user_id")
      .agg(sqrt(
        sum(pow(dist(col("lon"), col("lat"), col("_cx"), col("_cy")), 2) * col("_w"))
          / sum(col("_w"))).as("radius_gyration"))
  }

  /** Distance to the next staypoint per user; null on each user's last
    * staypoint (metrics.py:82-128).
    */
  def jumpLength(sp: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("started_at", "id")
    sp.withColumn("jump_length",
      GeoFunctions.distanceMeters(GeoFunctions.isPlanar(sp))(col("lon"), col("lat"), // metrics.py:121
        lead(col("lon"), 1).over(w), lead(col("lat"), 1).over(w)))
  }

  /** Temporal tracking quality (tracking_quality.py:6-120).
    * granularity ∈ {all, day, week, weekday, hour}. Records are split at
    * bucket borders first via sequence+explode (the engine's generator),
    * then it's one groupBy. Records with duration <= 0 are dropped.
    */
  def temporalTrackingQuality(source: DataFrame, granularity: String = "all"): DataFrame = {
    // durations as exact integer microseconds: sums are order-independent
    // (no float accumulation), so results are reproducible across runs
    // and engines
    val durUs = unix_micros(col("finished_at")) - unix_micros(col("started_at"))
    val df = source.filter(durUs > 0L)

    granularity match {
      case "all" =>
        df.groupBy("user_id").agg(
          (sum(durUs).cast("double") /
            (unix_micros(max(col("finished_at"))) - unix_micros(min(col("started_at")))).cast("double"))
            .as("quality"))
      case "day" =>
        splitAt(df, "day")
          .groupBy(col("user_id"), date_trunc("DAY", col("started_at")).as("day"))
          .agg((sum(durUs).cast("double") / lit(86400e6)).as("quality"))
      case "week" =>
        // pandas Grouper freq="W" labels by the week's *end* (Sunday);
        // reproduce via next-Sunday bucketing on the day-split rows.
        splitAt(df, "day")
          .groupBy(col("user_id"),
            next_day(date_trunc("DAY", col("started_at")) - expr("INTERVAL 1 DAY"), "Sunday").as("week_sunday"))
          .agg((sum(durUs).cast("double") / lit(604800e6)).as("quality"))
      case "weekday" =>
        // the global start day joins in as a broadcast 1-row aggregate —
        // no driver-side action, so the split lineage stays lazy and is
        // not executed an extra time per call
        val split = splitAt(df, "day")
        val start = split.agg(date_trunc("DAY", min(col("started_at"))).as("_start"))
        split.crossJoin(broadcast(start))
          .withColumn("_week", floor(datediff(col("started_at"), col("_start")) / 7))
          .groupBy(col("user_id"), ((dayofweek(col("started_at")) + lit(5)) % 7).as("weekday"))
          .agg((sum(durUs).cast("double") /
            (lit(86400e6) * (max(col("_week")) - min(col("_week")) + 1))).as("quality"))
      case "hour" =>
        val split = splitAt(splitAt(df, "day"), "hour")
        val start = split.agg(date_trunc("DAY", min(col("started_at"))).as("_start"))
        split.crossJoin(broadcast(start))
          .withColumn("_day", datediff(col("started_at"), col("_start")))
          .groupBy(col("user_id"), hour(col("started_at")).as("hour"))
          .agg((sum(durUs).cast("double") /
            (lit(3600e6) * (max(col("_day")) - min(col("_day")) + 1))).as("quality"))
      case other =>
        throw new IllegalArgumentException(s"granularity unknown: $other")
    }
  }

  /** Split records crossing day/hour borders into per-bucket slices
    * (_split_overlaps, tracking_quality.py:174-224): generate the border
    * timestamps with `sequence` and explode — all native generators.
    */
  def splitAt(df: DataFrame, granularity: String): DataFrame = {
    val stepUs = granularity match {
      case "day"  => 86400L * 1000000L
      case "hour" => 3600L * 1000000L
      case other  => throw new IllegalArgumentException(s"granularity unknown: $other")
    }
    val sUs = unix_micros(col("started_at"))
    val fUs = unix_micros(col("finished_at"))
    // border points strictly inside (started, finished)
    val firstBorder = (floor(sUs / stepUs) + 1) * stepUs
    df
      .withColumn("_cuts",
        when(firstBorder >= fUs, array(sUs, fUs))
          .otherwise(concat(array(sUs), sequence(firstBorder, fUs, lit(stepUs)),
            when((fUs - firstBorder) % stepUs =!= 0, array(fUs)).otherwise(array()))))
      .withColumn("_idx", explode(sequence(lit(0), size(col("_cuts")) - 2)))
      .withColumn("started_at", timestamp_micros(element_at(col("_cuts"), col("_idx") + 1)))
      .withColumn("finished_at", timestamp_micros(element_at(col("_cuts"), col("_idx") + 2)))
      .drop("_cuts", "_idx")
  }

  /** Modal split (modal_split.py:6-75): pivot triplegs on `mode` with
    * count / summed distance / summed duration, optionally per user and
    * per time bucket, optionally row-normalized.
    */
  def calculateModalSplit(tpls: DataFrame, metric: String = "count", freq: Option[String] = None,
                          perUser: Boolean = false, norm: Boolean = false): DataFrame = {
    val value = metric match {
      case "count"    => lit(1.0)
      case "distance" => GeoFunctions.linestringLengthMeters(col("points"))
      case "duration" => TimeFunctions.durationSeconds(col("started_at"), col("finished_at"))
      case other      => throw new IllegalArgumentException(s"metric unknown: $other")
    }
    val base = tpls.withColumn("_v", value)
    val keys = (if (perUser) Seq(col("user_id")) else Nil) ++
      (freq match {
        case Some("W-MON") => Seq(date_trunc("WEEK", col("started_at")).as("timestamp"))
        case Some("D")     => Seq(date_trunc("DAY", col("started_at")).as("timestamp"))
        case None          => Nil
        case Some(other)   => throw new IllegalArgumentException(s"freq unknown: $other")
      })
    val grouped =
      if (keys.isEmpty) base.groupBy(lit(0).as("_all")).pivot("mode").agg(sum(col("_v"))).drop("_all")
      else base.groupBy(keys: _*).pivot("mode").agg(sum(col("_v")))

    if (!norm) grouped.na.fill(0.0)
    else {
      val modeCols = grouped.columns.filterNot(c => c == "user_id" || c == "timestamp")
      val filled = grouped.na.fill(0.0)
        .withColumn("_total", modeCols.map(c => col(c)).reduce(_ + _))
      modeCols.foldLeft(filled)((d, c) => d.withColumn(c, col(c) / col("_total")))
        .drop("_total")
    }
  }

  /** Origin–destination flows between generated locations: consecutive
    * staypoint visits per user become directed (from, to) transitions,
    * counted over the whole dataset — the classic OD matrix in long
    * form (dense matrices don't survive real location cardinalities).
    *
    * Locations are keyed by their smallest member staypoint id rather
    * than the generator's dense label: the label depends on cluster
    * enumeration order, the member set doesn't, so the key is stable
    * across engines and re-runs (the same convention the location oracle
    * uses). Self-transitions (consecutive visits to one location) count:
    * they are real re-visits, and dropping them is one filter away.
    *
    * One window over (user, time) + one groupBy — shuffles only on
    * `user_id` and the (from, to) pair.
    *
    * @param spLoc staypoints with `location_id` (see LocationGenerator)
    */
  /** Per-user location entropy (Song et al. 2010, "Limits of
    * Predictability in Human Mobility"): the random entropy
    * `log2(N_locations)` and the temporal-uncorrelated (Shannon)
    * entropy `−Σ p_i log2 p_i` over the user's location-visit
    * distribution. Two grouped aggregations, both map-side combinable;
    * noise staypoints (null location) are excluded like in [[odFlows]].
    *
    * Spec-gated, not oracle-gated: `log` is not correctly-rounded in
    * libm, so unlike the engine's integer surfaces there is no
    * bit-stable SQL twin — the same reason the trig centroid is
    * spec-verified (see StaypointGeneratorSpec).
    *
    * @return (user_id, n_visits, n_locations, random_entropy, shannon_entropy)
    */
  def locationEntropy(spLoc: DataFrame): DataFrame = {
    val visits = spLoc.filter(col("location_id").isNotNull)
      .groupBy(col("user_id"), col("location_id"))
      .agg(count(lit(1)).as("_c"))
    visits
      .groupBy(col("user_id"))
      .agg(
        sum(col("_c")).as("n_visits"),
        count(lit(1)).as("n_locations"),
        (-sum(col("_c") * log2(col("_c")))).as("_num"))
      .withColumn("random_entropy", log2(col("n_locations")))
      // −Σ (c/N) log2 (c/N) = log2 N − (Σ c log2 c)/N
      .withColumn("shannon_entropy",
        log2(col("n_visits")) + col("_num") / col("n_visits"))
      .drop("_num")
  }

  /** Per-user location-visit diversity as *exact integers*: visit and
    * location counts, the modal visit count, and the Simpson
    * concentration numerator Σ c·(c−1) (the unnormalized probability
    * that two random visits hit the same location — divide by N(N−1)
    * for the index). Unlike Shannon entropy ([[locationEntropy]]) these
    * are rational in the counts, so the whole surface is oracle-exact.
    *
    * @return (user_id, n_visits, n_locations, max_visits, simpson_num)
    */
  def locationDiversity(spLoc: DataFrame): DataFrame =
    spLoc.filter(col("location_id").isNotNull)
      .groupBy(col("user_id"), col("location_id"))
      .agg(count(lit(1)).as("_c"))
      .groupBy(col("user_id"))
      .agg(
        sum(col("_c")).as("n_visits"),
        count(lit(1)).as("n_locations"),
        max(col("_c")).as("max_visits"),
        sum(col("_c") * (col("_c") - 1)).as("simpson_num"))

  def odFlows(spLoc: DataFrame): DataFrame = {
    val byLoc = Window.partitionBy(col("user_id"), col("location_id"))
    val byTime = Window.partitionBy(col("user_id")).orderBy(col("started_at"), col("id"))
    spLoc.filter(col("location_id").isNotNull)
      .withColumn("_lk", min(col("id")).over(byLoc))
      .withColumn("_next", lead(col("_lk"), 1).over(byTime))
      .filter(col("_next").isNotNull)
      .groupBy(col("_lk").as("from_loc"), col("_next").as("to_loc"))
      .agg(count(lit(1)).as("n_transitions"))
  }

  /** Top-k-location uniqueness risk (de Montjoye et al. 2013, "Unique
    * in the Crowd": a handful of spatio-temporal points identifies most
    * individuals): per user, the ORDERED top-k most-visited locations
    * as a signature; the anonymity-set histogram says how many users
    * hide behind each signature size (`set_size = 1` rows are the
    * re-identifiable population — publish their share, not their data).
    * All-integer; missing ranks encode as −1 so single-location users
    * get a well-defined signature.
    *
    * Scale shape: visit counts map-side combine; the rank window runs
    * over the bounded (user, location) table; signatures and the
    * histogram are two more bounded groupBys.
    */
  def uniquenessRisk(spLoc: DataFrame, kTop: Int = 2,
                     locCol: String = "location_id"): DataFrame = {
    require(kTop >= 1 && kTop <= 8, s"kTop must be in [1,8], got $kTop")
    val wTop = Window.partitionBy("user_id").orderBy(col("_n").desc, col(locCol))
    val ranked = spLoc.filter(col(locCol).isNotNull)
      .groupBy(col("user_id"), col(locCol))
      .agg(count(lit(1)).as("_n"))
      .withColumn("_rk", row_number().over(wTop))
      .filter(col("_rk") <= kTop)
    val sigCols = (1 to kTop).map(i =>
      coalesce(max(when(col("_rk") === i, col(locCol))).cast("long"), lit(-1L)).as(s"_l$i"))
    val sigs = ranked.groupBy(col("user_id")).agg(sigCols.head, sigCols.tail: _*)
    sigs
      .groupBy((1 to kTop).map(i => col(s"_l$i")): _*)
      .agg(count(lit(1)).as("_setSize"))
      .groupBy(col("_setSize").as("set_size"))
      .agg(count(lit(1)).cast("long").as("n_signatures"),
        sum(col("_setSize")).cast("long").as("n_users"))
  }

  /** Per-(user, day) daily range: fix count, the exact micro-degree
    * bounding box, and its haversine diagonal — the "daily activity
    * space extent" card (how far a person's day stretches; the daily
    * twin of radius of gyration, without the per-day centroid pass).
    * The bbox is exact integers; only the diagonal is a double (the
    * bit-identical haversine both engines share).
    *
    * Scale shape: one map-side-combinable min/max groupBy on
    * (user, day) — the diagonal is scan-stage arithmetic on the four
    * aggregated corners; no window, no join.
    */
  def dailyRange(pfs: DataFrame): DataFrame =
    pfs
      .groupBy(col("user_id"), expr("t_us div 86400000000").as("day"))
      .agg(count(lit(1)).cast("long").as("n_fixes"),
        min(floor(col("lon") * 1e6 + lit(0.5)).cast("long")).as("min_lon_u"),
        max(floor(col("lon") * 1e6 + lit(0.5)).cast("long")).as("max_lon_u"),
        min(floor(col("lat") * 1e6 + lit(0.5)).cast("long")).as("min_lat_u"),
        max(floor(col("lat") * 1e6 + lit(0.5)).cast("long")).as("max_lat_u"))
      .withColumn("range_m", GeoFunctions.haversineMeters(
        col("min_lon_u").cast("double") / 1e6, col("min_lat_u").cast("double") / 1e6,
        col("max_lon_u").cast("double") / 1e6, col("max_lat_u").cast("double") / 1e6))

  /** Mean-squared-displacement curve (the physics-style mobility
    * diagnostic, cf. Brockmann et al. 2006 "The scaling laws of human
    * travel" and González et al. 2008: human MSD saturates instead of
    * growing linearly like a random walk — the signature of bounded
    * activity spaces): per fix, the squared haversine displacement from
    * the user's FIRST fix, pooled into log₂ elapsed-time buckets.
    * `floor(d²)` of bit-identical doubles is exact cross-engine; Σd² in
    * DECIMAL(38,0) (metre² sums outgrow a long past ~10⁶ km-scale
    * points).
    *
    * Scale shape: the origin table is one map-side-combinable
    * lexicographic struct-min per user (never a window over raw fixes),
    * hash-joined back; buckets are ≤ 64 rows.
    */
  def msdCurve(pfs: DataFrame): DataFrame = {
    val origin = pfs.groupBy(col("user_id"))
      .agg(min(struct(col("t_us"), col("id"), col("lon"), col("lat"))).as("_o"))
      .select(col("user_id"), col("_o.t_us").as("_ot"),
        col("_o.lon").as("_olon"), col("_o.lat").as("_olat"))
    val d = GeoFunctions.haversineMeters(col("_olon"), col("_olat"), col("lon"), col("lat"))
    pfs.join(origin, Seq("user_id"))
      .withColumn("_dt", ((col("t_us") - col("_ot")) / lit(1000000L)).cast("long"))
      .filter(col("_dt") >= 1L)
      .withColumn("_d2", floor(d * d).cast("long"))
      .withColumn("bucket", (length(bin(col("_dt"))) - 1).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).cast("long").as("n_points"),
        sum(col("_d2").cast("decimal(38,0)")).as("sum_d2m"))
      .withColumn("mean_d2m",
        col("sum_d2m").cast("double") / col("n_points").cast("double"))
  }

  /** Visit-frequency rank curve (González, Hidalgo & Barabási 2008,
    * Fig. 2c: the probability of finding a user at their k-th most
    * visited location follows f_k ∝ k^−1.2 — the signature of
    * preferential return): rank each user's locations by visit count
    * (ties → lowest location id), then pool the corpus-wide curve —
    * per rank, how many users have a location of that rank and how many
    * visits it absorbs. All-integer surface; the visit share is one
    * final division.
    *
    * Scale shape: one map-side-combinable (user, location) count, a
    * per-user window over that bounded table (never raw fixes), and a
    * rank-bounded final groupBy.
    */
  def locationRankCurve(spLoc: DataFrame, locCol: String = "location_id"): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("_n").desc, col(locCol))
    val ranked = spLoc.filter(col(locCol).isNotNull)
      .groupBy(col("user_id"), col(locCol))
      .agg(count(lit(1)).as("_n"))
      .withColumn("rank", row_number().over(w).cast("long"))
    val total = ranked.agg(sum(col("_n")).as("_tot"))
    ranked.groupBy(col("rank"))
      .agg(count(lit(1)).cast("long").as("n_users"),
        sum(col("_n")).cast("long").as("sum_visits"))
      .crossJoin(broadcast(total))
      .withColumn("visit_share",
        col("sum_visits").cast("double") / col("_tot").cast("double"))
      .select(col("rank"), col("n_users"), col("sum_visits"), col("visit_share"))
  }

  /** Share of tracked dwell time spent at the FREQ home location — the
    * "home attachment" statistic activity-space studies report beside
    * radius of gyration (and the sanity check on any home-detection
    * rule: a population whose home share dips below ~1/3 is mislabeled).
    * Home = rank-1 total-dwell location, the
    * [[LocationLabelling.dwellRanking]] convention (ties → lowest
    * location id). Durations are exact integer microseconds; the share
    * is one final division.
    *
    * Scale shape: dwellRanking's bounded (user, location) aggregation +
    * per-user window, then one user-keyed aggregate. No raw-fix window.
    */
  def homeStayShare(spLoc: DataFrame): DataFrame = {
    val durUs = unix_micros(col("finished_at")) - unix_micros(col("started_at"))
    val perLoc = spLoc.filter(col("location_id").isNotNull)
      .withColumn("_dur", durUs)
      .groupBy(col("user_id"), col("location_id"))
      .agg(sum(col("_dur")).as("_total"))
      .withColumn("_rank", row_number().over(
        Window.partitionBy("user_id").orderBy(col("_total").desc, col("location_id"))))
    perLoc.groupBy(col("user_id"))
      .agg(sum(col("_total")).cast("long").as("total_us"),
        max(when(col("_rank") === 1,
          struct(col("location_id").cast("long").as("_loc"), col("_total").as("_dur")))).as("_home"))
      .select(col("user_id"), col("_home._loc").as("home_loc"),
        col("_home._dur").cast("long").as("home_us"), col("total_us"))
      .withColumn("home_share",
        col("home_us").cast("double") / col("total_us").cast("double"))
  }

  /** Gravity-law distance-decay exponent of the OD flow matrix (Zipf
    * 1946 "the P₁P₂/D hypothesis"; the spatial-interaction model behind
    * commuting/migration studies): pool transitions into (from, to)
    * flows, place each location at its exact visit centroid (integer
    * micro-degree sums divided once — the [[commuteDistance]]
    * convention), and lnq-OLS ln(flow) against ln(distance). `slope` is
    * the fitted −γ (γ ≈ 1–2 in commuting data). Self-loops are excluded
    * — a zero distance has no gravity reading.
    *
    * Scale shape: one per-user lag window (the odFlows shuffle), a
    * map-side-combinable flow count bounded by the location-pair
    * domain, a location-bounded centroid table broadcast onto it twice,
    * and the OLS aggregate with DECIMAL(38,0) cross terms (Σxy over a
    * million location pairs overflows a long).
    */
  def odGravityFit(spLoc: DataFrame, locCol: String = "location_id"): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("started_at"), col("id"))
    val vis = spLoc.filter(col(locCol).isNotNull)
    val flows = vis
      .withColumn("_to", lead(col(locCol), 1).over(byUser))
      .filter(col("_to").isNotNull && col("_to") =!= col(locCol))
      .groupBy(col(locCol).as("_f"), col("_to").as("_t"))
      .agg(count(lit(1)).as("_flow"))
    val cents = vis
      .groupBy(col(locCol).as("_loc"))
      .agg(sum(floor(col("lon") * 1e6 + lit(0.5)).cast("long")).as("_sx"),
        sum(floor(col("lat") * 1e6 + lit(0.5)).cast("long")).as("_sy"),
        count(lit(1)).as("_n"))
      .select(col("_loc"),
        (col("_sx").cast("double") / col("_n").cast("double") / 1e6).as("_clon"),
        (col("_sy").cast("double") / col("_n").cast("double") / 1e6).as("_clat"))
    val from = cents.select(col("_loc").as("_f"), col("_clon").as("_flon"), col("_clat").as("_flat"))
    val to = cents.select(col("_loc").as("_t"), col("_clon").as("_tlon"), col("_clat").as("_tlat"))
    val pts = flows
      .join(broadcast(from), Seq("_f")).join(broadcast(to), Seq("_t"))
      .withColumn("_d", floor(GeoFunctions.haversineMeters(
        col("_flon"), col("_flat"), col("_tlon"), col("_tlat"))).cast("long"))
      .filter(col("_d") >= 1L)
      .select(lnq(col("_d")).as("_x"), lnq(col("_flow")).as("_y"))
    // cross terms summed in DECIMAL(38,0): x·y ≈ 3·10¹⁴ per pair, so the
    // running Σ itself outgrows a long past ~30k location pairs
    pts.agg(
        count(lit(1)).as("n_pairs"),
        sum(col("_x")).as("_sx"), sum(col("_y")).as("_sy"),
        sum(dq(col("_x")) * dq(col("_y"))).as("_sxy"),
        sum(dq(col("_x")) * dq(col("_x"))).as("_sxx"))
      .withColumn("slope",
        (dq(col("n_pairs")) * col("_sxy") - dq(col("_sx")) * dq(col("_sy"))).cast("double") /
          (dq(col("n_pairs")) * col("_sxx") - dq(col("_sx")) * dq(col("_sx"))).cast("double"))
      .withColumn("intercept",
        ((col("_sy").cast("double") - col("slope") * col("_sx").cast("double"))
          / col("n_pairs").cast("double")) / lit(1e6))
      .select("n_pairs", "slope", "intercept")
  }

  /** Radiation-model flux prediction (Simini, González, Maritan &
    * Barabási 2012, Nature — "A universal model for mobility and
    * migration patterns"): the PARAMETER-FREE counterpart of
    * [[odGravityFit]]. Per observed origin→destination pair,
    *   p_pred = m_i·m_j / ((m_i + s_ij)·(m_i + m_j + s_ij))
    * where masses m are location visit counts and s_ij is the mass
    * inside the circle of radius d_ij around the origin EXCLUDING both
    * endpoints — intervening opportunities absorb flux, so no distance
    * exponent needs fitting. Reported next to the observed flow so the
    * gravity-vs-radiation comparison is one read.
    *
    * All decisions are exact: floor-metre distances of bit-identical
    * haversine doubles compare as longs (d_ik < d_ij), masses sum as
    * longs, and the prediction's numerator/denominator are DECIMAL(38,0)
    * products with ONE double division at the end. Sub-metre pairs
    * (floored d_ij = 0) stay in the table with s_between = 0 — no
    * intervening disk exists, but the observed flow must not vanish
    * from the gravity-vs-radiation comparison.
    *
    * Scale shape: everything after the visit groupBys lives on the
    * BOUNDED location table (radiation analyses run on region-grain
    * location domains by construction): observed OD pairs join two
    * broadcast centroid copies, and s_ij is one broadcast theta-join of
    * those pairs against the location table (|od_pairs|·|locs| work,
    * never anything × raw staypoints).
    */
  def radiationModel(spLoc: DataFrame, locCol: String = "location_id"): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("started_at"), col("id"))
    val vis = spLoc.filter(col(locCol).isNotNull)
    val flows = vis
      .withColumn("_to", lead(col(locCol), 1).over(byUser))
      .filter(col("_to").isNotNull && col("_to") =!= col(locCol))
      .groupBy(col(locCol).as("_f"), col("_to").as("_t"))
      .agg(count(lit(1)).cast("long").as("observed"))
    val cents = vis
      .groupBy(col(locCol).as("_loc"))
      .agg(sum(floor(col("lon") * 1e6 + lit(0.5)).cast("long")).as("_sx"),
        sum(floor(col("lat") * 1e6 + lit(0.5)).cast("long")).as("_sy"),
        count(lit(1)).cast("long").as("_m"))
      .select(col("_loc"), col("_m"),
        (col("_sx").cast("double") / col("_m").cast("double") / 1e6).as("_clon"),
        (col("_sy").cast("double") / col("_m").cast("double") / 1e6).as("_clat"))
    val from = cents.select(col("_loc").as("_f"), col("_m").as("m_from"),
      col("_clon").as("_flon"), col("_clat").as("_flat"))
    val to = cents.select(col("_loc").as("_t"), col("_m").as("m_to"),
      col("_clon").as("_tlon"), col("_clat").as("_tlat"))
    val pairs = flows
      .join(broadcast(from), Seq("_f")).join(broadcast(to), Seq("_t"))
      .withColumn("dist_m", floor(GeoFunctions.haversineMeters(
        col("_flon"), col("_flat"), col("_tlon"), col("_tlat"))).cast("long"))
    val others = cents.select(col("_loc").as("_k"), col("_m").as("_mk"),
      col("_clon").as("_klon"), col("_clat").as("_klat"))
    val s = pairs
      .select(col("_f"), col("_t"), col("_flon"), col("_flat"), col("dist_m"))
      .join(broadcast(others), col("_k") =!= col("_f") && col("_k") =!= col("_t"))
      .withColumn("_dk", floor(GeoFunctions.haversineMeters(
        col("_flon"), col("_flat"), col("_klon"), col("_klat"))).cast("long"))
      .filter(col("_dk") < col("dist_m"))
      .groupBy(col("_f"), col("_t"))
      .agg(sum(col("_mk")).cast("long").as("s_between"))
    pairs.join(s, Seq("_f", "_t"), "left")
      .withColumn("s_between", coalesce(col("s_between"), lit(0L)))
      .withColumn("p_pred",
        (dq(col("m_from")) * dq(col("m_to"))).cast("double") /
          ((dq(col("m_from")) + dq(col("s_between"))) *
            (dq(col("m_from")) + dq(col("m_to")) + dq(col("s_between")))).cast("double"))
      .select(col("_f").as("from_loc"), col("_t").as("to_loc"), col("dist_m"),
        col("m_from"), col("m_to"), col("s_between"), col("observed"), col("p_pred"))
  }

  /** Common Part of Commuters — the standard flow-model scorecard
    * (Lenormand, Bassolas & Ramasco 2016, "Systematic comparison of
    * trip distribution laws and models", J. Transp. Geogr. 51): for
    * each model's predicted OD matrix T̂ vs the observed T,
    *   CPC = 2·Σ min(T̂ᵢⱼ, Tᵢⱼ) / (Σ T̂ᵢⱼ + Σ Tᵢⱼ)  ∈ [0, 1],
    * 1 = identical flows. Scores the two models this repo implements
    * side by side: the parameter-free radiation law
    * ([[radiationModel]]) and the classic inverse-square gravity law
    * (T̂ᵢⱼ ∝ mᵢmⱼ/d²ᵢⱼ — the fixed-exponent form, so the card is
    * fit-free on both arms). Both are production-constrained to the
    * observed topology: per origin i, T̂ᵢⱼ = Oᵢ·wᵢⱼ/Σⱼwᵢⱼ with Oᵢ the
    * observed outflow, the paper's normalization.
    *
    * Engine-exact: weights are quantized to integers by DECIMAL(38,0)
    * cross-multiplied floor division (wᵣₐ𝒹 = ⌊10⁶·mᵢmⱼ/((mᵢ+s)(mᵢ+mⱼ+s))⌋,
    * w_g = ⌊10¹²·mᵢmⱼ/d²⌋), predictions to micro-trips the same way, and
    * the final CPC to ppm — every division is exact integer floor math
    * ((n − n mod d)/d), so DuckDB's HUGEINT `//` reproduces each value
    * bit-for-bit. Magnitude headroom: the largest intermediate is
    * Oᵢ·10⁶·w ≲ 10²⁵ at petabyte visit counts — 13 decimal digits of
    * DECIMAL(38,0) spare.
    *
    * Scale shape: inherits [[radiationModel]]'s zone-pair table (zones²
    * of an AGGREGATED cell table); adds two windows over from_loc and
    * one tiny aggregate per model. @return (model, n_pairs, cpc_ppm)
    */
  def flowModelCpc(spLoc: DataFrame, locCol: String = "location_id"): DataFrame = {
    val pairs = radiationModel(spLoc, locCol)
    def fdiv(n: Column, d: Column): Column =
      ((n - pmod(n, d)) / d).cast("decimal(38,0)")
    val dClamped = dq(greatest(col("dist_m"), lit(1L)))
    // share the weighted pair table: BOTH model arms of the union read
    // it, and its lineage carries radiationModel's zones² s_ij join —
    // without the checkpoint that join evaluates once per arm
    val w = Share.materialize(pairs.select(col("from_loc"), col("observed"),
      fdiv(dq(lit(1000000L)) * dq(col("m_from")) * dq(col("m_to")),
        (dq(col("m_from")) + dq(col("s_between"))) *
          (dq(col("m_from")) + dq(col("m_to")) + dq(col("s_between")))).as("w_radiation"),
      fdiv(dq(lit(1000000000000L)) * dq(col("m_from")) * dq(col("m_to")),
        dClamped * dClamped).as("w_gravity2")))
    val perOrigin = Window.partitionBy(col("from_loc"))
    Seq("radiation" -> col("w_radiation"), "gravity2" -> col("w_gravity2")).map {
      case (name, wc) =>
        w.withColumn("_sw", sum(wc).over(perOrigin))
          .withColumn("_oi", sum(col("observed")).over(perOrigin))
          .withColumn("_pred_u",
            when(col("_sw") === dq(lit(0L)), dq(lit(0L)))
              .otherwise(fdiv(dq(col("_oi")) * dq(lit(1000000L)) * wc, col("_sw"))))
          .withColumn("_obs_u", dq(col("observed")) * dq(lit(1000000L)))
          .agg(count(lit(1)).cast("long").as("n_pairs"),
            fdiv(dq(lit(2000000L)) * sum(least(col("_pred_u"), col("_obs_u"))),
              sum(col("_pred_u")) + sum(col("_obs_u"))).cast("long").as("cpc_ppm"))
          .select(lit(name).as("model"), col("n_pairs"), col("cpc_ppm"))
    }.reduce(_.unionByName(_))
  }

  /** Per-(user, location) return times: for every revisit of a location,
    * the gap between leaving it and arriving back — the return-time
    * distribution of Song et al. 2010 (the regular spikes at 24 h/1 week
    * are the signature of human mobility; reference exposes the
    * ingredients via staypoints+locations, this materializes the curve).
    *
    * Location keys are engine-neutral (the smallest member staypoint id,
    * as in [[odFlows]]) so results compare across engines regardless of
    * label assignment. Staypoints of one user never overlap, so gaps are
    * non-negative; `revisit` numbers returns 1..k in time order.
    *
    * Scale shape: two windows over the same (user_id, location_id)
    * partitioning — one shuffle, streaming frames, no joins.
    *
    * @return (user_id, location_id, revisit, gap_us)
    */
  def returnTimes(spLoc: DataFrame): DataFrame = {
    val byLoc = Window.partitionBy(col("user_id"), col("location_id"))
    val byVisit = byLoc.orderBy(col("started_at"), col("id"))
    spLoc.filter(col("location_id").isNotNull)
      .withColumn("_lk", min(col("id")).over(byLoc))
      .withColumn("_prev_f", lag(col("finished_at"), 1).over(byVisit))
      .withColumn("revisit", (row_number().over(byVisit) - 1).cast("long"))
      .filter(col("_prev_f").isNotNull)
      .select(col("user_id"), col("_lk").as("location_id"), col("revisit"),
        (unix_micros(col("started_at")) - unix_micros(col("_prev_f"))).as("gap_us"))
  }

  /** Hour-of-week regularity curve R(t) (Song et al. Science 2010
    * Fig. 1C): the probability of finding a user at their most-visited
    * location for that hour of the week — the periodicity fingerprint
    * that separates commuters (high weekday-9am regularity) from
    * erratic movers. Weekday 0 is Monday (epoch day 0 = Thursday, the
    * week-heatmap convention); visits are staypoint arrivals. Pooled
    * across users: R(t) = Σ_u top_u(t) / Σ_u n_u(t), integer sums with
    * one final division. The location label never reaches the output —
    * only its count — so the statistic is relabeling-invariant without
    * the [[returnTimes]] engine-neutral key machinery.
    *
    * Scale shape: one (user, hour, location) map-side-combinable count,
    * one (user, hour) aggregate over that bounded table, one final
    * 168-row aggregate. No windows, no joins.
    *
    * @return (weekday, hour, sum_top, sum_visits, regularity)
    */
  def regularityCurve(spLoc: DataFrame): DataFrame = {
    val vis = spLoc.filter(col("location_id").isNotNull)
      .select(col("user_id"), col("location_id"),
        // floor-mod, not truncating div: `(t div H) % 24` yields negative
        // buckets pre-epoch; pmod(t, 24H) div H == floorDiv(t,H) mod 24
        // for all longs (week period 604800000000 µs for the weekday)
        expr("(pmod(unix_micros(started_at), 604800000000L) div 86400000000L + 3) % 7").as("weekday"),
        expr("pmod(unix_micros(started_at), 86400000000L) div 3600000000L").as("hour"))
    vis.groupBy(col("user_id"), col("weekday"), col("hour"), col("location_id"))
      .agg(count(lit(1)).as("_c"))
      .groupBy(col("user_id"), col("weekday"), col("hour"))
      .agg(max(col("_c")).as("_top"), sum(col("_c")).as("_tot"))
      .groupBy(col("weekday"), col("hour"))
      .agg(sum(col("_top")).cast("long").as("sum_top"),
        sum(col("_tot")).cast("long").as("sum_visits"))
      .withColumn("regularity",
        col("sum_top").cast("double") / col("sum_visits").cast("double"))
  }

  /** Per-user commute distance: haversine between the FREQ-method home
    * (top-1 dwell time) and work (top-2) location centers — the derived
    * quantity home/work identification exists to feed (transport
    * planning's person-level commute statistic). Centers are integer
    * micro-degree sums divided once at the end (exact, order-free), the
    * freqMethod ranking contract. Users with fewer than two locations
    * drop (no commute to measure).
    */
  def commuteDistance(sp: DataFrame): DataFrame = {
    val centers = LocationLabelling.dwellRanking(sp, Seq(
        sum(floor(col("lon") * 1e6 + lit(0.5)).cast("long")).as("_sx"),
        sum(floor(col("lat") * 1e6 + lit(0.5)).cast("long")).as("_sy"),
        count(lit(1)).as("_n")))
      .filter(col("_rank") <= 2)
      .withColumn("_clon", col("_sx").cast("double") / col("_n").cast("double") / 1e6)
      .withColumn("_clat", col("_sy").cast("double") / col("_n").cast("double") / 1e6)
    val home = centers.filter(col("_rank") === 1).select(
      col("user_id"), col("location_id").cast("long").as("home_loc"),
      col("_clon").as("_hlon"), col("_clat").as("_hlat"))
    val work = centers.filter(col("_rank") === 2).select(
      col("user_id").as("_wuser"), col("location_id").cast("long").as("work_loc"),
      col("_clon").as("_wlon"), col("_clat").as("_wlat"))
    home.join(work, col("user_id") === col("_wuser"))
      .select(col("user_id"), col("home_loc"), col("work_loc"),
        graft.functions.GeoFunctions.haversineMeters(
          col("_hlon"), col("_hlat"), col("_wlon"), col("_wlat")).as("commute_m"))
  }

  /** First-order Markov next-location prediction accuracy — the
    * standard empirical companion to the predictability ceiling (Song
    * et al. 2010 measure Π_max; this measures what the simplest model
    * actually achieves, cf. Lu et al. 2013 "Approaching the limit of
    * predictability in human mobility"): per user, train transition
    * counts on the first `trainPct`% of visits, predict each later
    * visit from its predecessor by argmax count (ties to the smallest
    * location key), and report hits. All-integer surface: n_test,
    * n_predicted (test visits whose context was seen in training),
    * n_hits.
    *
    * Scale: three windows and one aggregation, all keyed by user; the
    * transition model lives in the cluster as a (user, from, to) count
    * table — never driver state.
    */
  def nextLocationAccuracy(spLoc: DataFrame, trainPct: Int = 80): DataFrame = {
    require(trainPct >= 1 && trainPct <= 99, s"trainPct must be in [1,99], got $trainPct")
    val byLoc = Window.partitionBy(col("user_id"), col("location_id"))
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("started_at"), col("id"))
    val visits = spLoc.filter(col("location_id").isNotNull)
      .withColumn("loc", min(col("id")).over(byLoc))
      .withColumn("pos", (row_number().over(byUser) - 1).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("user_id"))))
      .withColumn("prev", lag(col("loc"), 1).over(byUser))
      .withColumn("is_test", col("pos") >= expr(s"(n * $trainPct) div 100"))
    val transitions = visits
      .filter(col("prev").isNotNull && !col("is_test"))
      .groupBy(col("user_id"), col("prev").as("from_loc"), col("loc").as("to_loc"))
      .agg(count(lit(1)).as("c"))
    // rename the model side: best derives from `visits`, so joining on
    // shared-lineage attributes would resolve ambiguously (both sides'
    // user_id trace to the same expression id)
    val best = transitions
      .withColumn("_rk", row_number().over(
        Window.partitionBy(col("user_id"), col("from_loc"))
          .orderBy(col("c").desc, col("to_loc"))))
      .filter(col("_rk") === 1)
      .select(col("user_id").as("b_user"), col("from_loc"), col("to_loc").as("pred"))
    visits.filter(col("is_test") && col("prev").isNotNull)
      .join(best,
        col("user_id") === col("b_user") && col("prev") === col("from_loc"), "left")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("n_test"),
        count(col("pred")).cast("long").as("n_predicted"),
        sum(when(col("pred") === col("loc"), 1L).otherwise(0L)).cast("long").as("n_hits"))
  }

  /** Per-user Lempel–Ziv complexity of the location-visit sequence — the
    * combinatorial core of the "limits of predictability" analysis (Song
    * et al., Science 2010, whose entropy rate is estimated from LZ
    * parsing à la Kontoyiannis et al. 1998). Fewer phrases = more
    * repetitive, more predictable movement.
    *
    * Parsing convention (pinned, both engines): scanning left to right,
    * each phrase is the shortest prefix of the remaining sequence that
    * does NOT occur as a substring starting strictly before the current
    * position (the source occurrence may overlap the phrase, the classic
    * LZ76 rule); the final phrase may be a bare repeat. Phrase structure
    * is invariant under symbol relabeling, so each engine may use its own
    * alphabet — here the neutral location key, in the oracle a dense
    * first-visit rank.
    *
    * Scale shape: one shuffle on user_id (`groupByKey.mapGroups`); the
    * working set per task is one user's symbol sequence — which the
    * algorithm needs in full regardless. Matching is the O(n²) direct
    * scan with early exit: per-user sequences are thousands of visits,
    * far below where a suffix automaton would pay off.
    *
    * @return (user_id, n_symbols, n_phrases)
    */
  def lzComplexity(spLoc: DataFrame): DataFrame = {
    def phrases(seq: Array[Long]): Long = {
      val n = seq.length
      var p = 0
      var c = 0L
      while (p < n) {
        var best = 0
        var q = 0
        while (q < p) {
          var l = 0
          val cap = n - p
          while (l < cap && seq(q + l) == seq(p + l)) l += 1
          if (l > best) best = l
          q += 1
        }
        p += math.min(best + 1, n - p)
        c += 1L
      }
      c
    }

    val spark = spLoc.sparkSession
    import spark.implicits._
    spLoc.filter(col("location_id").isNotNull)
      .select(col("user_id").cast("long"), unix_micros(col("started_at")).as("_t"),
        col("id").cast("long"), col("location_id").cast("long"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (u, it) =>
        val seq = it.toArray.sortBy(r => (r._2, r._3)).map(_._4)
        (u, seq.length.toLong, phrases(seq))
      }
      .toDF("user_id", "n_symbols", "n_phrases")
  }

  /** Per-user limit of predictability Π_max (Song et al., Science 2010):
    * the ceiling any forecaster can reach on the user's location sequence,
    * from the Fano inequality over the LZ entropy-rate estimate.
    *
    * Per position i, Λ_i = min(longest earlier match + 1, n−i) — exactly
    * the [[lzComplexity]] phrase-length rule applied at EVERY position
    * (Kontoyiannis et al. 1998 window estimator; sources may overlap the
    * target, final positions may be bare repeats). The entropy rate is
    * S = n·log₂(n)/ΣΛ bits/symbol, and Π_max solves
    * S = H_b(Π) + (1−Π)·log₂(N−1) (60 bisection steps; N = distinct
    * locations; N=1 → Π=1, S ≥ log₂N → Π = 1/N).
    *
    * Engine split, the [[locationEntropy]] contract: `sum_lambda` /
    * `n_symbols` / `n_locations` are pure integers — the oracle-checked
    * surface; `s_est_q` / `pi_max_q` involve libm log (not correctly
    * rounded, so not hash-stable across engines) and are spec-gated,
    * quantized to 1e-6 for stable display.
    *
    * Scale shape: identical to [[lzComplexity]] — one shuffle on
    * user_id, per-task working set is one user's sequence, O(n²) direct
    * scan with early exit.
    *
    * @return (user_id, n_symbols, n_locations, sum_lambda, s_est_q,
    *         pi_max_q)
    */
  def predictability(spLoc: DataFrame): DataFrame = {
    def lambdaSum(seq: Array[Long]): Long = {
      val n = seq.length
      var i = 0
      var s = 0L
      while (i < n) {
        var best = 0
        var q = 0
        while (q < i) {
          var l = 0
          val cap = n - i
          while (l < cap && seq(q + l) == seq(i + l)) l += 1
          if (l > best) best = l
          q += 1
        }
        s += math.min(best + 1, n - i)
        i += 1
      }
      s
    }
    def log2(x: Double): Double = math.log(x) / math.log(2.0)
    def piMax(s: Double, nLoc: Long): Double = {
      if (nLoc <= 1L) 1.0
      else if (s <= 0.0) 1.0
      else if (s >= log2(nLoc.toDouble)) 1.0 / nLoc.toDouble
      else {
        def fano(p: Double): Double = {
          val h = -p * log2(p) - (1 - p) * log2(1 - p)
          h + (1 - p) * log2((nLoc - 1).toDouble)
        }
        var lo = 1.0 / nLoc.toDouble
        var hi = 1.0 - 1e-12
        var k = 0
        while (k < 60) {
          val mid = (lo + hi) / 2
          if (fano(mid) > s) lo = mid else hi = mid
          k += 1
        }
        (lo + hi) / 2
      }
    }

    val spark = spLoc.sparkSession
    import spark.implicits._
    spLoc.filter(col("location_id").isNotNull)
      .select(col("user_id").cast("long"), unix_micros(col("started_at")).as("_t"),
        col("id").cast("long"), col("location_id").cast("long"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (u, it) =>
        val seq = it.toArray.sortBy(r => (r._2, r._3)).map(_._4)
        val n = seq.length
        val nLoc = seq.distinct.length.toLong
        val sl = lambdaSum(seq)
        val s = if (n <= 1) 0.0 else n.toDouble * log2(n.toDouble) / sl.toDouble
        val pi = piMax(s, nLoc)
        (u, n.toLong, nLoc, sl,
          math.floor(s * 1e6).toLong, math.floor(pi * 1e6).toLong)
      }
      .toDF("user_id", "n_symbols", "n_locations", "sum_lambda", "s_est_q", "pi_max_q")
  }

  /** Truncated-power-law exponent of the jump-length distribution
    * (González, Hidalgo & Barabási 2008, "Understanding individual human
    * mobility patterns": P(Δr) ∝ Δr^(−β), β ≈ 1.75 for the D1/D2 phone
    * traces): jumps log₂-binned by the exact bit-length trick (floor
    * metres — the haversine double is bit-identical cross-engine, so its
    * floor is too), then the zipfFit lnq-OLS of bucket count against
    * bucket lower edge. `slope ≈ −β`.
    *
    * Scale shape: one per-user lag window (the jumpLength shuffle), a
    * map-side-combinable bucket count (≤ 64 buckets), OLS on the bounded
    * bucket table. All OLS sums exact longs.
    */
  def jumpLengthFit(sp: DataFrame, minJumpM: Long = 1L): DataFrame =
    bitBucketPowerFit(
      jumpLength(sp)
        .filter(col("jump_length").isNotNull)
        .withColumn("_m", floor(col("jump_length")).cast("long"))
        .filter(col("_m") >= minJumpM))

  /** Shared tail of every log₂-bucket power-law fit: bit-length buckets
    * over an integer magnitude column `_m` (exact), then the lnq-OLS of
    * ln(count) against ln(bucket lower edge). `slope` is the estimated
    * power-law exponent (−β). All OLS sums exact longs; the bucket table
    * is ≤ 64 rows, so the final aggregation is trivially bounded.
    */
  private def bitBucketPowerFit(values: DataFrame): DataFrame = {
    lnqOlsFit(values
      .withColumn("_bucket", (length(bin(col("_m"))) - 1).cast("long"))
      .groupBy(col("_bucket")).agg(count(lit(1)).cast("long").as("_c"))
      .withColumn("_lo", expr("shiftleft(cast(1 as bigint), cast(_bucket as int))"))
      .select(lnq(col("_lo")).as("_x"), lnq(col("_c")).as("_y")),
      "n_buckets", "slope", "intercept")
  }

  /** The lnq-OLS fit every power-law and growth fit ends with, over a
    * point frame of quantized logs `_x`, `_y` (exact longs): the point
    * count and the four sums Σx, Σy, Σxy, Σx² (exact longs), then the
    * slope with both cross terms in DECIMAL(38,0) (HUGEINT in the
    * oracle) — n·Σxy overflows a long once a spine has a few hundred
    * points, x ~ ln(1e6)·1e6 — one final cast to double each, and the
    * intercept divided back to nats. Where a long would not overflow,
    * the double is the same: both round one exact integer to nearest.
    * @return one row (nCol, slopeCol, interceptCol)
    */
  private[operators] def lnqOlsFit(points: DataFrame, nCol: String, slopeCol: String,
                                   interceptCol: String): DataFrame =
    points.agg(
        count(lit(1)).as(nCol),
        sum(col("_x")).as("_sx"), sum(col("_y")).as("_sy"),
        sum(col("_x") * col("_y")).as("_sxy"), sum(col("_x") * col("_x")).as("_sxx"))
      .withColumn(slopeCol,
        (dq(col(nCol)) * dq(col("_sxy")) - dq(col("_sx")) * dq(col("_sy"))).cast("double") /
          (dq(col(nCol)) * dq(col("_sxx")) - dq(col("_sx")) * dq(col("_sx"))).cast("double"))
      .withColumn(interceptCol,
        ((col("_sy").cast("double") - col(slopeCol) * col("_sx").cast("double"))
          / col(nCol).cast("double")) / lit(1e6))
      .select(nCol, slopeCol, interceptCol)

  /** Truncated-power-law exponent of the stay-duration (waiting-time)
    * distribution (Song, Koren, Wang & Barabási 2010, "Modelling the
    * scaling properties of human mobility": P(Δt) ∝ |Δt|^(−1−β),
    * β ≈ 0.8 ± 0.1 — the second of the two scaling laws, alongside the
    * jump-length law [[jumpLengthFit]] covers). Durations floor to whole
    * seconds (`f_us − s_us` is an exact long, so the floor is too), then
    * the same log₂-bucket lnq-OLS; `slope ≈ −(1+β)`.
    *
    * Scale shape: one scan-stage projection (no window — durations are
    * per-row), a ≤ 64-bucket map-side-combinable count, OLS on the
    * bounded bucket table.
    */
  def dwellTimeFit(sp: DataFrame, minSec: Long = 1L): DataFrame =
    bitBucketPowerFit(
      sp.select(((unix_micros(col("finished_at")) - unix_micros(col("started_at")))
          / lit(1000000L)).cast("long").as("_m"))
        .filter(col("_m") >= minSec))

  /** Returners-vs-explorers decomposition (Pappalardo et al. 2015,
    * "Returners and explorers dichotomy in human mobility"): per user,
    * the total radius of gyration and the k-radius `rg_k` computed over
    * visits to the user's k most-visited locations only (ties broken by
    * lowest location id, matching the paper's most-frequent-first rank).
    * A user is a k-returner when `rg_k` dominates: 2·rg_k ≥ rg —
    * compared on the floored integer metres so the boolean is exact
    * cross-engine (the haversine doubles themselves are bit-identical,
    * see [[radiusGyration]]).
    *
    * Scale shape: the visit-count table is one map-side-combinable
    * groupBy (≤ locations·users rows); top-k is a per-user window over
    * that bounded table, never over raw fixes; both gyration passes are
    * [[radiusGyration]]'s two-aggregation shape, the second on the
    * semi-joined top-k subset.
    */
  def kRadiusGyration(sp: DataFrame, kTop: Int = 2,
                      locCol: String = "location_id"): DataFrame = {
    require(kTop >= 1, s"kTop must be >= 1, got $kTop")
    val wTop = Window.partitionBy("user_id").orderBy(col("_n").desc, col(locCol))
    val topK = sp.groupBy(col("user_id"), col(locCol))
      .agg(count(lit(1)).as("_n"))
      .withColumn("_rk", row_number().over(wTop))
      .filter(col("_rk") <= kTop)
      .select(col("user_id"), col(locCol))
    val rgAll = radiusGyration(sp)
      .select(col("user_id"), floor(col("radius_gyration")).cast("long").as("rg_m"))
    val rgK = radiusGyration(sp.join(topK, Seq("user_id", locCol)))
      .select(col("user_id"), floor(col("radius_gyration")).cast("long").as("rgk_m"))
    rgAll.join(rgK, Seq("user_id"))
      .withColumn("is_returner", (col("rgk_m") * lit(2L)) >= col("rg_m"))
  }

  /** Exploration-curve exponent (Song et al. 2010: the number of
    * distinct locations visited grows sublinearly, S(t) ∝ t^μ with
    * μ ≈ 0.6 — the preferential-return signature). Heaps-law shape
    * ([[TextAnalysis.heapsFit]]) applied to the visit stream: bucket the
    * per-user visit index `seqCol` on a `sampleEvery` spine, count new
    * (user, location) discoveries per bucket (a discovery is the MIN
    * visit index at that location — exact, order-free), cumulate both
    * series over the spine, lnq-OLS of ln S against ln n. `beta ≈ μ`.
    *
    * Scale shape: discoveries = one map-side-combinable min-groupBy;
    * totals = one count-groupBy; the cumulative window runs over the
    * bucket spine only (≤ max visit index / sampleEvery rows — size the
    * spine with `sampleEvery`, same knob and caveat as heapsFit). Cross
    * terms in DECIMAL(38,0): n·Σxy overflows a long past a few hundred
    * spine points.
    */
  def locationGrowthFit(sp: DataFrame, sampleEvery: Long = 8L,
                        locCol: String = "location_id",
                        seqCol: String = "k"): DataFrame = {
    require(sampleEvery >= 1, "sampleEvery must be positive")
    val discoveries = sp.groupBy(col("user_id"), col(locCol))
      .agg(min(col(seqCol)).as("_fk"))
      .groupBy(expr(s"_fk div $sampleEvery").as("bucket"))
      .agg(count(lit(1)).as("_ns"))
    val visits = sp
      .select(expr(s"$seqCol div $sampleEvery").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("_nt"))
    val w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    lnqOlsFit(visits
      .join(discoveries, Seq("bucket"), "left")
      .withColumn("_s", sum(coalesce(col("_ns"), lit(0L))).over(w))
      .withColumn("_n", sum(col("_nt")).over(w))
      .select(lnq(col("_n")).as("_x"), lnq(col("_s")).as("_y")),
      "n_points", "beta", "log_k")
  }

  /** Daily mobility motifs (Schneider et al. 2013, "Unravelling daily
    * human mobility motifs": ~90% of a population's days collapse onto
    * ~17 network shapes): per user-day, the visit sequence with
    * consecutive repeats collapsed and locations relabeled by FIRST
    * APPEARANCE (so "home→work→home" and "work→gym→work" are the same
    * motif "1-2-1"), then the corpus-wide motif histogram.
    *
    * Engine-exactness: the day's sequence is sorted by (time, visit id)
    * then canonicalized by pure higher-order array ops — collapse =
    * index-filter against the predecessor, relabel = position in the
    * first-occurrence list (computed by an index-filter over prefixes,
    * NOT by a distinct() whose order an engine may not guarantee). No
    * RNG, no trig, no floats anywhere.
    *
    * Scale shape: one (user, day) shuffle carrying (time, id, location)
    * triples; everything after the collect is scan-stage array work on
    * day-bounded lists; the histogram is a map-side-combinable groupBy
    * over motif strings (bounded by the motif universe, which is tiny).
    */
  def mobilityMotifs(sp: DataFrame, locCol: String = "location_id",
                     tsCol: String = "s_us", userCol: String = "user_id",
                     idCol: String = "id"): DataFrame = {
    val dayUs = 86400000000L
    val days = sp
      .withColumn("_day", expr(s"$tsCol div ${dayUs}L"))
      .groupBy(col(userCol), col("_day"))
      .agg(sort_array(collect_list(struct(col(tsCol).as("t"), col(idCol).as("i"),
        col(locCol).cast("long").as("l")))).as("_vs"))
      .withColumn("_seq", transform(col("_vs"), v => v.getField("l")))
      // collapse consecutive repeats: keep position i iff i=1 or seq[i] != seq[i-1]
      .withColumn("_col", filter(col("_seq"),
        (x, i) => i === 0 || x =!= element_at(col("_seq"), i)))
      // first-occurrence list: keep x at index i iff x not in the prefix before i
      .withColumn("_firsts", filter(col("_col"),
        (x, i) => array_position(slice(col("_col"), lit(1), i), x) === 0))
      .withColumn("motif", concat_ws("-",
        transform(col("_col"), x => array_position(col("_firsts"), x).cast("string"))))
      .withColumn("n_visits", size(col("_col")).cast("long"))
      .withColumn("n_distinct", size(col("_firsts")).cast("long"))
    days
      .groupBy(col("motif"), col("n_visits"), col("n_distinct"))
      .agg(count(lit(1)).cast("long").as("n_user_days"))
  }

  /** Standard deviational ellipse of each user's activity space (Yuill
    * 1971 — THE classic activity-space summary: how spread out, how
    * elongated, and along which axis a person's movement is). Second
    * moments of the micro-degree point cloud per user.
    *
    * Engine-exactness: points quantize to the integer micro-degree grid
    * (the kAnonymousCells/commuteDistance contract); Σx² accumulates in
    * DECIMAL(38,0) (a long Σ overflows past ~250 points at coastal
    * longitudes), and the variance/covariance NUMERATORS `n·Σxx − Σx²`
    * etc. stay exact decimals — the oracle surface. The transcendental
    * tail (σ in degrees, orientation θ = ½·atan2(2·cov, varx − vary))
    * is spec-gated like every other libm output.
    */
  def activityEllipse(sp: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val x = floor(col("lon") * 1e6 + lit(0.5)).cast("long")
    val y = floor(col("lat") * 1e6 + lit(0.5)).cast("long")
    sp.select(col("user_id"), x.as("_x"), y.as("_y"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("_x")).cast("long").as("sx"),
        sum(col("_y")).cast("long").as("sy"),
        sum(col("_x").cast(dec) * col("_x").cast(dec)).as("sxx"),
        sum(col("_y").cast(dec) * col("_y").cast(dec)).as("syy"),
        sum(col("_x").cast(dec) * col("_y").cast(dec)).as("sxy"))
      .withColumn("varx_num", col("n").cast(dec) * col("sxx") - col("sx").cast(dec) * col("sx").cast(dec))
      .withColumn("vary_num", col("n").cast(dec) * col("syy") - col("sy").cast(dec) * col("sy").cast(dec))
      .withColumn("cov_num", col("n").cast(dec) * col("sxy") - col("sx").cast(dec) * col("sy").cast(dec))
      // spec-gated doubles: micro-deg² variances and the ellipse angle
      .withColumn("var_x", col("varx_num").cast("double") / (col("n").cast("double") * col("n").cast("double")))
      .withColumn("var_y", col("vary_num").cast("double") / (col("n").cast("double") * col("n").cast("double")))
      .withColumn("cov_xy", col("cov_num").cast("double") / (col("n").cast("double") * col("n").cast("double")))
      .withColumn("theta", atan2(lit(2.0) * col("cov_xy"), col("var_x") - col("var_y")) / 2.0)
  }

  /** Song et al. 2010 ("Limits of Predictability in Human Mobility",
    * Science 327) per-user entropy card over the location-visit
    * sequence — the ORACLE-EXACT twin of the spec-gated
    * [[locationEntropy]] / [[predictability]] pair above (those keep
    * the paper's bits/log2 surface through raw libm doubles, which no
    * SQL oracle can hash-match; this card re-expresses the same ladder
    * in the repo's quantized-ln integer convention so every column is
    * DuckDB-checkable). Three rungs:
    *
    *  - random entropy S_rand = ln N (N = distinct locations visited),
    *  - uncorrelated (Shannon) entropy S_unc = −Σ p_i ln p_i over visit
    *    frequencies — exact-integer numerator n·lnq(n) − Σ c·lnq(c) in
    *    the repo's quantized-ln convention (1e-6 nats), one double
    *    division at the end,
    *  - temporal entropy S_temp via the LZ76 estimator of Kontoyiannis
    *    et al. 1998 (the estimator Song's paper uses): the visit
    *    sequence becomes a symbol string (one letter per location, time
    *    order), the codegen'd [[graft.plans.Lz76PhraseCount]] parses it,
    *    and S_temp ≈ (phrases/n)·ln n — numerator phrases·lnq(n),
    *    engine-identical because the oracle runs the same parse as a
    *    recursive CTE (the text_lz_density machinery).
    *
    * The sequence is capped at the first `maxSeqLen` visits per user
    * (order = the adapter's per-user visit index) — the LZ parse is
    * O(cap²) per user in both engines, and all three entropies read the
    * SAME window so the S_rand ≥ S_unc ≥ S_temp ladder is internally
    * consistent.
    *
    * Scale shape: one rank filter, one (user, loc) count groupBy, one
    * per-user aggregate, one collect_list-of-(rank, symbol) aggregate
    * whose state is bounded by maxSeqLen — no joins except the final
    * per-user hash join of two user-keyed aggregates.
    *
    * @param sp (user_id, k, location_id) — k the per-user visit index
    * @return (user_id, n_visits, n_locs, s_rand_q, entropy_num_q,
    *         s_unc_nats, n_phrases, s_temp_num_q, s_temp_nats)
    */
  def locationEntropyQ(sp: DataFrame, maxSeqLen: Int = 120,
                       locCol: String = "location_id"): DataFrame = {
    require(maxSeqLen >= 1 && maxSeqLen <= 4096, "maxSeqLen must be in [1, 4096]")
    val alphabet = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    val win = sp.select(col("user_id"), col("k").cast("long").as("_k"),
        col(locCol).cast("long").as("_loc"))
      .filter(col("_k") < maxSeqLen)
    val ent = win.groupBy(col("user_id"), col("_loc"))
      .agg(count(lit(1)).cast("long").as("_c"))
      .groupBy(col("user_id"))
      .agg(sum(col("_c")).cast("long").as("n_visits"),
        count(lit(1)).cast("long").as("n_locs"),
        sum(col("_c") * lnq(col("_c"))).cast("long").as("_sclnc"))
    // one letter per location id (contract: < 26 distinct ids — the
    // assert fails loudly, not silently, on a wider id space)
    val seqs = win
      .withColumn("_sym", expr(
        s"substr('$alphabet', cast(assert_true(_loc >= 0 and _loc < 26, " +
          s"'locationEntropy: location ids must be in [0, 26)') is null as int) " +
          s"* (cast(_loc as int) + 1), 1)"))
      .groupBy(col("user_id"))
      .agg(array_join(transform(array_sort(collect_list(struct(col("_k"), col("_sym")))),
        x => x.getField("_sym")), "").as("_seq"))
      .withColumn("n_phrases", expr(s"lz76_phrase_count(_seq, $maxSeqLen)"))
    ent.join(seqs.select(col("user_id"), col("n_phrases")), Seq("user_id"))
      .withColumn("s_rand_q", lnq(col("n_locs")))
      .withColumn("entropy_num_q", col("n_visits") * lnq(col("n_visits")) - col("_sclnc"))
      .withColumn("s_unc_nats",
        col("entropy_num_q").cast("double") / (col("n_visits").cast("double") * lit(1e6)))
      .withColumn("s_temp_num_q", col("n_phrases") * lnq(col("n_visits")))
      .withColumn("s_temp_nats",
        col("s_temp_num_q").cast("double") / (col("n_visits").cast("double") * lit(1e6)))
      .select(col("user_id"), col("n_visits"), col("n_locs"), col("s_rand_q"),
        col("entropy_num_q"), col("s_unc_nats"), col("n_phrases"),
        col("s_temp_num_q"), col("s_temp_nats"))
  }

  /** Order-1 Markov conditional entropy of the location-visit sequence —
    * the rung of the Song et al. 2010 entropy ladder between the
    * uncorrelated estimate and the LZ76-temporal estimate (the ladder's
    * S_rand / S_unc live in [[locationEntropyQ]]; this is the
    * finite-context baseline every next-location Markov predictor is
    * implicitly bounded by):
    *   H(X_t | X_{t−1}) = Σ_i (c_i·ln c_i − Σ_j c_ij·ln c_ij) / n
    * over the transition counts c_ij (i = previous location, j = next),
    * c_i = Σ_j c_ij, n = total transitions. Plug-in estimator, exact in
    * the quantized-ln convention: the numerator Σ c_i·lnq(c_i) −
    * Σ c_ij·lnq(c_ij) is an integer both engines compute identically,
    * with ONE double division at the end.
    *
    * Reads the same capped visit window as [[locationEntropyQ]] so the
    * rungs are internally consistent; users with fewer than two visits
    * in the window have no transition row and drop out (both engines).
    *
    * Scale shape: one per-user lag window over ≤ maxSeqLen rows, two
    * map-side-combinable count groupBys, one per-user aggregate — no
    * joins at all.
    *
    * @param sp (user_id, k, location_id) — k the per-user visit index
    * @return (user_id, n_trans, n_contexts, markov_num_q, s_mkv_nats)
    */
  def markovEntropyQ(sp: DataFrame, maxSeqLen: Int = 120,
                     locCol: String = "location_id"): DataFrame = {
    require(maxSeqLen >= 1 && maxSeqLen <= 4096, "maxSeqLen must be in [1, 4096]")
    val win = sp.select(col("user_id"), col("k").cast("long").as("_k"),
        col(locCol).cast("long").as("_loc"))
      .filter(col("_k") < maxSeqLen)
    val byU = Window.partitionBy(col("user_id")).orderBy(col("_k"))
    val cij = win.withColumn("_prev", lag(col("_loc"), 1).over(byU))
      .filter(col("_prev").isNotNull)
      .groupBy(col("user_id"), col("_prev"), col("_loc"))
      .agg(count(lit(1)).cast("long").as("_c"))
    val ci = cij.groupBy(col("user_id"), col("_prev"))
      .agg(sum(col("_c")).cast("long").as("_ci"),
        sum(col("_c") * lnq(col("_c"))).cast("long").as("_sclnc"))
    ci.groupBy(col("user_id"))
      .agg(sum(col("_ci")).cast("long").as("n_trans"),
        count(lit(1)).cast("long").as("n_contexts"),
        (sum(col("_ci") * lnq(col("_ci"))) - sum(col("_sclnc")))
          .cast("long").as("markov_num_q"))
      .withColumn("s_mkv_nats",
        col("markov_num_q").cast("double") / (col("n_trans").cast("double") * lit(1e6)))
  }

  /** Daily mobility motifs (Schneider, Belik, Couronné, Smoreda &
    * González 2013, "Unravelling daily human mobility motifs", J. R.
    * Soc. Interface 10): each user-day's location graph — nodes = the
    * locations visited that day, directed edges = consecutive distinct
    * locations — classified into its motif, the isomorphism class of
    * the daily graph. The paper's result (17 motifs cover 90% of
    * user-days) is the distribution over this column.
    *
    * Canonical encoding, exact-integer end to end: nodes relabel to
    * 0..n−1 by first-visit order, the edge set packs into a 36-bit
    * adjacency mask (bit i·6+j), and the motif id is the MINIMUM of the
    * mask over all 720 permutations of the 6 label slots. Minimizing
    * over the full 6-symbol group equals minimizing over the n-node
    * group: an injective relabel that skips a small label moves every
    * affected bit to a strictly higher position, which strictly
    * increases the mask — so the minimum always lands on contiguous
    * labels, and one static permutation table serves every n ≤ 6.
    *
    * Scale shape: the permutation expansion runs on DISTINCT raw masks,
    * not user-days — days with the same first-visit-relabeled edge set
    * share one canonicalization, so the 720-way explode touches dozens
    * of rows however many user-days exist. Everything else is two
    * windows and hash joins keyed by (user, day). Days visiting more
    * than `maxNodes` locations are excluded (the paper's scope is ≤6;
    * the synthetic grid has 4).
    *
    * @param sp (user_id, k, s_us, location_id)
    * @return (user_id, day, n_nodes, n_edges, motif_id)
    */
  def mobilityMotifsCanonical(sp: DataFrame, locCol: String = "location_id",
                              maxNodes: Int = 6): DataFrame = {
    require(maxNodes >= 1 && maxNodes <= 6, "maxNodes must be in [1, 6]")
    val spark = sp.sparkSession
    import spark.implicits._
    val v = sp.select(col("user_id"), col("k").cast("long").as("_k"),
      expr("s_us div 86400000000").as("day"),
      col(locCol).cast("long").as("_loc"))
    val byDay = Window.partitionBy(col("user_id"), col("day")).orderBy(col("_k"))
    val trans = v.withColumn("_prev", lag(col("_loc"), 1).over(byDay))
      .filter(col("_prev").isNotNull && col("_prev") =!= col("_loc"))
      .select(col("user_id"), col("day"), col("_prev").as("_f"), col("_loc").as("_t"))
      .distinct()
    val ranked = v.groupBy(col("user_id"), col("day"), col("_loc"))
      .agg(min(col("_k")).as("_k0"))
      .withColumn("_r", row_number().over(
        Window.partitionBy(col("user_id"), col("day")).orderBy(col("_k0"))).cast("long") - 1L)
    val dayNodes = ranked.groupBy(col("user_id"), col("day"))
      .agg(count(lit(1)).cast("long").as("n_nodes"))
      // the node cap applies BEFORE the mask/permutation pipeline, not
      // just on the output: a 7+-node day's ranks overflow the 6-wide
      // bit packing (bit i·6+j aliases across nodes, element_at past the
      // permutation length nulls out, shifts past 63 wrap differently
      // across engines) and, unfiltered, its garbage mask could collide
      // with — and corrupt — a legitimate day's canonicalization
      .filter(col("n_nodes") <= maxNodes)
    val e = trans
      .join(dayNodes.select(col("user_id"), col("day")), Seq("user_id", "day"))
      .join(ranked.select(col("user_id"), col("day"), col("_loc").as("_f"), col("_r").as("_i")),
        Seq("user_id", "day", "_f"))
      .join(ranked.select(col("user_id"), col("day"), col("_loc").as("_t"), col("_r").as("_j")),
        Seq("user_id", "day", "_t"))
      .select(col("user_id"), col("day"), col("_i"), col("_j"))
    val masks = e.groupBy(col("user_id"), col("day"))
      .agg(sum(expr("shiftleft(cast(1 as bigint), cast(_i * 6 + _j as int))"))
        .cast("long").as("_mask"),
        count(lit(1)).cast("long").as("n_edges"))
    val days = dayNodes.join(masks, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"), col("n_nodes"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"),
        coalesce(col("_mask"), lit(0L)).as("_mask"))
    val maskEdges = e
      .join(masks.select(col("user_id"), col("day"), col("_mask")), Seq("user_id", "day"))
      .select(col("_mask"), col("_i"), col("_j")).distinct()
    val permDf = (0 to 5).permutations.map(_.toSeq).toSeq.toDF("p")
    val canon = maskEdges.crossJoin(broadcast(permDf))
      .withColumn("_bit", expr("shiftleft(cast(1 as bigint), " +
        "cast(element_at(p, cast(_i as int) + 1) * 6 + element_at(p, cast(_j as int) + 1) as int))"))
      .groupBy(col("_mask"), col("p")).agg(sum(col("_bit")).cast("long").as("_pm"))
      .groupBy(col("_mask")).agg(min(col("_pm")).as("motif_id"))
    days.join(canon, Seq("_mask"), "left")
      .select(col("user_id"), col("day"), col("n_nodes"), col("n_edges"),
        coalesce(col("motif_id"), lit(0L)).as("motif_id"))
  }

  /** Fano-bound maximum predictability Π_max (Song et al. 2010, SOM §3):
    * the largest Π satisfying H(Π) + (1−Π)·ln(N−1) ≥ S — the ceiling any
    * next-location predictor can reach given the sequence's entropy.
    * Computed for BOTH entropy rungs ([[locationEntropyQ]]'s uncorrelated
    * and LZ76-temporal estimates); the paper's headline "93% potential
    * predictability" is the temporal column's population distribution.
    *
    * Engine-exact by construction: instead of bisecting a transcendental
    * equation in doubles (whose libm trajectories no two engines share),
    * Π is maximized over the fixed grid j/G (G = `grid`): with p = j/G,
    *   G·[H(p) + (1−p)·ln(N−1)] = −j·ln j + j·ln G − (G−j)·ln(G−j)
    *                              + (G−j)·ln G + (G−j)·ln(N−1)
    * — every ln argument is an INTEGER ≤ max(G, N), so the quantized-ln
    * convention (floor(ln·1e6), shared with every *_fit gate) makes the
    * bracket an exact integer F(j), and the admission test
    * n·F(j) ≥ G·S_num cross-multiplies to exact integers. Π_max is then
    * max{j : admitted}/G — identical in any engine that agrees on
    * floor(ln(k)·1e6) for small integers k. Single-location users are
    * perfectly predictable (Π = 1) by definition; a user whose estimate
    * exceeds every F(j) (possible for the LZ76 estimate, which is not
    * capped by ln N) reports 0 — the bound is vacuous at grid
    * resolution, loudly.
    *
    * Scale shape: the per-user entropy card crossed with a G-row literal
    * grid (broadcast local relation — bounded build, lint-visible), one
    * conditional-max groupBy back to one row per user.
    *
    * @return (user_id, n_visits, n_locs, pi_unc_q, pi_unc, pi_temp_q,
    *         pi_temp) with pi_*_q the grid index and pi_* = q/G
    */
  def predictabilityBound(sp: DataFrame, grid: Int = 1024, maxSeqLen: Int = 120,
                          locCol: String = "location_id"): DataFrame = {
    require(grid >= 2 && grid <= 65536, "grid must be in [2, 65536]")
    val spark = sp.sparkSession
    import spark.implicits._
    val g = grid.toLong
    val card = locationEntropyQ(sp, maxSeqLen, locCol)
      .select(col("user_id"), col("n_visits"), col("n_locs"),
        col("entropy_num_q"), col("s_temp_num_q"))
    val js = (1L to g).toDF("_j")
    val f = when(col("_j") === g, lit(0L)).otherwise(
      -col("_j") * lnq(col("_j")) + col("_j") * lnq(lit(g))
        - (lit(g) - col("_j")) * lnq(lit(g) - col("_j"))
        + (lit(g) - col("_j")) * lnq(lit(g))
        + (lit(g) - col("_j")) * lnq(col("n_locs") - 1))
    def piq(sNum: Column): Column =
      coalesce(max(when(col("n_visits") * col("_f") >= lit(g) * sNum, col("_j"))), lit(0L))
    val multi = card.filter(col("n_locs") >= 2)
      .crossJoin(broadcast(js))
      .withColumn("_f", f)
      .groupBy(col("user_id"), col("n_visits"), col("n_locs"),
        col("entropy_num_q"), col("s_temp_num_q"))
      .agg(piq(col("entropy_num_q")).as("pi_unc_q"), piq(col("s_temp_num_q")).as("pi_temp_q"))
    val single = card.filter(col("n_locs") === 1)
      .select(col("user_id"), col("n_visits"), col("n_locs"),
        col("entropy_num_q"), col("s_temp_num_q"),
        lit(g).as("pi_unc_q"), lit(g).as("pi_temp_q"))
    multi.unionByName(single)
      .select(col("user_id"), col("n_visits"), col("n_locs"),
        col("pi_unc_q"),
        (col("pi_unc_q").cast("double") / lit(g.toDouble)).as("pi_unc"),
        col("pi_temp_q"),
        (col("pi_temp_q").cast("double") / lit(g.toDouble)).as("pi_temp"))
  }
}
