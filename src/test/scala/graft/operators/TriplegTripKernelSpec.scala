package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.util.Random

/** Randomized equivalence of the tripleg and trip generators against a
  * driver-side transcription of the window formulation they replace:
  * per-user lag/lead flags, cumulative-sum segment and trip keys, the
  * `>= 2` fix filter, the trip-members grouping, and the origin /
  * destination pass over the union of trips, activity staypoints,
  * synthetic gap rows and one user-change row per user, ordered by
  * (started_at, trip < staypoint < gap < user_change, id nulls first).
  *
  * Seeded users mix staypoint runs, transit runs, temporal gaps,
  * single-fix candidates and equal timestamps (fixes), and, for trips,
  * activity runs, trips with no tripleg, staypoint/tripleg intervals that
  * overlap or tie on `started_at`, users with no staypoints, and a few
  * null `is_activity` flags. Every output row and every id is compared.
  */
class TriplegTripKernelSpec extends SparkSpec {
  import TriplegTripKernelSpec._
  import spark.implicits._

  private val gapMin = 15.0
  private val gapUs = (gapMin * 60e6).toLong
  private val minute = 60000000L
  private val t0 = 1672560000000000L // 2023-01-01 08:00 UTC

  // ---- random inputs ------------------------------------------------

  private def randomFixes(rnd: Random, users: Int): Seq[Fix] = {
    val out = Seq.newBuilder[(Long, Long, Option[Long])]
    var spId = 0L
    for (u <- 0 until users) {
      val noStaypoints = rnd.nextInt(5) == 0
      var t = t0 + rnd.nextInt(1000) * minute
      var first = true
      for (_ <- 0 until 2 + rnd.nextInt(7)) {
        val sp = if (!noStaypoints && rnd.nextInt(3) == 0) { spId += 1; Some(spId) } else None
        val n = if (rnd.nextInt(4) == 0) 1 else 1 + rnd.nextInt(6)
        for (k <- 0 until n) {
          // equal timestamps only inside one run, so ids (ordered by the
          // dense (user, started_at) sort) never hit a tie
          if (!first) t += (if (k > 0 && rnd.nextInt(4) == 0) 0L
                            else if (rnd.nextInt(6) == 0) (gapMin.toLong + 1 + rnd.nextInt(90)) * minute
                            else (1 + rnd.nextInt(10)) * minute)
          first = false
          out += ((u.toLong + 1, t, sp))
        }
        t += minute
      }
    }
    val rows = out.result()
    val ids = rnd.shuffle(rows.indices.map(_.toLong * 3 + 7).toVector)
    rows.zip(ids).map { case ((u, t, sp), id) =>
      Fix(id, u, t, rnd.nextInt(1000) / 100.0, 47 + rnd.nextInt(1000) / 100.0, sp)
    }
  }

  private def randomSpTpls(rnd: Random, users: Int): (Seq[Sp], Seq[Tp]) = {
    val sps = Seq.newBuilder[Sp]; val tps = Seq.newBuilder[Tp]
    // the two id spaces overlap on purpose: the tables are independent
    val spIds = rnd.shuffle((0L until users * 20L).toVector).iterator
    val tpIds = rnd.shuffle((0L until users * 20L).toVector).iterator
    for (u <- 0 until users) {
      val noStaypoints = rnd.nextInt(6) == 0
      val nullActs = rnd.nextInt(8) == 0
      var s = t0 + rnd.nextInt(1000) * minute
      for (_ <- 0 until 1 + rnd.nextInt(14)) {
        // zero steps tie started_at; long durations overlap the next record
        s += Seq(0L, minute, 5 * minute, 20 * minute, 3 * 60 * minute)(rnd.nextInt(5))
        val f = s + Seq(0L, 2 * minute, 10 * minute, 40 * minute)(rnd.nextInt(4))
        def pt = (rnd.nextInt(1000) / 100.0, 47 + rnd.nextInt(1000) / 100.0)
        if (noStaypoints || rnd.nextInt(5) < 2) {
          tps += Tp(tpIds.next(), u + 1L, s, f, Seq.fill(2 + rnd.nextInt(3))(pt))
        } else {
          val act = if (nullActs && rnd.nextInt(3) == 0) None else Some(rnd.nextInt(5) < 2)
          val (lon, lat) = pt
          sps += Sp(spIds.next(), u + 1L, s, f, act, lon, lat)
        }
      }
    }
    (sps.result(), tps.result())
  }

  private def pfsFrame(fixes: Seq[Fix]): DataFrame =
    fixes.map(f => (f.id, f.user, f.t, f.lon, f.lat, f.sp)).toDF("id", "user_id", "t", "lon", "lat", "staypoint_id")
      .select(col("id"), col("user_id"), timestamp_micros(col("t")).as("tracked_at"),
        col("lon"), col("lat"), col("staypoint_id"))

  private def spFrame(sps: Seq[Sp]): DataFrame =
    sps.map(p => (p.id, p.user, p.s, p.f, p.lon, p.lat, p.act)).toDF("id", "user_id", "s", "f", "lon", "lat", "is_activity")
      .select(col("id"), col("user_id"), timestamp_micros(col("s")).as("started_at"),
        timestamp_micros(col("f")).as("finished_at"), col("lon"), col("lat"), col("is_activity"))

  private def tplFrame(tps: Seq[Tp]): DataFrame =
    tps.map(p => (p.id, p.user, p.s, p.f, p.points)).toDF("id", "user_id", "s", "f", "raw")
      .select(col("id"), col("user_id"), timestamp_micros(col("s")).as("started_at"),
        timestamp_micros(col("f")).as("finished_at"),
        expr("transform(raw, p -> struct(p._1 as lon, p._2 as lat))").as("points"))

  // ---- readers --------------------------------------------------------

  private def us(r: Row, f: String): Long = {
    val i = r.getAs[java.sql.Timestamp](f).toInstant
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }
  private def optL(r: Row, f: String): Option[Long] =
    if (r.isNullAt(r.fieldIndex(f))) None else Some(r.getAs[Long](f))
  private def optPt(r: Row): Option[(Double, Double)] =
    Option(r).map(p => (p.getDouble(0), p.getDouble(1)))

  // ---- the checks -------------------------------------------------------

  private val pointsType = ArrayType(StructType(Seq(
    StructField("lon", DoubleType, nullable = false), StructField("lat", DoubleType, nullable = false))),
    containsNull = false)
  private val endpointType = StructType(Seq(
    StructField("lon", DoubleType), StructField("lat", DoubleType)))

  private def checkTriplegs(fixes: Seq[Fix], share: DataFrame => DataFrame): Unit = {
    val (pfsOut, tpls) = TriplegGenerator.generate(pfsFrame(fixes), gapMin, share)
    val (wantLink, wantTpls) = triplegsOracle(fixes, gapUs)

    assert(tpls.schema == StructType(Seq(
      StructField("id", LongType, nullable = false), StructField("user_id", LongType, nullable = false),
      StructField("started_at", TimestampType), StructField("finished_at", TimestampType),
      StructField("points", pointsType, nullable = false))))
    assert(pfsOut.schema == pfsFrame(fixes).schema.add(StructField("tripleg_id", LongType)))

    val got = tpls.collect().map(r => Tpl(r.getAs[Long]("id"), r.getAs[Long]("user_id"),
      us(r, "started_at"), us(r, "finished_at"),
      r.getSeq[Row](r.fieldIndex("points")).map(p => (p.getDouble(0), p.getDouble(1))))).sortBy(_.id).toSeq
    assert(got == wantTpls)

    val links = pfsOut.collect().map(r => r.getAs[Long]("id") -> optL(r, "tripleg_id"))
    assert(links.length == fixes.length)
    assert(links.toMap == wantLink)
    val passthrough = pfsOut.drop("tripleg_id").collect().map(_.toSeq).toSet
    assert(passthrough == pfsFrame(fixes).collect().map(_.toSeq).toSet)
  }

  private def checkTrips(sps: Seq[Sp], tps: Seq[Tp], share: DataFrame => DataFrame): Unit = {
    val (spOut, tplsOut, trips) = TripGenerator.generate(spFrame(sps), tplFrame(tps), gapMin, share)
    val want = tripsOracle(sps, tps, gapUs)

    assert(trips.schema == StructType(Seq(
      StructField("id", LongType), StructField("user_id", LongType, nullable = false),
      StructField("started_at", TimestampType), StructField("finished_at", TimestampType),
      StructField("origin_staypoint_id", LongType), StructField("destination_staypoint_id", LongType),
      StructField("geom", StructType(Seq(
        StructField("origin", endpointType), StructField("destination", endpointType))), nullable = false))))
    assert(spOut.schema == spFrame(sps).schema
      .add(StructField("trip_id", LongType)).add(StructField("prev_trip_id", LongType))
      .add(StructField("next_trip_id", LongType)))
    assert(tplsOut.schema == tplFrame(tps).schema.add(StructField("trip_id", LongType)))

    val got = trips.collect().map { r =>
      val g = r.getAs[Row]("geom")
      Trip(r.getAs[Long]("id"), r.getAs[Long]("user_id"), us(r, "started_at"), us(r, "finished_at"),
        optL(r, "origin_staypoint_id"), optL(r, "destination_staypoint_id"),
        optPt(g.getAs[Row]("origin")), optPt(g.getAs[Row]("destination")))
    }.sortBy(_.id).toSeq
    assert(got == want.trips)

    val spLinks = spOut.collect().map(r =>
      r.getAs[Long]("id") -> ((optL(r, "trip_id"), optL(r, "prev_trip_id"), optL(r, "next_trip_id"))))
    assert(spLinks.length == sps.length)
    assert(spLinks.toMap == want.spLinks)
    val tplLinks = tplsOut.collect().map(r => r.getAs[Long]("id") -> optL(r, "trip_id"))
    assert(tplLinks.length == tps.length)
    assert(tplLinks.toMap == want.tplLinks)
  }

  private val checkpoint: DataFrame => DataFrame = _.localCheckpoint(eager = false)

  for (seed <- 1 to 4) {
    test(s"triplegs equal the window formulation on random users (seed $seed)") {
      val fixes = randomFixes(new Random(seed), users = 40)
      assert(fixes.exists(_.sp.isEmpty) && fixes.exists(_.sp.isDefined))
      checkTriplegs(fixes, if (seed % 2 == 0) checkpoint else identity)
    }

    test(s"trips equal the window formulation on random users (seed $seed)") {
      val (sps, tps) = randomSpTpls(new Random(seed), users = 40)
      val want = tripsOracle(sps, tps, gapUs)
      // the data reaches the cases that matter
      assert(want.trips.exists(_.origin.isEmpty) && want.trips.exists(_.origin.isDefined))
      assert(want.trips.exists(_.dest.isEmpty) && want.trips.exists(_.dest.isDefined))
      assert(want.spLinks.values.exists(_._2.isDefined) && want.spLinks.values.exists(_._3.isDefined))
      assert(tps.map(_.user).toSet.exists(u => !sps.exists(_.user == u)))
      checkTrips(sps, tps, if (seed % 2 == 0) checkpoint else identity)
    }
  }

  test("an activity followed by a null is_activity flag does not end its run") {
    // tripleg, activity, null-flag staypoint, tripleg: `true AND NOT null`
    // is null, so no trip starts and both triplegs share one trip
    val sps = Seq(
      Sp(0L, 1L, t0 + 10 * minute, t0 + 20 * minute, Some(true), 1.0, 47.0),
      Sp(1L, 1L, t0 + 20 * minute, t0 + 25 * minute, None, 2.0, 47.0))
    val tps = Seq(
      Tp(0L, 1L, t0, t0 + 10 * minute, Seq((0.0, 47.0), (1.0, 47.0))),
      Tp(1L, 1L, t0 + 25 * minute, t0 + 30 * minute, Seq((2.0, 47.0), (3.0, 47.0))))
    assert(tripsOracle(sps, tps, gapUs).trips.size == 1)
    checkTrips(sps, tps, identity)
  }

  test("triplegs over the staypoint generator's own output") {
    val fixes = randomFixes(new Random(99), users = 30)
    val pfs = pfsFrame(fixes).drop("staypoint_id")
    val (pfsSp, sp) = StaypointGenerator.generate(pfs, StaypointGenerator.Params(
      distThresholdMeters = 50000, timeThresholdMinutes = 20, gapThresholdMinutes = 60))
    val withSp = fixes.map(f => f.id -> f).toMap
    val linked = pfsSp.select("id", "staypoint_id").collect()
      .map(r => withSp(r.getLong(0)).copy(sp = if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSeq
    assert(linked.exists(_.sp.isDefined))
    checkTriplegs(linked, identity)
  }
}

object TriplegTripKernelSpec {
  final case class Fix(id: Long, user: Long, t: Long, lon: Double, lat: Double, sp: Option[Long])
  final case class Tpl(id: Long, user: Long, s: Long, f: Long, points: Seq[(Double, Double)])
  final case class Sp(id: Long, user: Long, s: Long, f: Long, act: Option[Boolean], lon: Double, lat: Double)
  final case class Tp(id: Long, user: Long, s: Long, f: Long, points: Seq[(Double, Double)])
  final case class Trip(id: Long, user: Long, s: Long, f: Long, origin: Option[Long], dest: Option[Long],
                        originPt: Option[(Double, Double)], destPt: Option[(Double, Double)])
  final case class TripsResult(trips: Seq[Trip], spLinks: Map[Long, (Option[Long], Option[Long], Option[Long])],
                               tplLinks: Map[Long, Option[Long]])

  /** The window formulation of `between_staypoints`, row by row: a fix
    * starts a candidate when it is the user's first fix, follows a gap,
    * or follows a change of `staypoint_id + 1 fillna 0` — and is not
    * itself a staypoint fix; the candidate key is the running count of
    * starts; candidates with >= 2 fixes become triplegs; ids are dense in
    * (user, started_at) order.
    */
  def triplegsOracle(fixes: Seq[Fix], gapUs: Long): (Map[Long, Option[Long]], Seq[Tpl]) = {
    val segs = fixes.groupBy(_.user).toSeq.sortBy(_._1).flatMap { case (user, fs) =>
      val sorted = fs.sortBy(f => (f.t, f.id))
      val stpKey = sorted.map(_.sp.map(_ + 1).getOrElse(0L))
      var seg = 0L
      val keyed = sorted.indices.map { i =>
        val f = sorted(i)
        val newUser = i == 0
        val gap = i > 0 && f.t - sorted(i - 1).t > gapUs
        val stp = i == 0 || stpKey(i) != stpKey(i - 1)
        if ((newUser || gap || stp) && f.sp.isEmpty) seg += 1
        (seg, f)
      }
      keyed.filter(_._2.sp.isEmpty).groupBy(_._1).toSeq.sortBy(_._1).map(_._2.map(_._2))
        .filter(_.size >= 2).map(members => (user, members))
    }
    val numbered = segs.sortBy { case (u, m) => (u, m.head.t) }.zipWithIndex
    val tpls = numbered.map { case ((u, m), id) =>
      Tpl(id.toLong, u, m.map(_.t).min, m.map(_.t).max, m.map(f => (f.lon, f.lat)))
    }
    val memberOf = numbered.flatMap { case ((_, m), id) => m.map(_.id -> id.toLong) }.toMap
    (fixes.map(f => f.id -> memberOf.get(f.id)).toMap, tpls)
  }

  private def and3(a: Option[Boolean], b: Option[Boolean]): Option[Boolean] =
    if (a.contains(false) || b.contains(false)) Some(false)
    else if (a.contains(true) && b.contains(true)) Some(true) else None
  private def or3(a: Option[Boolean], b: Option[Boolean]): Option[Boolean] =
    if (a.contains(true) || b.contains(true)) Some(true)
    else if (a.contains(false) && b.contains(false)) Some(false) else None

  private final case class Rec(s: Long, f: Long, isSp: Boolean, id: Long, act: Option[Boolean],
                               pt: Option[(Double, Double)], points: Seq[(Double, Double)])
  private final case class Row2(s: Long, ord: Int, id: Option[Long], pt: Option[(Double, Double)],
                                tripId: Option[Long])

  /** The window formulation of `generate_trips`, with SQL three-valued
    * logic on `is_activity` (a null flag is neither a member nor an
    * activity, and an activity followed by it is not a run's last).
    */
  def tripsOracle(sps: Seq[Sp], tps: Seq[Tp], gapUs: Long): TripsResult = {
    val recs = sps.map(p => p.user -> Rec(p.s, p.f, isSp = true, p.id, p.act, Some((p.lon, p.lat)), Nil)) ++
      tps.map(p => p.user -> Rec(p.s, p.f, isSp = false, p.id, Some(false), None, p.points))
    val byUser = recs.groupBy(_._1).toSeq.sortBy(_._1).map { case (u, rs) =>
      u -> rs.map(_._2).sortBy(r => (r.s, if (r.isSp) 0 else 1, r.id)).toVector
    }
    // stream 1: flags and the running trip key
    val flagged = byUser.map { case (u, rs) =>
      val n = rs.size
      var temp = 0L
      val rows = rs.indices.map { i =>
        val nextAct = if (i == n - 1) Some(false) else rs(i + 1).act
        val lastAct = and3(rs(i).act, nextAct.map(!_))
        val gapBefore = i > 0 && rs(i).s - rs(i - 1).f > gapUs
        val gapAfter = i < n - 1 && rs(i + 1).s - rs(i).f > gapUs
        if (or3(Some(i == 0 || gapBefore), lastAct).contains(true)) temp += 1
        (rs(i), temp, gapAfter)
      }
      u -> rows
    }
    // trips: non-activity members grouped by key, >= 1 tripleg, ids in (user, key) order
    val cands = flagged.flatMap { case (u, rows) =>
      rows.filter(_._1.act.contains(false)).groupBy(_._2).toSeq.sortBy(_._1).map { case (k, ms) =>
        (u, k, ms.map(_._1))
      }.filter(_._3.exists(!_.isSp))
    }
    val tripIdOf = cands.sortBy(c => (c._1, c._2)).zipWithIndex.map { case (c, i) => (c._1, c._2) -> i.toLong }.toMap

    val trips = Seq.newBuilder[Trip]
    val actPrevNext = Map.newBuilder[Long, (Option[Long], Option[Long])]
    for ((u, rows) <- flagged) {
      val userCands = cands.filter(_._1 == u)
      val stream = userCands.map(c => Row2(c._3.map(_.s).min, 0, None, None, Some(tripIdOf((u, c._2))))) ++
        rows.filter(_._1.act.contains(true)).map(r => Row2(r._1.s, 1, Some(r._1.id), r._1.pt, None)) ++
        rows.filter(_._3).map(r => Row2(r._1.f + gapUs / 2, 2, None, None, None)) :+
        Row2(rows.head._1.s - gapUs / 2, 3, None, None, None)
      val ordered = stream.sortBy(r => (r.s, r.ord, r.id.getOrElse(Long.MinValue))).toVector
      for (j <- ordered.indices) {
        val prev = if (j > 0) Some(ordered(j - 1)) else None
        val next = if (j < ordered.size - 1) Some(ordered(j + 1)) else None
        val r = ordered(j)
        if (r.ord == 1) actPrevNext += r.id.get -> ((prev.flatMap(_.tripId), next.flatMap(_.tripId)))
        if (r.ord == 0) {
          val c = userCands.find(c => tripIdOf((u, c._2)) == r.tripId.get).get
          val tplMembers = c._3.filter(!_.isSp)
          val origin = prev.flatMap(_.id)
          val dest = next.flatMap(_.id)
          trips += Trip(r.tripId.get, u, c._3.map(_.s).min, c._3.map(_.f).max, origin, dest,
            if (origin.isEmpty) tplMembers.head.points.headOption else prev.flatMap(_.pt),
            if (dest.isEmpty) tplMembers.last.points.lastOption else next.flatMap(_.pt))
        }
      }
    }
    val memberTrip = cands.flatMap(c => c._3.map(m => (m.isSp, m.id) -> tripIdOf((c._1, c._2)))).toMap
    val act = actPrevNext.result()
    TripsResult(
      trips.result().sortBy(_.id),
      sps.map(p => p.id -> ((memberTrip.get((true, p.id)), act.get(p.id).flatMap(_._1), act.get(p.id).flatMap(_._2)))).toMap,
      tps.map(p => p.id -> memberTrip.get((false, p.id))).toMap)
  }
}
