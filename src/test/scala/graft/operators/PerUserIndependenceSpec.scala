package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.util.Random

/** Per-user independence of the per-user scan generators: on a table of
  * many users, each generator must return exactly the union of what it
  * returns on each user's rows alone, so no scan state may cross a user
  * boundary inside a partition.
  *
  * Seeded users (36, on 3 shuffle partitions, so every partition scans
  * many users back to back) revisit three places, drawn from a pool all
  * users share, with dwells, moves and recording gaps, and some carry
  * null elevations, so
  * staypoints (with and without `includeLast`), triplegs, trips, tours
  * and per-user locations are all non-empty. Dense ids are global, so
  * they differ between the two runs by construction: every id, and every
  * reference to one, is compared as its rank within its user, which is
  * the (user, time) order the ids are assigned in.
  */
class PerUserIndependenceSpec extends SparkSpec {
  import spark.implicits._

  private val users = 36
  private val minute = 60000000L
  private val t0 = 1672560000000000L // 2023-01-01 08:00 UTC

  // places on a line ~60 m apart, shared by all users: a DBSCAN that
  // saw two users at once would chain one user's places through another's
  private val sharedPlaces = (0 until 24).map(k => (8.5 + k * 0.0008, 47.3 + (k % 3) * 0.0001))

  private def randomPfs(seed: Long): DataFrame = {
    val rnd = new Random(seed)
    val rows = Seq.newBuilder[(Long, Long, Double, Double, Option[Double])]
    for (u <- 1 to users) {
      val places = Seq.fill(3)(sharedPlaces(rnd.nextInt(sharedPlaces.length)))
      val nullElev = rnd.nextInt(4) == 0
      var t = t0 + rnd.nextInt(60) * minute
      val segments = 6 + rnd.nextInt(8)
      for (seg <- 0 until segments) {
        // every user's day starts and ends dwelling at the first shared
        // place, in overlapping hours: the next user's first fixes fall
        // inside the previous user's open window unless the scan ends it
        val home = seg == 0 || seg == segments - 1
        if (home || rnd.nextInt(5) < 3) {
          // a dwell: fixes within ~30 m of a place
          val (lon, lat) = if (home) sharedPlaces(0) else places(rnd.nextInt(3))
          for (_ <- 0 until 2 + rnd.nextInt(7)) {
            t += (2 + rnd.nextInt(5)) * minute
            rows += ((u.toLong, t, lon + rnd.nextInt(30) / 1e5, lat + rnd.nextInt(30) / 1e5,
              if (nullElev && rnd.nextInt(3) == 0) None else Some(400.0 + rnd.nextInt(50))))
          }
        } else {
          // a move: fixes hundreds of metres apart
          for (_ <- 0 until 2 + rnd.nextInt(4)) {
            t += (1 + rnd.nextInt(4)) * minute
            rows += ((u.toLong, t, 8.5 + rnd.nextInt(1000) / 10000.0, 47.3 + rnd.nextInt(1000) / 10000.0, None))
          }
        }
        if (rnd.nextInt(7) == 0) t += (20 + rnd.nextInt(70)) * minute // a recording gap
      }
    }
    val all = rows.result()
    val ids = rnd.shuffle(all.indices.map(_.toLong * 5 + 3).toVector)
    all.zip(ids).map { case ((u, t, lon, lat, elev), id) => (id, u, t, lon, lat, elev) }
      .toDF("id", "user_id", "t", "lon", "lat", "elevation")
      .select(col("id"), col("user_id"), timestamp_micros(col("t")).as("tracked_at"),
        col("lon"), col("lat"), col("elevation"))
      .localCheckpoint()
  }

  /** id → its rank among its user's ids (ids are dense in (user, time)
    * order, so the rank is the id minus the user's smallest id).
    */
  private def ranks(table: DataFrame): Map[Long, Long] = {
    val rows = table.select(col("id").cast("long"), col("user_id").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val base = rows.groupBy(_._2).map { case (u, rs) => u -> rs.map(_._1).min }
    rows.map { case (id, u) => id -> (id - base(u)) }.toMap
  }

  /** Rows as sorted strings, with the named id columns (scalars or arrays)
    * replaced by their ranks.
    */
  private def canon(df: DataFrame, idCols: (String, Map[Long, Long])*): Seq[String] = {
    val byName = idCols.toMap
    def rank(m: Map[Long, Long], v: Any): Any = v match {
      case null      => null
      case s: scala.collection.Seq[_] => s.map(rank(m, _))
      case n: Number => m(n.longValue)
    }
    df.collect().map { r =>
      r.schema.fieldNames.indices.map { i =>
        byName.get(r.schema.fieldNames(i)).fold(r.get(i))(rank(_, r.get(i)))
      }.mkString("|")
    }.toSeq.sorted
  }

  private def userIds(df: DataFrame): Seq[Long] =
    df.select(col("user_id").cast("long")).distinct().as[Long].collect().sorted.toSeq

  private def only(df: DataFrame, user: Option[Long]): DataFrame =
    user.fold(df)(u => df.filter(col("user_id") === u))

  /** `gen` on all users (None) equals the union of `gen` on each user. */
  private def assertIndependent(name: String, users: Seq[Long])(gen: Option[Long] => Seq[Seq[String]]): Unit = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try {
      val whole = gen(None)
      val alone = users.map(u => gen(Some(u)))
      whole.indices.foreach { k =>
        assert(whole(k).nonEmpty, s"$name output $k is empty; the check would be vacuous")
        assert(whole(k) == alone.flatMap(_(k)).sorted, s"$name output $k differs from the per-user union")
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  private lazy val pfs = randomPfs(42L)
  private lazy val pfsSp = StaypointGenerator.generate(pfs)._1.localCheckpoint()
  private lazy val sp = {
    val s = StaypointGenerator.generate(pfs)._2
    Labelling.createActivityFlag(s, timeThresholdMinutes = 10.0).localCheckpoint()
  }
  private lazy val tpls = TriplegGenerator.generate(pfsSp)._2.localCheckpoint()
  private lazy val trips = TripGenerator.generate(sp, tpls)._3.localCheckpoint()

  for (includeLast <- Seq(false, true))
    test(s"staypoints (includeLast=$includeLast): all users = union of each user alone") {
      assertIndependent("staypoints", userIds(pfs)) { u =>
        val (pfsOut, out) = StaypointGenerator.generate(only(pfs, u),
          StaypointGenerator.Params(includeLast = includeLast))
        val r = ranks(out)
        Seq(canon(out, "id" -> r), canon(pfsOut, "staypoint_id" -> r))
      }
    }

  test("triplegs: all users = union of each user alone") {
    assertIndependent("triplegs", userIds(pfsSp)) { u =>
      val (pfsOut, out) = TriplegGenerator.generate(only(pfsSp, u))
      val r = ranks(out)
      Seq(canon(out, "id" -> r), canon(pfsOut, "tripleg_id" -> r))
    }
  }

  test("trips: all users = union of each user alone") {
    // the generator reads two tables: a user alone is alone in both
    assertIndependent("trips", (userIds(sp) ++ userIds(tpls)).distinct) { u =>
      val (spOut, tplsOut, out) = TripGenerator.generate(only(sp, u), only(tpls, u))
      val r = ranks(out)
      Seq(canon(out, "id" -> r),
        canon(spOut, "trip_id" -> r, "prev_trip_id" -> r, "next_trip_id" -> r),
        canon(tplsOut, "trip_id" -> r))
    }
  }

  test("tours: all users = union of each user alone") {
    assertIndependent("tours", userIds(trips)) { u =>
      val (tripsOut, out) = TourGenerator.generate(only(trips, u), None,
        TourGenerator.Params(maxDistMeters = 200.0, maxTimeDays = 30.0, maxNrGaps = 1))
      val r = ranks(out)
      Seq(canon(out, "id" -> r), canon(tripsOut, "tour_id" -> r))
    }
  }

  test("per-user locations: all users = union of each user alone") {
    assertIndependent("locations", userIds(sp)) { u =>
      val (spOut, out) = LocationGenerator.generate(only(sp, u))
      val r = ranks(out)
      // centers are an aggregate whose summation order follows the
      // partitioning; the clustering itself is exact
      val locs = out.withColumn("center_lon", round(col("center_lon"), 9))
        .withColumn("center_lat", round(col("center_lat"), 9))
      Seq(canon(locs, "id" -> r), canon(spOut, "location_id" -> r))
    }
  }

  test("the seeded table spreads many users over each shuffle partition") {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try {
      val perPartition = pfs.repartition(col("user_id")).select(col("user_id")).rdd
        .mapPartitions(rows => Iterator(rows.map(_.getLong(0)).toSet.size)).collect()
      assert(userIds(pfs).length == users)
      assert(perPartition.length <= 3 && perPartition.filter(_ > 0).forall(_ >= 5), perPartition.mkString(","))
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }
}
