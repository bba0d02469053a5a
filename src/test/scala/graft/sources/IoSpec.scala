package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

class IoSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String = Files.createTempDirectory("graft_io").toString

  test("positionfixes CSV round trip with column rename") {
    val dir = tmpDir()
    Files.writeString(Paths.get(dir, "pfs.csv"),
      """id,User,time,longitude,latitude
        |0,1,2023-01-01 08:00:00,8.5,47.3
        |1,1,2023-01-01 08:05:00,8.51,47.31
        |""".stripMargin)
    val pfs = Csv.readPositionfixes(spark, s"$dir/pfs.csv",
      columns = Map("User" -> "user_id", "time" -> "tracked_at"))
    assert(pfs.count() == 2)
    assert(pfs.schema("lon").dataType.typeName == "double")

    val outDir = s"$dir/out"
    Csv.writePositionfixes(pfs, outDir)
    val back = Csv.readPositionfixes(spark, outDir)
    assert(back.orderBy("id").select("lon").as[Double].collect().toSeq == Seq(8.5, 8.51))
  }

  test("staypoints WKT POINT round trip") {
    val dir = tmpDir()
    Files.writeString(Paths.get(dir, "sp.csv"),
      """id,user_id,started_at,finished_at,geom
        |0,1,2023-01-01 08:00:00,2023-01-01 09:00:00,POINT (8.52940553 47.39725036)
        |""".stripMargin)
    val sp = Csv.readStaypoints(spark, s"$dir/sp.csv")
    val r = sp.first()
    assert(r.getAs[Double]("lon") == 8.52940553 && r.getAs[Double]("lat") == 47.39725036)
    Csv.writeStaypoints(sp, s"$dir/out")
    val back = Csv.readStaypoints(spark, s"$dir/out")
    assert(back.first().getAs[Double]("lon") == 8.52940553)
  }

  test("triplegs WKT LINESTRING round trip") {
    val dir = tmpDir()
    Files.writeString(Paths.get(dir, "tpls.csv"),
      """id;user_id;started_at;finished_at;geom
        |0;1;2023-01-01 08:00:00;2023-01-01 08:30:00;LINESTRING (8.5 47.3, 8.51 47.31, 8.52 47.32)
        |""".stripMargin)
    val tpls = Csv.readTriplegs(spark, s"$dir/tpls.csv", sep = ";")
    val pts = tpls.select(col("points")).first().getSeq[org.apache.spark.sql.Row](0)
    assert(pts.length == 3 && pts(1).getDouble(0) == 8.51)
    Csv.writeTriplegs(tpls, s"$dir/out", sep = ";")
    val back = Csv.readTriplegs(spark, s"$dir/out", sep = ";")
    assert(back.select(col("points")).first().getSeq[org.apache.spark.sql.Row](0).length == 3)
  }

  test("tours list-column round trip") {
    val dir = tmpDir()
    Files.writeString(Paths.get(dir, "tours.csv"),
      """id;user_id;started_at;finished_at;trips
        |0;1;2023-01-01 08:00:00;2023-01-01 18:00:00;[3, 5, 7]
        |""".stripMargin)
    val tours = Csv.readTours(spark, s"$dir/tours.csv")
    assert(tours.first().getSeq[Long](tours.first().fieldIndex("trips")) == Seq(3L, 5L, 7L))
    Csv.writeTours(tours, s"$dir/out")
    val back = Csv.readTours(spark, s"$dir/out")
    assert(back.first().getSeq[Long](back.first().fieldIndex("trips")) == Seq(3L, 5L, 7L))
  }

  test("locations CSV round trip: POINT center plus POLYGON extent") {
    val dir = tmpDir()
    Files.writeString(Paths.get(dir, "locs.csv"),
      """id,user_id,center,extent
        |0,1,POINT (8.5 47.3),"POLYGON ((8.5 47.3, 8.6 47.3, 8.6 47.4, 8.5 47.3))"
        |1,1,POINT (8.7 47.5),
        |""".stripMargin)
    val locs = Csv.readLocations(spark, s"$dir/locs.csv")
    val r0 = locs.orderBy("id").first()
    assert(r0.getAs[Double]("center_lon") == 8.5 && r0.getAs[Double]("center_lat") == 47.3)
    val ring = r0.getSeq[org.apache.spark.sql.Row](r0.fieldIndex("extent_hull"))
    assert(ring.length == 4 && ring(2).getDouble(0) == 8.6 && ring(2).getDouble(1) == 47.4)

    Csv.writeLocations(locs, s"$dir/out")
    val back = Csv.readLocations(spark, s"$dir/out").orderBy("id").collect()
    assert(back(0).getSeq[org.apache.spark.sql.Row](back(0).fieldIndex("extent_hull")).length == 4)
    assert(back(1).isNullAt(back(1).fieldIndex("extent_hull"))) // missing extent survives
    assert(back(1).getAs[Double]("center_lon") == 8.7)
  }

  test("trips CSV round trip: MULTIPOINT origin/destination geometry") {
    val dir = tmpDir()
    Files.writeString(Paths.get(dir, "trips.csv"),
      """id,user_id,started_at,finished_at,origin_staypoint_id,destination_staypoint_id,geom
        |0,1,2023-01-01 08:00:00,2023-01-01 09:00:00,10,11,"MULTIPOINT (8.5 47.3, 8.6 47.4)"
        |""".stripMargin)
    val trips = Csv.readTrips(spark, s"$dir/trips.csv")
    val g = trips.first().getStruct(trips.first().fieldIndex("geom"))
    assert(g.getStruct(0).getDouble(0) == 8.5) // origin lon
    assert(g.getStruct(1).getDouble(1) == 47.4) // destination lat

    Csv.writeTrips(trips, s"$dir/out")
    val back = Csv.readTrips(spark, s"$dir/out")
    val g2 = back.first().getStruct(back.first().fieldIndex("geom"))
    assert(g2.getStruct(0).getDouble(0) == 8.5 && g2.getStruct(1).getDouble(0) == 8.6)
    assert(back.first().getAs[Long]("origin_staypoint_id") == 10L)
  }

  test("geolife directory scan: plt parsing, header skip, feet conversion, labels") {
    val dir = tmpDir()
    val traj = Paths.get(dir, "010", "Trajectory")
    Files.createDirectories(traj)
    Files.writeString(traj.resolve("20081023025304.plt"),
      """Geolife trajectory
        |WGS 84
        |Altitude is in Feet
        |Reserved 3
        |0,2,255,My Track,0,0,2,8421376
        |0
        |39.984702,116.318417,0,492,39744.1201851852,2008-10-23,02:53:04
        |39.984683,116.31845,0,492,39744.1202546296,2008-10-23,02:53:10
        |""".stripMargin)
    Files.writeString(Paths.get(dir, "010", "labels.txt"),
      "Start Time\tEnd Time\tTransportation Mode\n" +
        "2008/10/23 02:53:00\t2008/10/23 03:00:00\ttrain\n")

    val pfs = Geolife.readPositionfixes(spark, dir)
    assert(pfs.count() == 2)
    val r = pfs.orderBy("id").first()
    assert(r.getAs[Long]("user_id") == 10L)
    assert(r.getAs[Double]("lat") == 39.984702)
    assert(math.abs(r.getAs[Double]("elevation") - 492 * 0.3048) < 1e-9)

    val labels = Geolife.readLabels(spark, dir)
    assert(labels.count() == 1)
    assert(labels.first().getAs[String]("mode") == "train")

    // label matching: build a tripleg covering the label window
    val tpls = Seq((0L, 10L, "2008-10-23 02:53:04", "2008-10-23 02:59:00"))
      .toDF("id", "user_id", "s", "f")
      .select(col("id"), col("user_id"), to_timestamp(col("s")).as("started_at"),
        to_timestamp(col("f")).as("finished_at"))
    val labelled = Geolife.addModesToTriplegs(tpls, labels)
    assert(labelled.first().getAs[String]("mode") == "train")
  }

  test("naive timestamps localize to UTC; offset-carrying stamps convert to UTC") {
    // the reference localizes naive stamps to UTC with a warning
    // (io/from_geopandas.py:410-446); the engine's documented contract is
    // the same instant assignment, via the UTC-pinned session timezone
    val dir = tmpDir()
    Files.writeString(Paths.get(dir, "pfs.csv"),
      """id,user_id,tracked_at,longitude,latitude
        |0,1,2023-01-01 08:00:00,8.5,47.3
        |1,1,2023-01-01 08:00:00+02:00,8.5,47.3
        |""".stripMargin)
    val pfs = Csv.readPositionfixes(spark, s"$dir/pfs.csv")
    val byId = pfs.collect().map(r => r.getAs[Long]("id") ->
      r.getAs[java.sql.Timestamp]("tracked_at").toInstant).toMap
    assert(byId(0L) == java.time.Instant.parse("2023-01-01T08:00:00Z"))
    assert(byId(1L) == java.time.Instant.parse("2023-01-01T06:00:00Z"))
  }

  test("CSV writers keep a timestamp's microseconds") {
    val dir = tmpDir()
    val pfs = Seq((0L, 1L, ts("2023-01-01 08:00:00.123456"), 8.5, 47.3))
      .toDF("id", "user_id", "tracked_at", "lon", "lat")
    Csv.writePositionfixes(pfs, s"$dir/pfs")
    val tours = Seq((0L, 1L, ts("2023-01-01 08:00:00.000001"), ts("2023-01-01 18:00:00.654321"), Seq(1L)))
      .toDF("id", "user_id", "started_at", "finished_at", "trips")
    Csv.writeTours(tours, s"$dir/tours")
    assert(Csv.readPositionfixes(spark, s"$dir/pfs").first().getAs[java.sql.Timestamp]("tracked_at") ==
      ts("2023-01-01 08:00:00.123456"))
    val back = Csv.readTours(spark, s"$dir/tours").first()
    assert(back.getAs[java.sql.Timestamp]("started_at") == ts("2023-01-01 08:00:00.000001"))
    assert(back.getAs[java.sql.Timestamp]("finished_at") == ts("2023-01-01 18:00:00.654321"))
  }

  test("columns renames a staypoints geometry column stored under another name") {
    val dir = tmpDir()
    Files.writeString(Paths.get(dir, "sp.csv"),
      """id,user_id,started_at,finished_at,point_wkt
        |0,1,2023-01-01 08:00:00,2023-01-01 09:00:00,POINT (8.5 47.3)
        |""".stripMargin)
    val sp = Csv.readStaypoints(spark, s"$dir/sp.csv", columns = Map("point_wkt" -> "geom"))
    assert(sp.columns.toSeq == Seq("id", "user_id", "started_at", "finished_at", "lon", "lat"))
    val r = sp.first()
    assert(r.getAs[Double]("lon") == 8.5 && r.getAs[Double]("lat") == 47.3)
  }
}
