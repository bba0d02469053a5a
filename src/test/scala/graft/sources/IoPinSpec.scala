package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Byte pin of every text reader and writer of the six domain tables.
  * One fixture of all six tables (plus locations without an extent and
  * trips without a geometry, the two optional geometries) is written as
  * CSV, as ndgeojson (trips with their geometry only) and to an embedded
  * Derby database in both WKT and EWKB form. The spec pins the exact
  * written text (CSV header and part-file lines, ndgeojson lines, Derby
  * rows read back as strings) and every reader's schema (names, order,
  * types, nullability) and rows against `src/test/resources/io_pin.txt`.
  * On a mismatch the text the code produced is left in
  * `target/io_pin.actual.txt` for a diff.
  */
class IoPinSpec extends SparkSpec {
  import spark.implicits._

  System.setProperty("derby.system.home",
    Files.createTempDirectory("graft_derby_pin").toString)

  private val conn = Postgis.Conn(
    url = "jdbc:derby:memory:graftpin;create=true",
    user = "app", password = "app",
    driver = "org.apache.derby.jdbc.EmbeddedDriver")

  private def lonLat(c: String) = transform(col(c),
    p => struct(p.getField("_1").as("lon"), p.getField("_2").as("lat")))

  private def fixture(): Seq[(String, DataFrame)] = {
    val pfs = Seq(
      (0L, 1L, ts("2023-01-01 08:00:00.123456"), 8.52940553, 47.39725036, 5.0),
      (1L, 2L, ts("2023-01-02 10:00:00"), -73.9857, 40.7484, 12.5)
    ).toDF("id", "user_id", "tracked_at", "lon", "lat", "accuracy")
    val sp = Seq(
      (0L, 1L, ts("2023-01-01 08:00:00.5"), ts("2023-01-01 09:00:00"), 8.5, 47.3),
      (1L, 1L, ts("2023-01-01 10:00:00"), ts("2023-01-01 11:15:00.000001"), 8.55, 47.41)
    ).toDF("id", "user_id", "started_at", "finished_at", "lon", "lat")
    val tpls = Seq(
      (0L, 1L, ts("2023-01-01 09:00:00"), ts("2023-01-01 10:00:00"),
        Seq((8.5, 47.3), (8.51, 47.31), (8.52, 47.32))),
      (1L, 2L, ts("2023-01-02 10:00:00.25"), ts("2023-01-02 10:30:00"),
        Seq((-73.98, 40.74), (-73.97, 40.75)))
    ).toDF("id", "user_id", "started_at", "finished_at", "points")
      .withColumn("points", lonLat("points"))
    val ring = Seq((8.5, 47.3), (8.6, 47.3), (8.6, 47.4), (8.5, 47.3))
    val locs = Seq((0L, 1L, 8.55, 47.33, Some(ring)), (1L, 1L, 8.7, 47.5, None))
      .toDF("id", "user_id", "center_lon", "center_lat", "extent_hull")
      .withColumn("extent_hull", lonLat("extent_hull"))
    val trips = Seq(
      (0L, 1L, ts("2023-01-01 08:00:00.123456"), ts("2023-01-01 09:00:00"),
        Some(10L), Some(11L), ((8.5, 47.3), (8.6, 47.4))),
      (1L, 1L, ts("2023-01-01 10:00:00"), ts("2023-01-01 11:00:00"),
        None, Some(12L), ((8.6, 47.4), (8.7, 47.5)))
    ).toDF("id", "user_id", "started_at", "finished_at",
        "origin_staypoint_id", "destination_staypoint_id", "geom")
      .withColumn("geom", struct(
        struct(col("geom._1._1").as("lon"), col("geom._1._2").as("lat")).as("origin"),
        struct(col("geom._2._1").as("lon"), col("geom._2._2").as("lat")).as("destination")))
    val tours = Seq(
      (0L, 1L, ts("2023-01-01 08:00:00"), ts("2023-01-01 18:00:00.654321"), Seq(1L, 2L, 3L)),
      (1L, 2L, ts("2023-01-02 08:00:00"), ts("2023-01-02 18:00:00"), Seq.empty[Long])
    ).toDF("id", "user_id", "started_at", "finished_at", "trips")
    // one partition each, so every table is one part file
    Seq("positionfixes" -> pfs, "staypoints" -> sp, "triplegs" -> tpls,
      "locations" -> locs, "locations_bare" -> locs.drop("extent_hull"),
      "trips" -> trips, "trips_bare" -> trips.drop("geom"), "tours" -> tours)
      .map { case (name, df) => name -> df.coalesce(1) }
  }

  private def table(name: String): String = name.stripSuffix("_bare")

  private def schema(df: DataFrame): String = df.schema.treeString.trim

  private def rows(df: DataFrame): String =
    df.orderBy("id").collect().map(_.toString).mkString("\n")

  private def partFiles(dir: String): String =
    Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq
      .sortBy(_.getFileName.toString)
      .map(p => Files.readString(p)).mkString

  private def section(title: String, body: String): String = s"## $title\n$body\n"

  private def read(df: DataFrame, what: String): String =
    section(s"$what: read schema", schema(df)) + section(s"$what: read rows", rows(df))

  private def csv(name: String, df: DataFrame, dir: Path): String = {
    val out = dir.resolve(s"csv_$name").toString
    table(name) match {
      case "positionfixes" => Csv.writePositionfixes(df, out)
      case "staypoints"    => Csv.writeStaypoints(df, out)
      case "triplegs"      => Csv.writeTriplegs(df, out)
      case "locations"     => Csv.writeLocations(df, out)
      case "trips"         => Csv.writeTrips(df, out)
      case "tours"         => Csv.writeTours(df, out)
    }
    val back = table(name) match {
      case "positionfixes" => Csv.readPositionfixes(spark, out)
      case "staypoints"    => Csv.readStaypoints(spark, out)
      case "triplegs"      => Csv.readTriplegs(spark, out)
      case "locations"     => Csv.readLocations(spark, out)
      case "trips"         => Csv.readTrips(spark, out)
      case "tours"         => Csv.readTours(spark, out)
    }
    section(s"csv $name: written", partFiles(out)) + read(back, s"csv $name")
  }

  private def geojson(name: String, df: DataFrame, dir: Path): String = {
    val out = dir.resolve(s"geojson_$name").toString
    table(name) match {
      case "positionfixes" => GeoJson.writePositionfixes(df, out)
      case "staypoints"    => GeoJson.writeStaypoints(df, out)
      case "triplegs"      => GeoJson.writeTriplegs(df, out)
      case "locations"     => GeoJson.writeLocations(df, out)
      case "trips"         => GeoJson.writeTrips(df, out)
      case "tours"         => GeoJson.writeTours(df, out)
    }
    val back = table(name) match {
      case "positionfixes" => GeoJson.readPositionfixes(spark, out)
      case "staypoints"    => GeoJson.readStaypoints(spark, out)
      case "triplegs"      => GeoJson.readTriplegs(spark, out)
      case "locations"     => GeoJson.readLocations(spark, out)
      case "trips"         => GeoJson.readTrips(spark, out)
      case "tours"         => GeoJson.readTours(spark, out)
    }
    section(s"ndgeojson $name: written", partFiles(out)) + read(back, s"ndgeojson $name")
  }

  private def derby(name: String, df: DataFrame, format: String): String = {
    val t = s"pin_${name}_$format"
    val mode = SaveMode.Overwrite
    table(name) match {
      case "positionfixes" => Postgis.writePositionfixes(df, conn, t, mode, format)
      case "staypoints"    => Postgis.writeStaypoints(df, conn, t, mode, format)
      case "triplegs"      => Postgis.writeTriplegs(df, conn, t, mode, format)
      case "locations"     => Postgis.writeLocations(df, conn, t, mode, format)
      case "trips"         => Postgis.writeTrips(df, conn, t, mode, format)
      case "tours"         => Postgis.writeTours(df, conn, t, mode)
    }
    val raw = spark.read.format("jdbc")
      .option("url", conn.url).option("dbtable", t)
      .option("user", conn.user).option("password", conn.password)
      .option("driver", conn.driver).load()
    val stored = raw.select(raw.columns.map(c => col(c).cast("string").as(c)): _*)
    val back = table(name) match {
      case "positionfixes" => Postgis.readPositionfixes(spark, conn, t)
      case "staypoints"    => Postgis.readStaypoints(spark, conn, t)
      case "triplegs"      => Postgis.readTriplegs(spark, conn, t)
      case "locations"     => Postgis.readLocations(spark, conn, t)
      case "trips"         => Postgis.readTrips(spark, conn, t)
      case "tours"         => Postgis.readTours(spark, conn, t)
    }
    section(s"derby $format $name: stored schema", schema(raw)) +
      section(s"derby $format $name: stored rows", rows(stored)) +
      read(back, s"derby $format $name")
  }

  test("every text reader and writer reproduces the pinned bytes and schemas") {
    val dir = Files.createTempDirectory("graft_io_pin")
    val tables = fixture()
    val actual =
      tables.map { case (n, df) => csv(n, df, dir) }.mkString +
        // the GeoJSON trips writer needs the o/d geometry
        tables.filterNot(_._1 == "trips_bare").map { case (n, df) => geojson(n, df, dir) }.mkString +
        tables.map { case (n, df) => derby(n, df, "wkt") }.mkString +
        tables.filterNot(_._1 == "tours").map { case (n, df) => derby(n, df, "ewkb") }.mkString
    val expected = Files.readString(Paths.get(getClass.getResource("/io_pin.txt").toURI))
    if (actual != expected) {
      Files.writeString(Paths.get("target", "io_pin.actual.txt"), actual)
      val (a, e) = (actual.split("\n", -1), expected.split("\n", -1))
      val i = a.indices.find(i => i >= e.length || a(i) != e(i)).getOrElse(a.length)
      fail(s"io pin differs at line ${i + 1}:\n  expected: ${e.lift(i).getOrElse("<end>")}\n" +
        s"  actual:   ${a.lift(i).getOrElse("<end>")}\n(full text in target/io_pin.actual.txt)")
    }
  }
}
