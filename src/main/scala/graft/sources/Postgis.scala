package graft.sources

import graft.model.{Layout, Layouts}
import graft.sources.GeometryText.{ewkb, wkt}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** JDBC/PostGIS-style readers and writers for the domain tables
  * (reference: trackintel/io/postgis.py — SQLAlchemy/GeoAlchemy2 there,
  * `spark.read.format("jdbc")` here).
  *
  * Geometry travels as text columns in either of the two forms a
  * PostGIS deployment produces, detected PER ROW on read:
  *  - **hex-WKB/EWKB** — what a real `geometry`-typed column yields
  *    through JDBC (PostGIS's text representation of geometry is hex
  *    EWKB; reference io/postgis.py:459-469 writes hex WKB itself).
  *    Parsed/formatted by the [[graft.functions.Wkb]] codegen
  *    expressions; no DB-side `ST_AsText` view needed.
  *  - **WKT** — the fallback for text-typed schemas (the same WKT
  *    codec [[Csv]] writes).
  * Readers coalesce WKB-parse-then-WKT-parse (each returns null on the
  * other's format); writers default to WKT and emit EWKB (srid 4326)
  * with `geomFormat = "ewkb"` for geometry-typed target tables. The
  * tours list column round-trips as JSON like the reference
  * (io/postgis.py:722-723). Each table's columns and geometry come from
  * its [[graft.model.Layout]].
  *
  * No PostGIS server exists in this environment; the JDBC plumbing and
  * every WKB/WKT/JSON codec round-trips against an embedded Derby
  * database in PostgisSpec (the driver Spark ships), with hex-EWKB byte
  * fixtures checked bit-exactly. A live-PostGIS run only swaps the
  * URL/driver in [[Conn]].
  */
object Postgis {

  final case class Conn(url: String, user: String, password: String,
                        driver: String = "org.postgresql.Driver")

  private def options(conn: Conn, table: String) = Map("url" -> conn.url, "dbtable" -> table,
    "user" -> conn.user, "password" -> conn.password, "driver" -> conn.driver)

  private def read(layout: Layout, spark: SparkSession, conn: Conn, table: String): DataFrame = {
    val df = spark.read.format("jdbc").options(options(conn, table)).load()
    val listed = layout.lists.foldLeft(df) { case (d, (c, list)) => d.withColumn(c, from_json(col(c), list)) }
    layout.contract.validate(TextForm.decode(listed, layout, ewkb.orElse(wkt)))
  }

  private def write(layout: Layout, df: DataFrame, conn: Conn, table: String, mode: SaveMode,
                    geomFormat: String): Unit = {
    require(geomFormat == "wkt" || geomFormat == "ewkb",
      s"geomFormat must be 'wkt' or 'ewkb', got '$geomFormat'")
    val encoded = TextForm.encode(df, layout, if (geomFormat == "ewkb") ewkb else wkt)
    layout.lists.foldLeft(encoded) { case (d, (c, _)) => d.withColumn(c, to_json(col(c))) }
      .write.format("jdbc").options(options(conn, table)).mode(mode).save()
  }

  def readPositionfixes(spark: SparkSession, conn: Conn, table: String = "positionfixes"): DataFrame =
    read(Layouts.positionfixes, spark, conn, table)

  def writePositionfixes(pfs: DataFrame, conn: Conn, table: String = "positionfixes",
                         mode: SaveMode = SaveMode.Append, geomFormat: String = "wkt"): Unit =
    write(Layouts.positionfixes, pfs, conn, table, mode, geomFormat)

  def readStaypoints(spark: SparkSession, conn: Conn, table: String = "staypoints"): DataFrame =
    read(Layouts.staypoints, spark, conn, table)

  def writeStaypoints(sp: DataFrame, conn: Conn, table: String = "staypoints",
                      mode: SaveMode = SaveMode.Append, geomFormat: String = "wkt"): Unit =
    write(Layouts.staypoints, sp, conn, table, mode, geomFormat)

  def readTriplegs(spark: SparkSession, conn: Conn, table: String = "triplegs"): DataFrame =
    read(Layouts.triplegs, spark, conn, table)

  def writeTriplegs(tpls: DataFrame, conn: Conn, table: String = "triplegs",
                    mode: SaveMode = SaveMode.Append, geomFormat: String = "wkt"): Unit =
    write(Layouts.triplegs, tpls, conn, table, mode, geomFormat)

  /** locations: two geometry columns (center point + extent polygon),
    * like the reference's manual second-geometry handling — which writes
    * exactly this hex WKB for the extent (io/postgis.py:459-469).
    */
  def writeLocations(locs: DataFrame, conn: Conn, table: String = "locations",
                     mode: SaveMode = SaveMode.Append, geomFormat: String = "wkt"): Unit =
    write(Layouts.locations, locs, conn, table, mode, geomFormat)

  def readLocations(spark: SparkSession, conn: Conn, table: String = "locations"): DataFrame =
    read(Layouts.locations, spark, conn, table)

  def writeTrips(trips: DataFrame, conn: Conn, table: String = "trips",
                 mode: SaveMode = SaveMode.Append, geomFormat: String = "wkt"): Unit =
    write(Layouts.trips, trips, conn, table, mode, geomFormat)

  def readTrips(spark: SparkSession, conn: Conn, table: String = "trips"): DataFrame =
    read(Layouts.trips, spark, conn, table)

  /** tours: `trips` list serialized as JSON (io/postgis.py:722-723). */
  def writeTours(tours: DataFrame, conn: Conn, table: String = "tours",
                 mode: SaveMode = SaveMode.Append): Unit =
    write(Layouts.tours, tours, conn, table, mode, "wkt")

  def readTours(spark: SparkSession, conn: Conn, table: String = "tours"): DataFrame =
    read(Layouts.tours, spark, conn, table)
}
