package graft.sources

import graft.model.{Layout, Layouts, StoredGeometry}
import graft.sources.GeometryText.wkt
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** CSV readers/writers for the six domain tables, matching the reference
  * conventions (trackintel/io/file.py): lon/lat columns for positionfixes,
  * WKT geometry columns for the other tables (`GeometryText.wkt`), ISO timestamps
  * (UTC, to the microsecond like GeoJSON), tours' trips list as "[1, 2]", and a `columns` rename map
  * applied before anything else (so it also renames a geometry column).
  * Each table's columns and geometry come from its [[graft.model.Layout]].
  *
  * Timestamp localization contract: a NAIVE timestamp string (no offset,
  * e.g. "2023-01-01 08:00:00") is localized to UTC — the session timezone
  * is pinned to UTC ([[graft.GraftSession]]), so `to_timestamp` assigns
  * naive stamps the UTC instant, exactly the reference's `tz_localize
  * ("utc")` on naive input (io/from_geopandas.py:410-446; the reference
  * warns, the engine makes it the documented convention). Offset-carrying
  * strings ("...+02:00") convert to their UTC instant. Pinned by
  * IoSpec's "naive timestamps localize to UTC" test.
  */
object Csv {

  /** "POINT (lon lat)" → (lon, lat) doubles, null on other text. */
  def parsePointWkt(text: Column): (Column, Column) = wkt.parsePoint(text)

  /** "LINESTRING (x1 y1, …)" → `array<struct<lon,lat>>`, null on other text. */
  def parseLinestringWkt(text: Column): Column = wkt.parseLine(text)

  // positionfixes keep their point as plain longitude/latitude columns
  // (io/file.py:19-85); every other geometry is WKT in its stored column
  private object LonLat extends TextForm {
    private val names = Seq("longitude", "latitude")
    def stored(g: StoredGeometry): Seq[String] = names
    def write(g: StoredGeometry): Seq[(String, Column)] = names.zip(g.geometry.columns.map(col))
    def read(g: StoredGeometry): Seq[(String, Column)] =
      g.geometry.columns.zip(names.map(c => col(c).cast(DoubleType)))
  }

  private def read(layout: Layout, spark: SparkSession, path: String, sep: String,
                   columns: Map[String, String], form: TextForm = wkt): DataFrame = {
    val raw = spark.read.option("header", "true").option("sep", sep)
      .option("inferSchema", "false").csv(path)
    val df = columns.foldLeft(raw) { case (d, (from, to)) => d.withColumnRenamed(from, to) }
    val typed = layout.columns.foldLeft(df) {
      case (d, (c, LongType))      => d.withColumn(c, col(c).cast(LongType))
      case (d, (c, TimestampType)) => d.withColumn(c, to_timestamp(col(c)))
      case (d, (c, list))          => d.withColumn(c, from_json(col(c), list))
    }
    layout.contract.validate(TextForm.decode(typed, layout, form))
  }

  private def write(layout: Layout, df: DataFrame, path: String, sep: String,
                    form: TextForm = wkt): Unit =
    layout.lists.foldLeft(TextForm.encode(df, layout, form)) { case (d, (c, _)) =>
        d.withColumn(c, concat(lit("["), concat_ws(", ", col(c)), lit("]")))
      }
      .write.option("header", "true").option("sep", sep)
      .option("timestampFormat", TextForm.timestamp).mode("overwrite").csv(path)

  /** CSV with longitude/latitude columns → positionfixes (io/file.py:19-85). */
  def readPositionfixes(spark: SparkSession, path: String, sep: String = ",",
                        columns: Map[String, String] = Map.empty): DataFrame =
    read(Layouts.positionfixes, spark, path, sep, columns, LonLat)

  def writePositionfixes(pfs: DataFrame, path: String, sep: String = ","): Unit =
    write(Layouts.positionfixes, pfs, path, sep, LonLat)

  /** CSV with a WKT POINT `geom` column → staypoints (io/file.py:195-249). */
  def readStaypoints(spark: SparkSession, path: String, sep: String = ",",
                     columns: Map[String, String] = Map.empty): DataFrame =
    read(Layouts.staypoints, spark, path, sep, columns)

  def writeStaypoints(sp: DataFrame, path: String, sep: String = ","): Unit =
    write(Layouts.staypoints, sp, path, sep)

  /** CSV with a WKT LINESTRING `geom` column → triplegs (io/file.py:127-181). */
  def readTriplegs(spark: SparkSession, path: String, sep: String = ",",
                   columns: Map[String, String] = Map.empty): DataFrame =
    read(Layouts.triplegs, spark, path, sep, columns)

  def writeTriplegs(tpls: DataFrame, path: String, sep: String = ","): Unit =
    write(Layouts.triplegs, tpls, path, sep)

  /** CSV with WKT center (+ optional extent POLYGON) → locations (io/file.py:263-312). */
  def readLocations(spark: SparkSession, path: String, sep: String = ",",
                    columns: Map[String, String] = Map.empty): DataFrame =
    read(Layouts.locations, spark, path, sep, columns)

  def writeLocations(locs: DataFrame, path: String, sep: String = ","): Unit =
    write(Layouts.locations, locs, path, sep)

  /** trips CSV with optional MULTIPOINT geometry (io/file.py:326-395). */
  def readTrips(spark: SparkSession, path: String, sep: String = ",",
                columns: Map[String, String] = Map.empty): DataFrame =
    read(Layouts.trips, spark, path, sep, columns)

  def writeTrips(trips: DataFrame, path: String, sep: String = ","): Unit =
    write(Layouts.trips, trips, path, sep)

  /** tours CSV; `trips` list column serialized as "[1, 2, 3]"
    * (io/file.py:407-451, ast.literal_eval parsing).
    */
  def readTours(spark: SparkSession, path: String, sep: String = ";",
                columns: Map[String, String] = Map.empty): DataFrame =
    read(Layouts.tours, spark, path, sep, columns)

  def writeTours(tours: DataFrame, path: String, sep: String = ";"): Unit =
    write(Layouts.tours, tours, path, sep)
}
