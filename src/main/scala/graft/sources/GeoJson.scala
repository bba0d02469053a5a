package graft.sources

import graft.model.{Geometry, Layout, Layouts}
import graft.model.Geometry._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** GeoJSON (RFC 7946) readers/writers for the domain tables — the file
  * format behind the reference's `read_*_gpd` path when frames come from
  * .geojson files (geopandas.read_file; trackintel/io/from_geopandas.py
  * accepts whatever GeoDataFrame that yields).
  *
  * Two layouts:
  *  - **newline-delimited GeoJSON** (one Feature per line, a.k.a.
  *    ndgeojson) — the scale path: Spark's JSON source splits it like any
  *    text file, so reads parallelize per block and writes stream from
  *    executors. This is what [[writePositionfixes]] et al. produce.
  *  - **FeatureCollection** (one JSON object spanning the whole file) —
  *    read via `multiLine` + an `inline(features)` explode. Convenience
  *    for small hand-authored files; a 100 TB corpus should be ndgeojson
  *    or parquet.
  *
  * Geometry parsing/formatting is schema-driven (`from_json`/`to_json`
  * with exact coordinate arity per geometry type) — scan-stage column
  * expressions, no UDF.
  */
object GeoJson {

  // ---------------- schemas ----------------

  private def geometrySchema(coordinates: DataType) = StructType(Seq(
    StructField("type", StringType), StructField("coordinates", coordinates)))

  private val pointCoords = ArrayType(DoubleType)
  private val lineCoords = ArrayType(ArrayType(DoubleType))

  private def featureSchema(coordinates: DataType, properties: StructType) = StructType(Seq(
    StructField("type", StringType),
    StructField("geometry", geometrySchema(coordinates)),
    StructField("properties", properties)))

  private def collectionSchema(coordinates: DataType, properties: StructType) = StructType(Seq(
    StructField("type", StringType),
    StructField("features", ArrayType(featureSchema(coordinates, properties)))))

  // ---------------- coordinates codec ----------------

  // RFC 7946 type and coordinates schema of a Feature's geometry; a ring
  // only travels as the extent property, a bare position list
  private def kind(g: Geometry): (String, DataType) = g match {
    case _: Point             => ("Point", pointCoords)
    case _: OriginDestination => ("MultiPoint", lineCoords)
    case _                    => ("LineString", lineCoords)
  }

  private def position(p: Column): Column = array(p.getField("lon"), p.getField("lat"))

  private def lonLat(c: Column): Column = struct(element_at(c, 1).as("lon"), element_at(c, 2).as("lat"))

  /** A geometry's coordinates from its frame columns; a ring is its bare
    * position list (the extent property).
    */
  private def format(g: Geometry): Column = g match {
    case Point(lon, lat)      => array(col(lon), col(lat))
    case Line(c)              => transform(col(c), position(_))
    case Ring(c)              => transform(col(c), position(_))
    case OriginDestination(c) =>
      array(position(col(c).getField("origin")), position(col(c).getField("destination")))
  }

  private def parse(g: Geometry, coords: Column): Seq[Column] = g match {
    case Point(lon, lat) => Seq(element_at(coords, 1).as(lon), element_at(coords, 2).as(lat))
    case Line(c)         => Seq(transform(coords, lonLat(_)).as(c))
    case Ring(c)         => Seq(transform(coords, lonLat(_)).as(c))
    case OriginDestination(c) =>
      Seq(struct(lonLat(element_at(coords, 1)).as("origin"),
        lonLat(element_at(coords, 2)).as("destination")).as(c))
  }

  // ---------------- generic feature readers ----------------

  /** Features of one geometry arity from ndgeojson (default) or a
    * FeatureCollection (`multiLine = true`), as (geometry, properties).
    */
  private def readFeatures(spark: SparkSession, path: String, coordinates: DataType,
                           properties: StructType, multiLine: Boolean): DataFrame =
    if (multiLine)
      spark.read.option("multiLine", "true")
        .schema(collectionSchema(coordinates, properties)).json(path)
        .select(inline(col("features")))
        .select(col("geometry"), col("properties"))
    else
      spark.read.schema(featureSchema(coordinates, properties)).json(path)
        .select(col("geometry"), col("properties"))

  private def prop(name: String): Column = col("properties").getField(name)

  // ---------------- one reader and one writer over a layout ----------------

  // properties: the plain columns (timestamps as ISO text), then the
  // second geometry; the frame: the plain columns, the geometry, the second
  private def read(layout: Layout, spark: SparkSession, path: String,
                   multiLine: Boolean): DataFrame = {
    val geom = layout.geometry.map(_.geometry)
    val properties = StructType(
      layout.columns.map { case (c, dt) => StructField(c, if (dt == TimestampType) StringType else dt) } ++
        layout.second.map(g => StructField(g.column, kind(g.geometry)._2)))
    val f = readFeatures(spark, path, geom.fold(pointCoords: DataType)(kind(_)._2), properties, multiLine)
    layout.contract.validate(f.select(
      layout.columns.map {
        case (c, TimestampType) => to_timestamp(prop(c)).as(c)
        case (c, _)             => prop(c).as(c)
      } ++ geom.toSeq.flatMap(parse(_, col("geometry.coordinates"))) ++
        layout.second.toSeq.flatMap(g => parse(g.geometry, prop(g.column))): _*))
  }

  private def write(layout: Layout, df: DataFrame, path: String): Unit = {
    val geom = layout.geometry.filter(_.heldBy(df))
      .fold(lit(null).cast(geometrySchema(pointCoords))) { g =>
        struct(lit(kind(g.geometry)._1).as("type"), format(g.geometry).as("coordinates"))
      }
    val second = layout.second.map(g =>
      (if (g.heldBy(df)) format(g.geometry) else lit(null).cast(kind(g.geometry)._2)).as(g.column))
    val properties = layout.columns.map {
      case (c, TimestampType) => date_format(col(c), TextForm.timestamp).as(c)
      case (c, _)             => col(c)
    } ++ second
    df.select(to_json(struct(
        lit("Feature").as("type"), geom.as("geometry"), struct(properties: _*).as("properties")))
        .as("value"))
      .write.mode("overwrite").text(path)
  }

  // ---------------- per-table readers ----------------

  def readPositionfixes(spark: SparkSession, path: String, multiLine: Boolean = false): DataFrame =
    read(Layouts.positionfixes, spark, path, multiLine)

  def readStaypoints(spark: SparkSession, path: String, multiLine: Boolean = false): DataFrame =
    read(Layouts.staypoints, spark, path, multiLine)

  def readTriplegs(spark: SparkSession, path: String, multiLine: Boolean = false): DataFrame =
    read(Layouts.triplegs, spark, path, multiLine)

  /** Locations: the center is the Feature's geometry (a Feature has one);
    * the extent ring travels in properties, mirroring the reference's
    * one-geometry file IO with extent as an auxiliary column.
    */
  def readLocations(spark: SparkSession, path: String, multiLine: Boolean = false): DataFrame =
    read(Layouts.locations, spark, path, multiLine)

  /** Trips: MULTIPOINT (origin, destination) geometry; o/d staypoint ids
    * in properties (nullable — gap-adjacent trips have no staypoint).
    */
  def readTrips(spark: SparkSession, path: String, multiLine: Boolean = false): DataFrame =
    read(Layouts.trips, spark, path, multiLine)

  /** Tours carry no geometry (RFC 7946 allows a null-geometry Feature);
    * the trips list rides in properties.
    */
  def readTours(spark: SparkSession, path: String, multiLine: Boolean = false): DataFrame =
    read(Layouts.tours, spark, path, multiLine)

  // ---------------- per-table writers (ndgeojson) ----------------

  def writePositionfixes(pfs: DataFrame, path: String): Unit = write(Layouts.positionfixes, pfs, path)

  def writeStaypoints(sp: DataFrame, path: String): Unit = write(Layouts.staypoints, sp, path)

  def writeTriplegs(tpls: DataFrame, path: String): Unit = write(Layouts.triplegs, tpls, path)

  def writeLocations(locs: DataFrame, path: String): Unit = write(Layouts.locations, locs, path)

  def writeTrips(trips: DataFrame, path: String): Unit = write(Layouts.trips, trips, path)

  def writeTours(tours: DataFrame, path: String): Unit = write(Layouts.tours, tours, path)
}
