package graft.model

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** Schema contracts for the six domain tables of the movement-data model
  * (reference: the trackintel model package — each table class validates
  * required columns and a geometry type at construction; see SURVEY.md §1).
  *
  * Spark mapping: geometry Points are (lon, lat) double columns,
  * LineStrings are `array<struct<lon,lat>>`, timestamps are UTC
  * `TimestampType`, foreign keys nullable longs. Validation is eager at
  * operator entry — the analogue of the reference's constructor checks
  * (trackintel/model/positionfixes.py:41-47) — and fails fast at plan
  * time, before any job runs.
  */
final case class TableContract(name: String, required: Map[String, DataType]) {

  /** Throw if `df` is missing required columns or has mismatched types. */
  def validate(df: DataFrame): DataFrame = {
    val fields = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val missing = required.keys.filterNot(fields.contains)
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"$name is missing required column(s): ${missing.mkString(", ")}; has [${df.columns.mkString(", ")}]")
    val badTypes = required.collect {
      case (col, dt) if !compatible(fields(col), dt) => s"$col: expected $dt, got ${fields(col)}"
    }
    if (badTypes.nonEmpty)
      throw new IllegalArgumentException(s"$name has mismatched column type(s): ${badTypes.mkString("; ")}")
    df
  }

  // nullability never disqualifies: normalize everything to nullable
  private def norm(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f => f.copy(dataType = norm(f.dataType), nullable = true)))
    case a: ArrayType  => ArrayType(norm(a.elementType), containsNull = true)
    case m: MapType    => MapType(norm(m.keyType), norm(m.valueType), valueContainsNull = true)
    case other         => other
  }

  private def compatible(actual: DataType, expected: DataType): Boolean =
    (norm(actual), norm(expected)) match {
      case (a, e) if a == e              => true
      case (_: IntegerType, _: LongType) => true // narrower int FKs are fine
      case (_: FloatType, _: DoubleType) => true
      case (a: ArrayType, e: ArrayType)  => compatible(a.elementType, e.elementType)
      case _                             => false
    }
}

object Tables {
  val point: StructType =
    StructType(Seq(StructField("lon", DoubleType), StructField("lat", DoubleType)))

  /** positionfixes: reference trackintel/model/positionfixes.py:13 */
  val positionfixes = TableContract("positionfixes", Map(
    "user_id" -> LongType, "tracked_at" -> TimestampType,
    "lon" -> DoubleType, "lat" -> DoubleType))

  /** staypoints: reference trackintel/model/staypoints.py:12 */
  val staypoints = TableContract("staypoints", Map(
    "user_id" -> LongType, "started_at" -> TimestampType,
    "finished_at" -> TimestampType, "lon" -> DoubleType, "lat" -> DoubleType))

  /** triplegs: reference trackintel/model/triplegs.py:12 (LineString geom) */
  val triplegs = TableContract("triplegs", Map(
    "user_id" -> LongType, "started_at" -> TimestampType,
    "finished_at" -> TimestampType, "points" -> ArrayType(point)))

  /** locations: reference trackintel/model/locations.py:10 */
  val locations = TableContract("locations", Map(
    "user_id" -> LongType, "center_lon" -> DoubleType, "center_lat" -> DoubleType))

  /** trips: reference trackintel/model/trips.py:60 */
  val trips = TableContract("trips", Map(
    "user_id" -> LongType, "started_at" -> TimestampType, "finished_at" -> TimestampType,
    "origin_staypoint_id" -> LongType, "destination_staypoint_id" -> LongType))

  /** tours: reference trackintel/model/tours.py:12 */
  val tours = TableContract("tours", Map(
    "user_id" -> LongType, "started_at" -> TimestampType, "finished_at" -> TimestampType))
}

/** The four geometry kinds the domain tables hold, each over its own
  * frame `columns` (in schema order).
  */
sealed abstract class Geometry(val columns: String*)

object Geometry {

  /** A point over two double columns. */
  final case class Point(lon: String, lat: String) extends Geometry(lon, lat)

  /** A line over one `array<struct<lon,lat>>` column. */
  final case class Line(column: String) extends Geometry(column)

  /** A polygon's outer ring over one `array<struct<lon,lat>>` column. */
  final case class Ring(column: String) extends Geometry(column)

  /** An origin–destination pair over one `struct<origin, destination>`
    * column of two points (trips: `geom.origin`, `geom.destination`).
    */
  final case class OriginDestination(column: String) extends Geometry(column)
}

/** A table's geometry and the column its text form is stored in: the
  * WKT or hex-EWKB column of a CSV or JDBC table, or the GeoJSON
  * property that carries a second geometry. An optional geometry may be
  * missing from a frame or a file.
  */
final case class StoredGeometry(column: String, geometry: Geometry, optional: Boolean = false) {

  /** Whether `df` holds the geometry in its frame columns: always for a
    * required one (a missing column then fails analysis), and for an
    * optional one when every column is there and not already text.
    */
  def heldBy(df: DataFrame): Boolean = !optional || geometry.columns.forall(c =>
    df.columns.contains(c) && df.schema(c).dataType != StringType)

  /** Whether a read frame `df` carries the stored column to decode. */
  def storedIn(df: DataFrame): Boolean = !optional || df.columns.contains(column)
}

/** How a domain table is laid out in the text formats (CSV, GeoJSON,
  * JDBC/PostGIS — `graft.sources`), stated once for all three.
  *
  * @param contract the table's schema contract, checked on every read
  * @param columns  the non-geometry columns in file order with their
  *                 frame types: long ids, UTC timestamps and, for tours,
  *                 the `array<long>` trips list
  * @param geometry the table's geometry (a GeoJSON Feature's geometry);
  *                 tours have none
  * @param second   locations' extent ring, stored beside the center
  */
final case class Layout(contract: TableContract, columns: Seq[(String, DataType)],
                        geometry: Option[StoredGeometry] = None,
                        second: Option[StoredGeometry] = None) {
  def geometries: Seq[StoredGeometry] = geometry.toSeq ++ second

  /** The list columns (tours' trips), each with its `array<long>` type. */
  def lists: Seq[(String, DataType)] = columns.filter(_._2.isInstanceOf[ArrayType])
}

object Layouts {
  import Geometry._

  private val ids = Seq("id" -> LongType, "user_id" -> LongType)
  private val span = Seq("started_at" -> TimestampType, "finished_at" -> TimestampType)
  private val point = Some(StoredGeometry("geom", Point("lon", "lat")))

  val positionfixes = Layout(Tables.positionfixes, ids :+ ("tracked_at" -> TimestampType), point)

  val staypoints = Layout(Tables.staypoints, ids ++ span, point)

  val triplegs = Layout(Tables.triplegs, ids ++ span, Some(StoredGeometry("geom", Line("points"))))

  val locations = Layout(Tables.locations, ids,
    Some(StoredGeometry("center", Point("center_lon", "center_lat"))),
    Some(StoredGeometry("extent", Ring("extent_hull"), optional = true)))

  /** o/d staypoint ids are nullable: gap-adjacent trips have no staypoint */
  val trips = Layout(Tables.trips,
    ids ++ span ++ Seq("origin_staypoint_id" -> LongType, "destination_staypoint_id" -> LongType),
    Some(StoredGeometry("geom", OriginDestination("geom"), optional = true)))

  val tours = Layout(Tables.tours, ids ++ span :+ ("trips" -> ArrayType(LongType)))
}
