package graft.sources

import graft.functions.Wkb
import graft.model.{Geometry, Layout, StoredGeometry}
import graft.model.Geometry._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** How a table's geometry sits in the columns of a text table (CSV,
  * JDBC): the disk columns that hold it, written from its frame columns
  * and read back into them.
  */
private[sources] trait TextForm {
  def stored(g: StoredGeometry): Seq[String]
  def write(g: StoredGeometry): Seq[(String, Column)]
  def read(g: StoredGeometry): Seq[(String, Column)]
}

private[sources] object TextForm {

  /** ISO-8601 UTC text of a timestamp, to the microsecond: the full
    * precision of `TimestampType`.
    */
  val timestamp = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"

  /** `df` with each geometry of `layout` it holds replaced by its disk columns. */
  def encode(df: DataFrame, layout: Layout, form: TextForm): DataFrame =
    layout.geometries.filter(_.heldBy(df))
      .foldLeft(df)((d, g) => swap(d, form.write(g), g.geometry.columns))

  /** `df` as read, with each stored geometry of `layout` decoded into its frame columns. */
  def decode(df: DataFrame, layout: Layout, form: TextForm): DataFrame =
    layout.geometries.filter(_.storedIn(df))
      .foldLeft(df)((d, g) => swap(d, form.read(g), form.stored(g)))

  // new columns are appended (or replace a same-named one in place), then
  // the old ones go
  private def swap(df: DataFrame, added: Seq[(String, Column)], old: Seq[String]): DataFrame =
    added.foldLeft(df) { case (d, (c, v)) => d.withColumn(c, v) }
      .drop(old.filterNot(added.map(_._1).contains): _*)
}

/** A text form of the four geometry kinds, one string column per
  * geometry: each kind's formatter from its frame columns, and its
  * parser back (null on text the form does not recognize; a multipoint
  * parses to its `array<struct<lon,lat>>` points).
  */
private[sources] final case class GeometryText(
    point: (Column, Column) => Column, line: Column => Column, ring: Column => Column,
    multipoint: (Column, Column) => Column, parsePoint: Column => (Column, Column),
    parseLine: Column => Column, parseRing: Column => Column, parseMultipoint: Column => Column)
    extends TextForm {

  private def format(g: Geometry): Column = g match {
    case Point(lon, lat)      => point(col(lon), col(lat))
    case Line(c)              => line(col(c))
    case Ring(c)              => ring(col(c))
    case OriginDestination(c) => multipoint(col(c).getField("origin"), col(c).getField("destination"))
  }

  private def parse(g: Geometry, text: Column): Seq[(String, Column)] = g match {
    case Point(lon, lat) =>
      val (x, y) = parsePoint(text)
      Seq(lon -> x, lat -> y)
    case Line(c) => Seq(c -> parseLine(text))
    case Ring(c) => Seq(c -> parseRing(text))
    case OriginDestination(c) =>
      val pts = parseMultipoint(text)
      Seq(c -> struct(element_at(pts, 1).as("origin"), element_at(pts, 2).as("destination")))
  }

  def stored(g: StoredGeometry): Seq[String] = Seq(g.column)
  def write(g: StoredGeometry): Seq[(String, Column)] = Seq(g.column -> format(g.geometry))
  def read(g: StoredGeometry): Seq[(String, Column)] = parse(g.geometry, col(g.column))

  /** This form, parsing each row as this form or else, where that gives
    * null, as `other`.
    */
  def orElse(other: GeometryText): GeometryText = copy(
    parsePoint = text => {
      val ((a, b), (c, d)) = (parsePoint(text), other.parsePoint(text))
      (coalesce(a, c), coalesce(b, d))
    },
    parseLine = text => coalesce(parseLine(text), other.parseLine(text)),
    parseRing = text => coalesce(parseRing(text), other.parseRing(text)),
    parseMultipoint = text => coalesce(parseMultipoint(text), other.parseMultipoint(text)))
}

private[sources] object GeometryText {

  private def pair(lon: Column, lat: Column): Column =
    concat(lon.cast("string"), lit(" "), lat.cast("string"))

  private def pairs(points: Column): Column =
    concat_ws(", ", transform(points, p => pair(p.getField("lon"), p.getField("lat"))))

  // nullif guards empty/missing WKT: regexp_extract returns "" on a
  // non-match, and ANSI mode rejects casting "" to double
  private def body(wkt: Column, pattern: String): Column =
    nullif(regexp_extract(wkt, pattern, 1), lit(""))

  private def parsePairs(body: Column): Column =
    transform(split(body, ",\\s*"), s => {
      val nums = split(trim(s), "\\s+")
      struct(element_at(nums, 1).cast("double").as("lon"), element_at(nums, 2).cast("double").as("lat"))
    })

  /** WKT, shapely-style: "POINT (lon lat)", "LINESTRING (x1 y1, …)",
    * "POLYGON ((x1 y1, …))" (outer ring), "MULTIPOINT (x1 y1, x2 y2)".
    * Pure Catalyst string expressions (concat/transform to format,
    * regexp/split/transform to parse): they run inside the scan or
    * projection stage with no UDF boundary.
    */
  val wkt: GeometryText = GeometryText(
    point = (lon, lat) => concat(lit("POINT ("), pair(lon, lat), lit(")")),
    line = points => concat(lit("LINESTRING ("), pairs(points), lit(")")),
    ring = points => concat(lit("POLYGON (("), pairs(points), lit("))")),
    multipoint = (o, d) => concat(lit("MULTIPOINT ("), pair(o.getField("lon"), o.getField("lat")),
      lit(", "), pair(d.getField("lon"), d.getField("lat")), lit(")")),
    parsePoint = text => {
      val nums = split(body(text, "POINT\\s*\\(([^)]*)\\)"), "\\s+")
      (element_at(nums, 1).cast("double"), element_at(nums, 2).cast("double"))
    },
    parseLine = text => parsePairs(body(text, "LINESTRING\\s*\\(([^)]*)\\)")),
    parseRing = text => parsePairs(body(text, "POLYGON\\s*\\(\\(([^)]*)\\)\\)")),
    parseMultipoint = text => parsePairs(regexp_replace(body(text, "MULTIPOINT\\s*\\((.*)\\)"), "[()]", "")))

  /** Hex-EWKB (SRID 4326) through the [[graft.functions.Wkb]] codegen expressions. */
  val ewkb: GeometryText = GeometryText(
    Wkb.formatPoint(_, _), Wkb.formatLine(_), Wkb.formatPolygon(_),
    (o, d) => Wkb.formatMultipoint(array(o, d)),
    Wkb.parsePoint, Wkb.parseLine, Wkb.parsePolygon, Wkb.parseMultipoint)
}
