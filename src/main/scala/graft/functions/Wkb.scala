package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Hex-WKB / EWKB geometry codecs (OGC 06-103r4 §8 binary layout plus
  * PostGIS's EWKB SRID extension — both public specs). A real trackintel
  * database stores `geometry`-typed columns (reference io/postgis.py:
  * 459-469 writes hex WKB for the locations extent); read through Spark
  * JDBC those arrive as hex text that the WKT codecs cannot parse. These
  * expressions parse/format that representation directly, so no DB-side
  * `ST_AsText` view is required. The WKT path stays as the fallback
  * (`graft.sources.GeometryText.wkt`, the codec the CSV files use;
  * [[graft.sources.Postgis]] coalesces the two on read through
  * `GeometryText.ewkb`, which wraps these expressions).
  *
  * Codec scope = exactly the geometry the engine stores: 2D Point,
  * LineString, Polygon (outer ring), MultiPoint. The parser accepts both
  * byte orders, the EWKB SRID flag, EWKB Z/M flags and ISO type offsets
  * (extra ordinates are skipped); malformed input yields null, like the
  * WKT parsers. The formatter emits little-endian uppercase hex with the
  * EWKB SRID word (srid = 0 omits it — plain ISO WKB, shapely's
  * `wkb_hex` form). Scan-stage expressions with codegen; one static
  * kernel call per value, no UDF registry involvement.
  */
object Wkb {

  private[functions] val lonLatStruct = StructType(Seq(
    StructField("lon", DoubleType), StructField("lat", DoubleType)))

  // geometry kind codes shared by expressions and kernels
  val POINT = 1
  val LINESTRING = 2
  val POLYGON = 3
  val MULTIPOINT = 4

  // ---------------- column API ----------------

  import org.apache.spark.sql.graftshim.ColumnShim
  private def c(e: Expression): Column = ColumnShim.column(e)
  private def e(col: Column): Expression = ColumnShim.expression(col)

  /** (lon, lat) of a hex-WKB point. */
  def parsePoint(g: Column): (Column, Column) = {
    val arr = c(WkbParseGeom(e(g), POINT))
    (org.apache.spark.sql.functions.element_at(arr, 1),
      org.apache.spark.sql.functions.element_at(arr, 2))
  }

  /** array<struct<lon,lat>> of a hex-WKB linestring. */
  def parseLine(g: Column): Column = c(WkbParseGeom(e(g), LINESTRING))

  /** Outer ring array<struct<lon,lat>> of a hex-WKB polygon. */
  def parsePolygon(g: Column): Column = c(WkbParseGeom(e(g), POLYGON))

  /** array<struct<lon,lat>> of a hex-WKB multipoint. */
  def parseMultipoint(g: Column): Column = c(WkbParseGeom(e(g), MULTIPOINT))

  def formatPoint(lon: Column, lat: Column, srid: Int = 4326): Column =
    c(WkbFormatPoint(e(lon), e(lat), srid))

  def formatLine(points: Column, srid: Int = 4326): Column =
    c(WkbFormatCoords(e(points), LINESTRING, srid))

  def formatPolygon(ring: Column, srid: Int = 4326): Column =
    c(WkbFormatCoords(e(ring), POLYGON, srid))

  def formatMultipoint(points: Column, srid: Int = 4326): Column =
    c(WkbFormatCoords(e(points), MULTIPOINT, srid))

  // ---------------- parse kernel ----------------

  private def hexToBytes(s: UTF8String): Array[Byte] = {
    val str = s.toString
    val n = str.length
    if (n < 10 || (n & 1) == 1) return null
    val out = new Array[Byte](n / 2)
    var i = 0
    while (i < n) {
      val hi = Character.digit(str.charAt(i), 16)
      val lo = Character.digit(str.charAt(i + 1), 16)
      if (hi < 0 || lo < 0) return null
      out(i / 2) = ((hi << 4) | lo).toByte
      i += 2
    }
    out
  }

  private final class Cur(val b: Array[Byte]) {
    var p = 0
    var little = true
    def remaining: Int = b.length - p
    def u8(): Int = { val v = b(p) & 0xFF; p += 1; v }
    def u32(): Long = {
      val v =
        if (little)
          (b(p) & 0xFFL) | (b(p + 1) & 0xFFL) << 8 | (b(p + 2) & 0xFFL) << 16 | (b(p + 3) & 0xFFL) << 24
        else
          (b(p + 3) & 0xFFL) | (b(p + 2) & 0xFFL) << 8 | (b(p + 1) & 0xFFL) << 16 | (b(p) & 0xFFL) << 24
      p += 4; v
    }
    def f64(): Double = {
      var bits = 0L
      if (little) { var i = 7; while (i >= 0) { bits = (bits << 8) | (b(p + i) & 0xFFL); i -= 1 } }
      else { var i = 0; while (i < 8) { bits = (bits << 8) | (b(p + i) & 0xFFL); i += 1 } }
      p += 8
      java.lang.Double.longBitsToDouble(bits)
    }
    def skip(n: Int): Unit = p += n
  }

  /** Reads one geometry header (byte order, type word, optional SRID);
    * returns (baseType, extraOrdinates) or null when malformed.
    */
  private def header(cur: Cur): (Int, Int) = {
    if (cur.remaining < 5) return null
    val order = cur.u8()
    if (order != 0 && order != 1) return null
    cur.little = order == 1
    val t = cur.u32()
    val hasSrid = (t & 0x20000000L) != 0
    val z = (t & 0x80000000L) != 0
    val m = (t & 0x40000000L) != 0
    if (hasSrid) { if (cur.remaining < 4) return null; cur.u32() }
    val masked = (t & 0x0FFFFFFFL).toInt
    val isoExtra = masked / 1000 match {
      case 0 => 0; case 1 => 1; case 2 => 1; case 3 => 2; case _ => return null
    }
    (masked % 1000, isoExtra + (if (z) 1 else 0) + (if (m) 1 else 0))
  }

  private def readPoints(cur: Cur, n: Int, extra: Int): Array[InternalRow] = {
    if (n < 0 || n > (1 << 24) || cur.remaining < n * (16 + 8 * extra)) return null
    val out = new Array[InternalRow](n)
    var i = 0
    while (i < n) {
      val lon = cur.f64(); val lat = cur.f64()
      cur.skip(8 * extra)
      out(i) = InternalRow(lon, lat)
      i += 1
    }
    out
  }

  /** Static kernel invoked from generated code: parses `hex` as the
    * given geometry kind; POINT → array(lon, lat) doubles, others →
    * array of (lon, lat) rows. Returns null on any malformation or kind
    * mismatch (the WKT-parser convention, and what lets
    * [[graft.sources.Postgis]] coalesce WKB-then-WKT per row).
    */
  def parse(hex: UTF8String, kind: Int): ArrayData =
    try {
      val bytes = hexToBytes(hex)
      if (bytes == null) return null
      val cur = new Cur(bytes)
      val h = header(cur)
      if (h == null || h._1 != kind) return null
      val extra = h._2
      kind match {
        case POINT =>
          if (cur.remaining < 16 + 8 * extra) null
          else {
            val lon = cur.f64(); val lat = cur.f64()
            new GenericArrayData(Array[Any](lon, lat))
          }
        case LINESTRING =>
          if (cur.remaining < 4) return null
          val pts = readPoints(cur, cur.u32().toInt, extra)
          if (pts == null) null else new GenericArrayData(pts.asInstanceOf[Array[Any]])
        case POLYGON =>
          if (cur.remaining < 4) return null
          val nRings = cur.u32()
          if (nRings < 1) return null
          if (cur.remaining < 4) return null
          val pts = readPoints(cur, cur.u32().toInt, extra) // outer ring only
          if (pts == null) null else new GenericArrayData(pts.asInstanceOf[Array[Any]])
        case MULTIPOINT =>
          if (cur.remaining < 4) return null
          val n = cur.u32().toInt
          if (n < 0 || n > (1 << 24)) return null
          val out = new Array[Any](n)
          var i = 0
          while (i < n) {
            val ph = header(cur) // nested full point header per OGC layout
            if (ph == null || ph._1 != POINT || cur.remaining < 16 + 8 * ph._2) return null
            val lon = cur.f64(); val lat = cur.f64()
            cur.skip(8 * ph._2)
            out(i) = InternalRow(lon, lat)
            i += 1
          }
          new GenericArrayData(out)
        case _ => null
      }
    } catch { case _: RuntimeException => null }

  // ---------------- format kernel ----------------

  private val HEX = "0123456789ABCDEF".toCharArray

  private def hexByte(sb: java.lang.StringBuilder, v: Int): Unit = {
    sb.append(HEX((v >> 4) & 0xF)); sb.append(HEX(v & 0xF))
  }
  private def hexU32(sb: java.lang.StringBuilder, v: Long): Unit = {
    hexByte(sb, (v & 0xFF).toInt); hexByte(sb, ((v >> 8) & 0xFF).toInt)
    hexByte(sb, ((v >> 16) & 0xFF).toInt); hexByte(sb, ((v >> 24) & 0xFF).toInt)
  }
  private def hexF64(sb: java.lang.StringBuilder, d: Double): Unit = {
    val bits = java.lang.Double.doubleToLongBits(d)
    var i = 0
    while (i < 8) { hexByte(sb, ((bits >> (8 * i)) & 0xFF).toInt); i += 1 }
  }
  private def headerHex(sb: java.lang.StringBuilder, kind: Int, srid: Int): Unit = {
    sb.append("01") // little-endian
    hexU32(sb, kind.toLong | (if (srid != 0) 0x20000000L else 0L))
    if (srid != 0) hexU32(sb, srid.toLong)
  }

  def formatPointHex(lon: Double, lat: Double, srid: Int): UTF8String = {
    val sb = new java.lang.StringBuilder(50)
    headerHex(sb, POINT, srid)
    hexF64(sb, lon); hexF64(sb, lat)
    UTF8String.fromString(sb.toString)
  }

  /** LINESTRING / POLYGON (single ring) / MULTIPOINT from an
    * array<struct<lon,lat>>. A null element nulls the result (the WKT
    * formatter's propagation).
    */
  def formatCoordsHex(points: ArrayData, kind: Int, srid: Int): UTF8String = {
    val n = points.numElements()
    val sb = new java.lang.StringBuilder(20 + 34 * n)
    headerHex(sb, kind, srid)
    kind match {
      case LINESTRING => hexU32(sb, n.toLong)
      case POLYGON => hexU32(sb, 1L); hexU32(sb, n.toLong)
      case MULTIPOINT => hexU32(sb, n.toLong)
      case _ => return null
    }
    var i = 0
    while (i < n) {
      if (points.isNullAt(i)) return null
      val p = points.getStruct(i, 2)
      if (p.isNullAt(0) || p.isNullAt(1)) return null
      if (kind == MULTIPOINT) { sb.append("01"); hexU32(sb, POINT.toLong) } // nested point header
      hexF64(sb, p.getDouble(0)); hexF64(sb, p.getDouble(1))
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }
}

/** Parse a hex-WKB/EWKB geometry column; see [[Wkb.parse]]. */
case class WkbParseGeom(child: Expression, kind: Int) extends UnaryExpression {
  override def dataType: DataType = kind match {
    case Wkb.POINT => ArrayType(DoubleType, containsNull = false)
    case _ => ArrayType(Wkb.lonLatStruct, containsNull = false)
  }
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"wkb_parse expects a string column, got ${child.dataType.simpleString}")

  override protected def nullSafeEval(h: Any): Any =
    Wkb.parse(h.asInstanceOf[UTF8String], kind)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.Wkb.parse($c, $kind);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
  override def prettyName: String = "wkb_parse"
}

/** Format (lon, lat) as a hex-EWKB point (srid = 0 → plain WKB). */
case class WkbFormatPoint(lon: Expression, lat: Expression, srid: Int) extends BinaryExpression {
  override def left: Expression = lon
  override def right: Expression = lat
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (lon.dataType == DoubleType && lat.dataType == DoubleType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"wkb_point expects doubles, got ${lon.dataType.simpleString}, ${lat.dataType.simpleString}")

  override protected def nullSafeEval(a: Any, b: Any): Any =
    Wkb.formatPointHex(a.asInstanceOf[Double], b.asInstanceOf[Double], srid)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Wkb.formatPointHex($a, $b, $srid)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(lon = newLeft, lat = newRight)
  override def prettyName: String = "wkb_point"
}

/** Format an array<struct<lon,lat>> as hex-EWKB linestring / polygon /
  * multipoint; see [[Wkb.formatCoordsHex]].
  */
case class WkbFormatCoords(child: Expression, kind: Int, srid: Int) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(s: StructType, _) if s.length == 2 &&
        s.forall(_.dataType == DoubleType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"wkb_coords expects array<struct<double,double>>, got ${other.simpleString}")
    }

  override protected def nullSafeEval(a: Any): Any =
    Wkb.formatCoordsHex(a.asInstanceOf[ArrayData], kind, srid)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.Wkb.formatCoordsHex($c, $kind, $srid);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
  override def prettyName: String = "wkb_coords"
}
