package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, QuaternaryExpression}
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expression for the great-circle distance.
  *
  * [[graft.functions.GeoFunctions.haversineMeters]] composes ~14 builtin
  * expressions (radians/cos/acos/least/greatest…); this collapses the
  * whole kernel into ONE codegen'd static-method call — a smaller
  * expression tree for the optimizer and one JIT-friendly call site in
  * generated code. Registered as SQL function `haversine_m` via
  * [[GraftExtensions]] (`spark.sql.extensions=graft.plans.GraftExtensions`).
  *
  * Semantics identical to the composed form (spherical law of cosines,
  * clamped acos, null-in → null-out).
  */
case class HaversineDistance(lon1: Expression, lat1: Expression, lon2: Expression, lat2: Expression)
    extends QuaternaryExpression {

  override def first: Expression = lon1
  override def second: Expression = lat1
  override def third: Expression = lon2
  override def fourth: Expression = lat2

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val bad = children.zipWithIndex.collect {
      case (c, i) if c.dataType != DoubleType => s"argument ${i + 1} is ${c.dataType.simpleString}"
    }
    if (bad.isEmpty) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"haversine_m expects doubles; ${bad.mkString(", ")}")
  }

  override protected def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    HaversineDistance.compute(
      a.asInstanceOf[Double], b.asInstanceOf[Double], c.asInstanceOf[Double], d.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c, d) =>
      s"graft.plans.HaversineDistance.compute($a, $b, $c, $d)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression, newFourth: Expression): Expression =
    copy(lon1 = newFirst, lat1 = newSecond, lon2 = newThird, lat2 = newFourth)

  override def prettyName: String = "haversine_m"
}

object HaversineDistance {
  /** The scalar kernel invoked from generated code (must be public static). */
  def compute(lon1: Double, lat1: Double, lon2: Double, lat2: Double): Double = {
    val la1 = math.toRadians(lat1)
    val la2 = math.toRadians(lat2)
    val arg = math.cos(la1 - la2) -
      math.cos(la1) * math.cos(la2) * (1.0 - math.cos(math.toRadians(lon1) - math.toRadians(lon2)))
    6371000.0 * math.acos(math.min(1.0, math.max(-1.0, arg)))
  }
}

/** Session extension wiring `haversine_m` into the function registry:
  * `SparkSession.builder.withExtensions(new GraftExtensions)` or
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => BandedDistanceJoin)
  }
}

object GraftExtensions {
  private val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (
      new FunctionIdentifier("haversine_m"),
      new ExpressionInfo(classOf[HaversineDistance].getName, "haversine_m"),
      (children: Seq[Expression]) => {
        require(children.length == 4, "haversine_m(lon1, lat1, lon2, lat2)")
        HaversineDistance(children(0), children(1), children(2), children(3))
      }),
    (
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "cosine_sim(vec_a, vec_b)")
        CosineSimilarity(children(0), children(1))
      }),
    (
      new FunctionIdentifier("l2_sq_q"),
      new ExpressionInfo(classOf[QuantizedSquaredL2].getName, "l2_sq_q"),
      (children: Seq[Expression]) => {
        require(children.length == 3, "l2_sq_q(vec_a, vec_b, scale)")
        val scale = children(2) match {
          case e if e.foldable => e.eval().asInstanceOf[Number].doubleValue()
          case _ => throw new IllegalArgumentException("l2_sq_q: scale must be a literal")
        }
        QuantizedSquaredL2(children(0), children(1), scale)
      }),
    (
      new FunctionIdentifier("hyperplane_sig"),
      new ExpressionInfo(classOf[HyperplaneSignature].getName, "hyperplane_sig"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "hyperplane_sig(vec, planes)")
        val planes = children(1) match {
          case e if e.foldable => e.eval().asInstanceOf[Number].intValue()
          case _ => throw new IllegalArgumentException("hyperplane_sig: planes must be a literal")
        }
        HyperplaneSignature(children(0), planes)
      }),
    (
      new FunctionIdentifier("word_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "word_shingles(text, n)")
        WordShingles(children(0), literalInt(children(1), "word_shingles: n"))
      }),
    (
      new FunctionIdentifier("word_ngrams"),
      new ExpressionInfo(classOf[WordNgrams].getName, "word_ngrams"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "word_ngrams(text, n)")
        WordNgrams(children(0), literalInt(children(1), "word_ngrams: n"))
      }),
    (
      new FunctionIdentifier("minhash_bands"),
      new ExpressionInfo(classOf[MinHashBands].getName, "minhash_bands"),
      (children: Seq[Expression]) => {
        require(children.length == 3, "minhash_bands(shingles, numHashes, bands)")
        MinHashBands(children(0),
          literalInt(children(1), "minhash_bands: numHashes"),
          literalInt(children(2), "minhash_bands: bands"))
      }),
    (
      new FunctionIdentifier("simhash_fp"),
      new ExpressionInfo(classOf[SimHashFingerprint].getName, "simhash_fp"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "simhash_fp(tokens)")
        SimHashFingerprint(children(0))
      }),
    (
      new FunctionIdentifier("unicode_normalize"),
      new ExpressionInfo(classOf[UnicodeNormalize].getName, "unicode_normalize"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "unicode_normalize(text, form)")
        val form = children(1) match {
          case l if l.foldable => String.valueOf(l.eval())
          case _ => throw new IllegalArgumentException(
            "unicode_normalize: form must be a literal string")
        }
        UnicodeNormalize(children(0), form)
      }),
    (
      new FunctionIdentifier("lz76_phrase_count"),
      new ExpressionInfo(classOf[Lz76PhraseCount].getName, "lz76_phrase_count"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "lz76_phrase_count(text, maxChars)")
        Lz76PhraseCount(children(0), literalInt(children(1), "lz76_phrase_count: maxChars"))
      }),
    // hex-WKB/EWKB geometry codecs (graft.functions.Wkb): kind is one of
    // 'point' | 'linestring' | 'polygon' | 'multipoint'
    (
      new FunctionIdentifier("wkb_parse"),
      new ExpressionInfo(classOf[graft.functions.WkbParseGeom].getName, "wkb_parse"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "wkb_parse(hex, kind)")
        graft.functions.WkbParseGeom(children(0), wkbKind(children(1)))
      }),
    (
      new FunctionIdentifier("wkb_point"),
      new ExpressionInfo(classOf[graft.functions.WkbFormatPoint].getName, "wkb_point"),
      (children: Seq[Expression]) => {
        require(children.length == 2 || children.length == 3, "wkb_point(lon, lat[, srid])")
        val srid = if (children.length == 3) literalInt(children(2), "wkb_point: srid") else 4326
        graft.functions.WkbFormatPoint(children(0), children(1), srid)
      }),
    (
      new FunctionIdentifier("wkb_coords"),
      new ExpressionInfo(classOf[graft.functions.WkbFormatCoords].getName, "wkb_coords"),
      (children: Seq[Expression]) => {
        require(children.length == 2 || children.length == 3, "wkb_coords(points, kind[, srid])")
        val srid = if (children.length == 3) literalInt(children(2), "wkb_coords: srid") else 4326
        graft.functions.WkbFormatCoords(children(0), wkbKind(children(1)), srid)
      }))

  private def wkbKind(e: Expression): Int = e match {
    case l if l.foldable =>
      String.valueOf(l.eval()) match {
        case "point" => graft.functions.Wkb.POINT
        case "linestring" => graft.functions.Wkb.LINESTRING
        case "polygon" => graft.functions.Wkb.POLYGON
        case "multipoint" => graft.functions.Wkb.MULTIPOINT
        case other => throw new IllegalArgumentException(
          s"wkb kind must be point|linestring|polygon|multipoint, got '$other'")
      }
    case _ => throw new IllegalArgumentException("wkb kind must be a literal string")
  }

  private def literalInt(e: Expression, what: String): Int = e match {
    case l if l.foldable => l.eval().asInstanceOf[Number].intValue()
    case _ => throw new IllegalArgumentException(s"$what must be a literal")
  }

  /** Register on an existing session (tests / REPL convenience).
    * Functions go into the registry; the banded-distance-join rule into
    * `experimental.extraOptimizations` (the post-hoc equivalent of
    * `injectOptimizerRule` for sessions built without extensions).
    */
  def register(spark: SparkSession): Unit = {
    if (!spark.experimental.extraOptimizations.contains(BandedDistanceJoin)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ BandedDistanceJoin
    }
    functions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
  }
}
