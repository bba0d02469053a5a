package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Gate-output type contract, enforced (the round-8 postmortem): the
  * driver's type-aware result hash rejects DECIMAL(38,x) output columns
  * even when values are identical on both sides, and timestamps only
  * compare reliably under the repo's `unix_micros` BIGINT convention.
  * Exact int128 math is welcome INTERNALLY; it must be cast to a
  * canonical digit string (or split into BIGINTs) before the final
  * select — see graft.gates.Shared.decimalsToDigits. This spec instantiates
  * every registry query at sf0.001 and fails if any output schema
  * carries a DecimalType or TimestampType anywhere (nested included),
  * so the failure mode that cost 8 green rows in round 8 cannot recur
  * silently.
  */
class OutputTypeLintSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.local(4)
  private val dir = "/root/testdata/sf0.001"

  private def banned(dt: DataType): Boolean = dt match {
    case _: DecimalType            => true
    case _: TimestampType          => true
    case TimestampNTZType          => true
    case ArrayType(et, _)          => banned(et)
    case MapType(kt, vt, _)        => banned(kt) || banned(vt)
    case StructType(fields)        => fields.exists(f => banned(f.dataType))
    case _                         => false
  }

  test("no registry query ships DecimalType or TimestampType in its output schema") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, q) =>
      val schema = q(spark, dir).schema
      val bad = schema.fields.filter(f => banned(f.dataType))
      if (bad.isEmpty) None
      else Some(s"$name: ${bad.map(f => s"${f.name}=${f.dataType.simpleString}").mkString(", ")}")
    }
    assert(offenders.isEmpty,
      s"gate queries with hash-breaking output types (cast to string/bigint at the surface):\n" +
        offenders.mkString("\n"))
  }

  test("the lint itself catches a deliberately-decimal output") {
    import org.apache.spark.sql.functions._
    val df = spark.range(3).select(col("id").cast("decimal(38,0)").as("bad"))
    assert(df.schema.fields.exists(f => banned(f.dataType)))
  }
}
