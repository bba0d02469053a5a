package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One gate: a Spark query over the parquet test tables and the DuckDB
  * SQL that must return the same rows (same column names; see
  * [[graft.Verify]]). Column names and value arithmetic are kept
  * bit-compatible between both sides: integer div/mod where possible,
  * decimal sums for money, floor-quantized meters for trig-derived
  * values.
  *
  * The oracle is by-name: indexing the builders never renders SQL, so
  * looking a builder up stays cheap inside a timed region.
  */
final class Gate(val name: String, val build: (SparkSession, String) => DataFrame, oracleSql: => String) {
  def oracle: String = oracleSql
}

object Gate {

  /** `Gate("name") { (s, dir) => builder } { oracle SQL }`. */
  def apply(name: String)(build: (SparkSession, String) => DataFrame)(oracle: => String): Gate =
    new Gate(name, build, oracle)

  /** Gates by name. A repeated name is an error that names the gate. */
  def index(gates: Seq[Gate]): Map[String, Gate] = {
    val repeated = gates.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    require(repeated.isEmpty, s"gate declared more than once: ${repeated.toSeq.sorted.mkString(", ")}")
    gates.map(g => g.name -> g).toMap
  }

  /** The Spark builder per gate; forces no oracle. */
  def queries(gates: Seq[Gate]): Map[String, (SparkSession, String) => DataFrame] =
    index(gates).map { case (n, g) => n -> g.build }

  /** The DuckDB oracle SQL per gate. */
  def oracleSql(gates: Seq[Gate]): Map[String, String] =
    index(gates).map { case (n, g) => n -> g.oracle }
}
