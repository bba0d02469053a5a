package graft

import graft.gates._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The gate registry as the two views the mains read. Each gate is
  * declared once, its Spark builder beside its DuckDB oracle, in a
  * family file under [[graft.gates]] (see [[Gate]]).
  */
object SparkEntry {

  /** Every gate, family by family. */
  val gates: Seq[Gate] = Seq(
    TpchGates.gates,
    MobilityGates.gates,
    MobilityMetricsGates.gates,
    ColocationGates.gates,
    SpatialGates.gates,
    TrajectoryGates.gates,
    StreamingGates.gates,
    EventGates.gates,
    DedupGates.gates,
    AnnGates.gates,
    ClassifierGates.gates,
    TextGates.gates,
    CurationGates.gates).flatten

  /** Spark query per gate (Bench, Verify, GateTime, Explain). */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Gate.queries(gates)

  /** DuckDB-equivalent SQL per gate (same column names; see Verify). */
  def oracleSql: Map[String, String] = Gate.oracleSql(gates)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")
}
