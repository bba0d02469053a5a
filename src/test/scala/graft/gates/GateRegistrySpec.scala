package graft.gates

import graft.SparkEntry
import org.scalatest.funsuite.AnyFunSuite

/** The registry's two contracts: every gate is declared exactly once, and
  * indexing the builders never renders an oracle (perfbench looks a
  * builder up inside each gate's timed window).
  */
class GateRegistrySpec extends AnyFunSuite {

  private def gate(name: String, oracle: => String): Gate =
    Gate(name)((s, _) => s.emptyDataFrame)(oracle)

  test("the registry declares 325 distinct gates, each with builder and oracle") {
    val names = SparkEntry.gates.map(_.name)
    assert(names.size == 325)
    assert(names.distinct.size == 325)
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.oracleSql.keySet == names.toSet)
  }

  test("an index over two gates sharing a name throws, naming the gate") {
    val e = intercept[IllegalArgumentException] {
      Gate.index(Seq(gate("a", "SELECT 1"), gate("twice", "SELECT 2"), gate("twice", "SELECT 3")))
    }
    assert(e.getMessage.contains("twice"))
    assert(!e.getMessage.contains("a,"))
  }

  test("building queries forces no oracle") {
    val gates = Seq(gate("ok", "SELECT 1"), gate("lazy", throw new IllegalStateException("oracle forced")))
    assert(Gate.queries(gates).keySet == Set("ok", "lazy"))
    intercept[IllegalStateException](Gate.oracleSql(gates))
  }
}
