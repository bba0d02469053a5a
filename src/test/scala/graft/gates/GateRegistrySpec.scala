package graft.gates

import graft.SparkEntry
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

/** The registry's contracts: every gate is declared exactly once,
  * indexing the builders never renders an oracle (perfbench looks a
  * builder up inside each gate's timed window), and every oracle's text
  * matches the committed SHA-256 manifest `oracle_sql.sha256`.
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

  test("every gate's oracle text matches the committed SHA-256 manifest") {
    val src = scala.io.Source.fromResource("oracle_sql.sha256", getClass.getClassLoader)
    val pinned =
      try src.getLines().filter(_.nonEmpty).map { l =>
        val Array(name, hex) = l.split('\t'); name -> hex
      }.toMap
      finally src.close()
    val current = SparkEntry.oracleSql.map { case (name, sql) =>
      name -> MessageDigest.getInstance("SHA-256").digest(sql.getBytes(UTF_8))
        .map(b => f"${b & 0xff}%02x").mkString
    }
    val drift = (pinned.keySet ++ current.keySet).toSeq.sorted.flatMap { name =>
      (pinned.get(name), current.get(name)) match {
        case (Some(a), Some(b)) if a == b => None
        case (Some(_), Some(b)) => Some(s"changed  $name, new line: $name\t$b")
        case (None, Some(b)) => Some(s"appeared $name, new line: $name\t$b")
        case _ => Some(s"vanished $name")
      }
    }
    if (drift.nonEmpty) fail(drift.mkString("oracle text drifted from oracle_sql.sha256:\n", "\n", ""))
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
