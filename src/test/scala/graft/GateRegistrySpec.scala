package graft

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

/** The gate registry, pinned without running a Spark job: the sorted gate
  * names of [[SparkEntry.queries]] and the names that carry an oracle in
  * [[SparkEntry.oracleSql]] must equal `gate_registry.txt`. A table-driven
  * family that drops, renames or orphans a gate fails here, not only in
  * the Verify sweep. */
class GateRegistrySpec extends AnyFunSuite {
  private val pinned: Map[String, Seq[String]] = {
    val src = Source.fromResource("gate_registry.txt")
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split(" ", 2)).toSeq.groupMap(_(0))(_(1))
    finally src.close()
  }

  test("the gate names equal the pinned registry") {
    val gates = SparkEntry.queries.keys.toSeq.sorted
    assert(gates.size === pinned("gate").size)
    assert(gates === pinned("gate"))
  }

  test("the gates with an oracle equal the pinned subset, and no oracle is orphaned") {
    val oracles = SparkEntry.oracleSql.keys.toSeq.sorted
    assert(oracles === pinned("oracle"))
    assert(oracles.filterNot(SparkEntry.queries.contains).isEmpty)
    assert(SparkEntry.oracleSql.values.forall(_.trim.nonEmpty))
  }
}
