package graft.gates

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** The gate registry: a `Gate` cannot be declared without its twin,
  * so what is left to check is the count, that no name is declared
  * twice (a later duplicate would shadow an earlier gate in the
  * name-keyed views) and that no twin is blank.
  */
class GateRegistrySpec extends AnyFunSuite {
  test("346 gates, unique names, non-blank DuckDB twins") {
    val gates = SparkEntry.gates
    assert(gates.size == 346)
    val dups = gates.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    assert(dups.isEmpty, s"names declared twice: ${dups.toSeq.sorted}")
    val blank = gates.filter(_.twin.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"gates with a blank twin: $blank")
    assert(SparkEntry.queries.size == 346 && SparkEntry.oracleSql.size == 346)
  }
}
