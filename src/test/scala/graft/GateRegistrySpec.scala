package graft

import graft.gates.Gate
import org.scalatest.funsuite.AnyFunSuite

/** The gate registry: one record per gate, each name once, every oracle
  * a non-empty SQL string, and the driver's two views over the same
  * names.
  */
class GateRegistrySpec extends AnyFunSuite {

  test("the registry holds 269 gates with pairwise distinct names") {
    // checked on the Seq itself: a Map would drop a duplicate silently
    val names = Gate.all.map(_.name)
    assert(names.size === 269)
    assert(names.diff(names.distinct).isEmpty, names.diff(names.distinct))
  }

  test("every gate's oracle is a non-empty SQL string") {
    val empty = Gate.all.filter(g => Option(g.oracle).forall(_.trim.isEmpty))
    assert(empty.map(_.name).isEmpty)
  }

  test("queries and oracleSql are views over the same gate names") {
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.keySet === Gate.all.map(_.name).toSet)
  }

  test("building a gate evaluates no oracle SQL") {
    val g = Gate("probe", (_, _) => null, sys.error("oracle evaluated"))
    assert(g.name === "probe")
    assert(intercept[RuntimeException](g.oracle).getMessage ===
      "oracle evaluated")
  }
}
