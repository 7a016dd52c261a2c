package graft

import org.scalatest.funsuite.AnyFunSuite

/** The gate registry: each gate declared once, with a build function and
  * an oracle, and the name-keyed views agree with it. */
class GateRegistrySpec extends AnyFunSuite {

  test("304 gates with unique qNN_label names") {
    val names = SparkEntry.gates.map(_.name)
    assert(names.size == 304)
    assert(names.distinct.size == names.size)
    names.foreach(n => assert(n.matches("q\\d+_\\w+"), n))
  }

  test("every gate has a build function and a non-blank oracle") {
    SparkEntry.gates.foreach { g =>
      assert(g.build != null, s"${g.name}: null build function")
      assert(g.oracle != null && g.oracle.trim.nonEmpty,
        s"${g.name}: null or blank oracle")
    }
  }

  test("queries and oracleSql cover the same gates") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.size == SparkEntry.gates.size)
  }
}
