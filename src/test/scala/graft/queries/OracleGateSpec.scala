package graft.queries

import graft.SparkEntry
import org.scalatest.funsuite.AnyFunSuite

/** The oracle gate: every registered query is pinned either by a DuckDB
  * oracle ([[Oracles.all]]) or by an engine-side golden digest
  * ([[Goldens.expected]]), never by both and never by neither, and the
  * gate does not shrink below its 125 + 4 queries. */
class OracleGateSpec extends AnyFunSuite {

  test("every registered query has exactly one of an oracle or a golden " +
    "digest, and the gate keeps at least 125 oracles and 4 goldens") {
    val registered = SparkEntry.queries.keySet
    val oracles = Oracles.all.keySet
    val goldens = Goldens.expected.keySet
    assert((oracles intersect goldens).isEmpty,
      s"both an oracle and a golden: ${oracles intersect goldens}")
    assert(registered == oracles ++ goldens,
      s"unpinned: ${registered -- oracles -- goldens}; " +
        s"pinned but not registered: ${oracles ++ goldens -- registered}")
    assert(oracles.size >= 125, s"${oracles.size} oracles")
    assert(goldens.size >= 4, s"${goldens.size} goldens")
  }
}
