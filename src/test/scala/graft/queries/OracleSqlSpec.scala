package graft.queries

import org.scalatest.funsuite.AnyFunSuite

/** The DuckDB fragment generators the oracles share: each
  * parameterized generator's house instantiation is byte-identical to
  * the fragment the older oracles inline. */
class OracleSqlSpec extends AnyFunSuite {

  test("blockedPairCtesAt: the house fragment is its (0.5, 3) " +
      "instantiation; other parameters change exactly the gram width " +
      "and thresholds") {
    assert(OracleSql.blockedPairCtes == OracleSql.blockedPairCtesAt("0.5", 3))
    val alt = OracleSql.blockedPairCtesAt("0.7", 2)
    assert(alt.contains("[w[i] || ' ' || w[i+1] for i in range(1, len(w))]"))
    assert(!alt.contains("w[i+2]"))
    assert(alt.contains("ceil(0.7 * len(ot))"))
    assert(alt.contains(">= 0.7"))
    assert(!alt.contains("0.5"))
  }

  test("blockedPairCtesAt slice: the predicate lands in the toks " +
      "source and is the ONLY change; the default stays byte-identical") {
    assert(OracleSql.blockedPairCtesAt("0.7", 2) ==
      OracleSql.blockedPairCtesAt("0.7", 2, ""))
    val sliced = OracleSql.blockedPairCtesAt("0.7", 2, "doc_id % 4 = 1")
    assert(sliced.contains("FROM documents WHERE doc_id % 4 = 1"))
    assert(sliced.replace(" WHERE doc_id % 4 = 1", "") ==
      OracleSql.blockedPairCtesAt("0.7", 2))
    // the suffixed cross-blocking generator's "" instantiation IS the
    // house fragment (q338's per-tick oracle reuses the audited
    // construction, not a fork)
    assert(OracleSql.crossPrefixPairCtes ==
      OracleSql.crossPrefixPairCtesAt(""))
    val sfx = OracleSql.crossPrefixPairCtesAt("2")
    assert(sfx.contains("cand2 AS") && sfx.contains("FROM gw2") &&
      !sfx.contains("FROM gw\n"))
  }
}
