package graft

import org.scalatest.funsuite.AnyFunSuite

/** The declared query set, its oracle coverage and the bench headline
  * stay consistent: every oracle names a declared query, exactly the
  * listed queries run without one, and the headline resolves.
  */
class QuerySetSpec extends AnyFunSuite {

  test("the queries without a DuckDB oracle are exactly the five rows-only ones") {
    assert(SparkEntry.queries.keySet -- OracleSql.all.keySet ==
      Set("q_ann_ivf", "q_ann_lsh", "q_chunker", "q_embed_chunks", "q_mmr"))
  }

  test("every oracle names a declared query") {
    assert(OracleSql.all.keySet.subsetOf(SparkEntry.queries.keySet),
      s"oracles without a query: ${OracleSql.all.keySet -- SparkEntry.queries.keySet}")
  }

  test("Bench.Headline holds 20 distinct declared queries") {
    assert(Bench.Headline.size == 20)
    assert(Bench.Headline.distinct.size == 20)
    assert(Bench.Headline.forall(SparkEntry.queries.contains),
      s"unresolvable: ${Bench.Headline.filterNot(SparkEntry.queries.contains)}")
  }
}
