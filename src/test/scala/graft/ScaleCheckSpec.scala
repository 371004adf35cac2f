package graft

import org.scalatest.funsuite.AnyFunSuite

/** The scale-gate subset must stay pinned: the 10×/30× gate runs the
  * canonical 16 queries, and the 100× variant swaps EXACTLY the two
  * whose DuckDB oracle replays are superlinear-infeasible (q36's
  * quadratic pair scan, q234's recursive closure) for same-family
  * stand-ins — never silently dropping coverage. */
class ScaleCheckSpec extends AnyFunSuite {

  test("subsetFor(k<100) is the canonical 16-query subset") {
    assert(ScaleCheck.subsetFor(10) == ScaleCheck.Subset)
    assert(ScaleCheck.subsetFor(30) == ScaleCheck.Subset)
    assert(ScaleCheck.Subset.size == 16)
    // the round-12 widening: every previously-unrepresented family
    assert(Set("q173_bfs_hops", "q182_stream_sessions",
      "q86_rolling_time", "q65_curate_corpus")
      .subsetOf(ScaleCheck.Subset.toSet))
  }

  test("subsetFor(100) swaps exactly the two infeasible-oracle queries") {
    val s100 = ScaleCheck.subsetFor(100)
    assert(s100.size == 16)
    val dropped = ScaleCheck.Subset.toSet -- s100.toSet
    val added = s100.toSet -- ScaleCheck.Subset.toSet
    assert(dropped ==
      Set("q36_blocked_levenshtein", "q234_boruvka_msf"))
    assert(added ==
      Set("q120_sorted_neighborhood", "q177_minhash_portable"))
  }

  test("every query but q184 has a DuckDB oracle, and every oracle a query") {
    // q184 reports java.util.zip deflate ratios, which no SQL engine replays
    assert(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet ==
      Set("q184_compress_ratio"))
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without a query: $orphans")
  }

  test("every subset query exists in SparkEntry.queries with an oracle") {
    val all = (ScaleCheck.Subset ++ ScaleCheck.subsetFor(100)).distinct
    all.foreach { q =>
      assert(SparkEntry.queries.contains(q), s"$q missing from queries")
      assert(SparkEntry.oracleSql.contains(q), s"$q missing from oracleSql")
    }
  }
}
