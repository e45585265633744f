package graft

/** Whole-surface smoke + plan audit: every SparkEntry query must execute
  * at sf0.001 and must never plan a true cartesian product (broadcast
  * nested loops against 1-row scalar frames are legitimate; an unbounded
  * CartesianProductExec at 100 TB is always a bug). Each query is built
  * once for this suite and [[OutputTypeSpec]] ([[QueryMemo]]).
  */
class QueriesSpec extends SparkSpec {

  SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
    test(s"$name executes at sf0.001 without a cartesian product") {
      val built = QueryMemo(spark, sf, name)
      assert(!built.cartesian, built.plan)
    }
  }

  test("EVERY query has an oracle, and entry returns rows") {
    // full equality, not subset: the engine's standing invariant since
    // round 5 is that no query ships without a DuckDB cross-check — a
    // new queries entry missing its oracleSql twin fails here, not in
    // the driver's gate a round later
    assert(SparkEntry.oracleSql.keySet === SparkEntry.queries.keySet,
      s"missing oracles: ${SparkEntry.queries.keySet.diff(SparkEntry.oracleSql.keySet)}; " +
        s"orphan oracles: ${SparkEntry.oracleSql.keySet.diff(SparkEntry.queries.keySet)}")
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
