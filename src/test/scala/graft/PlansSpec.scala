package graft

import org.apache.spark.sql.execution.ExplainMode

class PlansSpec extends SparkSpec {

  test("Plans.dump renumbers expression ids: two builds of one query " +
       "dump the same text where the raw plans differ") {
    val fn = SparkEntry.queries("q_pricing_summary")
    val (a, b) = (fn(spark, sf), fn(spark, sf))
    val mode = ExplainMode.fromString("formatted")
    assert(a.queryExecution.explainString(mode) !==
      b.queryExecution.explainString(mode))
    assert(Plans.dump(a) === Plans.dump(b))
    assert(Plans.dump(a).contains("#0"))
  }
}
