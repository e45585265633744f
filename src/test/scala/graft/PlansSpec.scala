package graft

import org.apache.spark.sql.execution.ExplainMode

class PlansSpec extends SparkSpec {
  private val mode = ExplainMode.fromString("formatted")

  test("Plans.dump renumbers expression ids: two builds of one query " +
       "dump the same text where the raw plans differ") {
    val fn = SparkEntry.queries("q_pricing_summary")
    val (a, b) = (fn(spark, sf), fn(spark, sf))
    assert(a.queryExecution.explainString(mode) !==
      b.queryExecution.explainString(mode))
    assert(Plans.dump(a) === Plans.dump(b))
    assert(Plans.dump(a).contains("#0"))
  }

  test("Plans.dump renumbers RDD ids and masks source lines: two frames " +
       "built from different lines dump the same text") {
    import spark.implicits._
    val a = spark.sparkContext.parallelize(Seq((1, "x"))).toDF("k", "v").filter($"k" > 0)
    val b = spark.sparkContext.parallelize(Seq((1, "x"))).toDF("k", "v").filter($"k" > 0)
    val (rawA, rawB) = (a.queryExecution.explainString(mode), b.queryExecution.explainString(mode))
    // the raw call sites name this file at two lines, and the RDD ids differ
    assert(rawA.matches("(?s).*RDD\\[\\d+\\] at .* at PlansSpec\\.scala:\\d+.*"))
    assert(rawA.replaceAll("#\\d+", "") !== rawB.replaceAll("#\\d+", ""))
    assert(rawA.replaceAll("#\\d+|RDD\\[\\d+\\]", "") !== rawB.replaceAll("#\\d+|RDD\\[\\d+\\]", ""))
    assert(Plans.dump(a) === Plans.dump(b))
    assert(Plans.dump(a).contains("RDD[0] at ") && Plans.dump(a).contains("PlansSpec.scala:N"))
  }
}
