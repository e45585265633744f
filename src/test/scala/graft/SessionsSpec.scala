package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.{col, lit}

import java.util.concurrent.atomic.AtomicInteger

/** Sessions.inParallel failure semantics: no thunk outlives the call.
  * Sessions.local's generated-class cache: a plan shape compiles once.
  */
class SessionsSpec extends SparkSpec {

  test("inParallel returns results in input order") {
    assert(Sessions.inParallel(() => { Thread.sleep(50); 1 }, () => 2, () => 3) === Seq(1, 2, 3))
  }

  test("inParallel rethrows a failure only after every sibling has finished") {
    val finished = new AtomicInteger(0)
    def slow(ms: Long): () => Long = () => { Thread.sleep(ms); finished.incrementAndGet(); ms }
    val first = new IllegalStateException("first")
    val later = new IllegalArgumentException("later")
    val e = intercept[IllegalStateException](Sessions.inParallel[Long](
      () => throw first, slow(300), () => { Thread.sleep(100); throw later }, slow(500)))
    assert(e eq first)
    assert(finished.get === 2, "a sibling was still running when inParallel threw")
    assert(e.getSuppressed.toSeq === Seq(later))
  }

  test("a second round of the same queries compiles no class, " +
       "though the rounds need more than Spark's default 100") {
    // an int literal is inlined into the generated Java source, so each
    // branch compiles to classes no earlier suite can have compiled: the
    // first round exceeds 100 compilations wherever this test runs
    val fresh = (0 until 80)
      .map(i => spark.range(0, 1, 1, 1).filter(col("id") =!= lit(7340000 + i)))
      .reduce(_ union _)
    // queries without joins, whose stages run one after another: with
    // the join-heavy q_kendall_tau and q_asof_join in the set, a second
    // round once compiled classes again
    val queries = Seq("q_filter_project", "q_pricing_summary")
    def round(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      queries.foreach(q => SparkEntry.queries(q)(spark, sf).count())
      assert(fresh.count() === 80)
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    assert(round() > 100)
    assert(round() === 0)
  }
}
