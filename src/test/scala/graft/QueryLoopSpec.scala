package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.storage.StorageLevel

class QueryLoopSpec extends SparkSpec {

  test("select: name order, and an unknown name fails before any query runs") {
    assert(QueryLoop.select(Set("q_pricing_summary", "q_filter_project"))
      .map(_._1) === Seq("q_filter_project", "q_pricing_summary"))
    assert(QueryLoop.select(Set.empty).size === SparkEntry.queries.size)
    val e = intercept[IllegalArgumentException](
      QueryLoop.select(Set("q_filter_project", "q_no_such_query")))
    assert(e.getMessage.contains("q_no_such_query"))
  }

  test("attempt: a NonFatal failure comes back, and the next attempt runs") {
    val loop = new QueryLoop(spark)
    val boom = new IllegalStateException("boom")
    assert(loop.attempt[Long](throw boom) === Left(boom))
    assert(loop.attempt(spark.range(3).count()) === Right(3L))
  }

  test("attempt: the body's localCheckpoint is released whether it " +
       "succeeded or threw") {
    val loop = new QueryLoop(spark)
    def checkpointed(): RDD[Long] = {
      val rdd = spark.sparkContext.range(0L, 10L).localCheckpoint()
      rdd.count()
      assert(spark.sparkContext.getPersistentRDDs.contains(rdd.id))
      rdd
    }
    var ok: RDD[Long] = null
    assert(loop.attempt { ok = checkpointed(); ok.count() } === Right(10L))
    var failed: RDD[Long] = null
    assert(loop.attempt { failed = checkpointed(); sys.error("after checkpoint") }.isLeft)
    for (rdd <- Seq(ok, failed)) {
      assert(!spark.sparkContext.getPersistentRDDs.contains(rdd.id))
      assert(rdd.getStorageLevel === StorageLevel.NONE)
    }
  }

  test("attempt: a throwable that is not NonFatal propagates") {
    val loop = new QueryLoop(spark)
    intercept[InterruptedException](
      loop.attempt(throw new InterruptedException("stop the run")))
  }
}
