package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (getOrCreate reuses the JVM-wide
  * session; Test/fork gives the suite run one JVM).
  */
object TestSpark {
  lazy val spark: SparkSession = Sessions.local("4", "4")
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = "/root/testdata/sf0.001"

  /** Every physical node of a materialized frame's executed plan — AQE
    * stages unwrapped AND InMemoryRelation cached plans descended (a
    * cache hit from another suite must not hide the nodes under audit).
    */
  def planNodes(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = SparkSpec.planNodes(df)
}

object SparkSpec {
  def planNodes(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    df.collect() // materialize so AQE finalizes its plan choices
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: walk(a.executedPlan)
      case q: QueryStageExec => q +: walk(q.plan)
      case s: InMemoryTableScanExec => s +: walk(s.relation.cachedPlan)
      case other => other +: other.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }
}
