package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.types.StructType
import scala.collection.concurrent.TrieMap
import scala.util.Try

/** One build of each SparkEntry query per (sf, name), shared by the
  * whole-surface audits ([[QueriesSpec]], [[OutputTypeSpec]]) so the test
  * run constructs and collects every query once, not once per audit. A
  * build that threw is kept as that failure and rethrown to each reader.
  */
object QueryMemo {
  /** @param cartesian whether the materialized plan has a CartesianProductExec
    * @param plan      the executed plan's text, cut to 2000 chars
    * @param schema    the query's output schema
    */
  final case class Built(cartesian: Boolean, plan: String, schema: StructType)

  private val built = TrieMap.empty[(String, String), Try[Built]]

  def apply(spark: SparkSession, sf: String, name: String): Built =
    built.getOrElseUpdate((sf, name), Try {
      val df = SparkEntry.queries(name)(spark, sf)
      Built(SparkSpec.planNodes(df).exists(_.isInstanceOf[CartesianProductExec]),
        df.queryExecution.executedPlan.toString.take(2000), df.schema)
    }).get
}
