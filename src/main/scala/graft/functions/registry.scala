package graft.functions

import graft.functions.expressions.{BloomMightContain, DotProduct, ZOrderKey}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression

/** SQL-surface registration for the engine's native Catalyst expressions,
  * so `spark.sql(...)` users can call them directly.
  *
  * Only true `Expression` classes register here: Column-API compositions
  * (haversine, date codecs, …) are already reachable from SQL as the
  * built-ins they compose, and Spark 4's column-node representation does
  * not round-trip through FunctionRegistry builders.
  */
object registry {
  /** (SQL name, expression class, builder): the one list both
    * [[registerAll]] and [[graft.GraftExtensions]] register from.
    */
  val functions: Seq[(String, Class[_ <: Expression], Seq[Expression] => Expression)] = Seq(
    ("dot_product", classOf[DotProduct], exprs => DotProduct(exprs(0), exprs(1))),
    ("bloom_might_contain", classOf[BloomMightContain],
      exprs => BloomMightContain(exprs(0), exprs(1))),
    ("z_order_key", classOf[ZOrderKey], exprs => ZOrderKey(exprs)))

  def registerAll(spark: SparkSession): Unit =
    functions.foreach { case (name, _, build) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, build, "scala_udf")
    }
}
