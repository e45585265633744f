package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Config-driven extension entry point: the engine's native Catalyst
  * expressions become SQL functions in every session of an application
  * started with
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * (or `SparkSession.builder().withExtensions(new GraftExtensions)`),
  * with no imperative registration call. This is the deployment shape
  * for shared clusters / SQL gateways, where user sessions never run
  * library code; `graft.functions.registry.registerAll` remains the
  * per-session imperative twin for notebook use.
  *
  * Only true `Expression` classes are injected — Column-API compositions
  * (haversine, date codecs, …) already reach SQL as the built-ins they
  * compose, and Spark 4's column-node representation does not round-trip
  * through FunctionRegistry builders.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    graft.functions.registry.functions.foreach { case (name, cls, build) =>
      ext.injectFunction(
        (FunctionIdentifier(name), new ExpressionInfo(cls.getCanonicalName, name), build))
    }
}
