package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier

class RegistrySpec extends SparkSpec {

  test("native dot_product works from pure SQL") {
    registry.registerAll(spark)
    val r = spark.sql(
      "SELECT dot_product(array(1.0d, 2.0d, 3.0d), array(4.0d, 5.0d, 6.0d)) AS dp")
      .head()
    assert(r.getDouble(0) === 32.0)
  }

  test("dot_product nulls propagate, not crash") {
    registry.registerAll(spark)
    val r = spark.sql(
      "SELECT dot_product(CAST(NULL AS ARRAY<DOUBLE>), array(1.0d)) AS dp").head()
    assert(r.isNullAt(0))
  }

  /** A fresh session built with [[graft.GraftExtensions]] and nothing
    * registered by hand. getOrCreate returns the suite session unless
    * active/default are cleared; the new session shares the
    * SparkContext (never stopped).
    */
  private def withExtensionSession(f: SparkSession => Unit): Unit = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try f(SparkSession.builder()
      .master("local[2]")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate())
    finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("GraftExtensions injects dot_product into a fresh extension-built session") {
    withExtensionSession { s2 =>
      val r = s2.sql(
        "SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS dp").head()
      assert(r.getDouble(0) === 11.0)
    }
  }

  test("every registry function resolves through registerAll and in a " +
       "fresh GraftExtensions session") {
    val names = registry.functions.map(_._1)
    assert(names.sorted === Seq("bloom_might_contain", "dot_product", "z_order_key"))
    registry.registerAll(spark)
    withExtensionSession { s2 =>
      for (s <- Seq(spark, s2); name <- names)
        assert(s.sessionState.functionRegistry.functionExists(FunctionIdentifier(name)),
          s"$name does not resolve")
    }
  }
}
