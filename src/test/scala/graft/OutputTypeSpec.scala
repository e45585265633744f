package graft

import org.apache.spark.sql.types.DecimalType

/** Output-contract type audit: NO query ships a wide decimal in its
  * final schema. DECIMAL(38,0) is the engine's internal exact-
  * accumulation type; in a final SELECT it hashes apart from the
  * DuckDB oracle's HUGEINT/BIGINT under the driver's type-sensitive
  * comparator even when every digit matches — round 9 shipped 14
  * value-correct/type-misaligned queries exactly this way. The
  * contract (graft.functions.num): narrow to BIGINT when the value
  * provably fits int64 (loudly — toLongChecked raises on overflow,
  * matching DuckDB's HUGEINT→BIGINT cast), STRING digits when it
  * genuinely can't. Each query is built once for this suite and
  * [[QueriesSpec]] ([[QueryMemo]]).
  */
class OutputTypeSpec extends SparkSpec {

  private val widest = 18 // anything wider is an internal type escaping

  SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
    test(s"$name emits no DecimalType wider than ($widest,x)") {
      val offenders = QueryMemo(spark, sf, name).schema.fields.collect {
        case f if f.dataType.isInstanceOf[DecimalType] &&
          f.dataType.asInstanceOf[DecimalType].precision > widest =>
          s"${f.name}: ${f.dataType.sql}"
      }
      assert(offenders.isEmpty,
        s"wide decimal in final SELECT of $name — cast to BIGINT " +
          s"(num.toLongChecked) or STRING digits (num.digits) on BOTH " +
          s"engine and oracle sides: ${offenders.mkString(", ")}")
    }
  }
}
