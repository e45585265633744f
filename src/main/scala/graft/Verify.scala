package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. A query that
  * fails is named on stderr, and one `[verify] N of M failed` line sums
  * the run up; the exit code stays 0 so the oracle gate still runs. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional trailing args: run only the named queries (dev iteration)
    val selected = QueryLoop.select(args.drop(2).toSet)
    val loop = QueryLoop(defaultCpus = 4)
    new java.io.File(outDir).mkdirs()
    val failed = selected.flatMap { case (name, fn) =>
      loop.attempt(fn(loop.spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")).left.toOption.map { e =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        name
      }
    }
    System.err.println(s"[verify] ${failed.size} of ${selected.size} failed" +
      (if (failed.isEmpty) "" else failed.mkString(": ", ", ", "")))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    loop.spark.stop()
  }
}
