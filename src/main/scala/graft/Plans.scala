package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Dev tool: dump `.explain("formatted")` for named SparkEntry queries into
  * `<outDir>/<query>_<tag>.txt` — the optimization rounds' plan evidence
  * (`plans/r13/<query>_before.txt` / `..._after.txt`).
  *
  * Usage: `runMain graft.Plans <sfDir> <outDir> <tag> [query ...]`
  * (no query names = every declared query). Plans are pre-execution, so
  * AQE nodes print `isFinalPlan=false`; Exchange count, join strategy and
  * PushedFilters/ReadSchema — the facts the round doc cites — are all
  * visible at this stage.
  */
object Plans {
  /** The formatted plan of `df` with each `#<n>` expression id and each
    * `plan_id=<n>` exchange id renumbered by order of first appearance (a
    * type suffix such as `L` stays), so two builds of one query dump the
    * same text: both ids come from JVM-wide counters that every earlier
    * or concurrent build advances.
    */
  def dump(df: DataFrame): String =
    Seq("#", "plan_id=").foldLeft(
      df.queryExecution.explainString(ExplainMode.fromString("formatted"))) {
      (text, prefix) =>
        val ids = scala.collection.mutable.Map.empty[String, Int]
        (java.util.regex.Pattern.quote(prefix) + "(\\d+)").r.replaceAllIn(text,
          m => prefix + ids.getOrElseUpdate(m.group(1), ids.size))
    }

  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println("usage: runMain graft.Plans <sfDir> <outDir> <tag> [query ...]")
      sys.exit(2)
    }
    val Array(sfDir, outDir, tag) = args.take(3)
    val selected = QueryLoop.select(args.drop(3).toSet)
    val loop = QueryLoop(defaultCpus = 32)
    new java.io.File(outDir).mkdirs()
    selected.foreach { case (name, fn) =>
      loop.attempt(Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"),
        dump(fn(loop.spark, sfDir)))) match {
        case Right(_) => println(s"[plans] wrote ${name}_$tag.txt")
        case Left(e) => System.err.println(s"[plans] $name failed: ${e.getMessage}")
      }
    }
    loop.spark.stop()
  }
}
