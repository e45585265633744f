package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** The query loop every harness main (`Bench`, `Verify`, `Plans`) runs:
  * select queries by name, build each one inside an [[attempt]], and
  * release checkpoint blocks after every attempt, so a failed query
  * leaves no block pressure to the next one. Failures are caught with
  * `NonFatal` only: an OOM ends the run instead of being logged away as
  * a per-query failure on a damaged JVM.
  */
final class QueryLoop(val spark: SparkSession) {
  private var releases = 0

  /** Runs `body` once and returns its value, or the `NonFatal` failure
    * it threw; either way the checkpoint blocks it left are released.
    */
  def attempt[A](body: => A): Either[Throwable, A] = {
    val result = try Right(body) catch { case NonFatal(e) => Left(e) }
    release()
    result
  }

  /** Frees checkpoint blocks, and every 16th release nudges a driver
    * GC: shuffle files and broadcast pieces are only reclaimed when the
    * ContextCleaner's weak references die, and a 96 GiB heap can go a
    * whole sweep without an old-gen GC (Spark ships
    * spark.cleaner.periodicGC.interval=30min for exactly this; a
    * 352-query sweep wants it denser).
    */
  private def release(): Unit = {
    Sessions.releaseCheckpointBlocks(spark)
    releases += 1
    if (releases % 16 == 0) System.gc()
  }
}

object QueryLoop {
  type Query = (SparkSession, String) => DataFrame

  /** A loop over a local session of `SPARK_GRAFT_CPUS` cores, or
    * `defaultCpus` when that is unset.
    */
  def apply(defaultCpus: Int): QueryLoop = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    new QueryLoop(Sessions.local(cpus, cpus))
  }

  /** The named [[SparkEntry.queries]] in name order (all of them when
    * `only` is empty). An unknown name fails here, before any session
    * or query starts.
    */
  def select(only: Set[String]): Seq[(String, Query)] = {
    val unknown = only.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty,
      s"unknown query: ${unknown.toSeq.sorted.mkString(", ")} (see SparkEntry.queries)")
    SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
      .sortBy(_._1)
  }
}
