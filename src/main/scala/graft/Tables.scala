package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Reader for the driver's synthetic tables (TESTDATA.md).
  *
  * Each table is a single parquet file under the scale-factor dir. At real
  * scale these would be directory-partitioned datasets; the reader is the
  * one place that changes (point it at a partitioned root and Catalyst's
  * partition pruning does the rest).
  *
  * Timestamp normalization (this reader is the ONE place generator schema
  * drift is absorbed):
  *  - INT64 TIMESTAMP(NANOS) (earlier generator): Spark's vectorized
  *    reader rejects it; read as raw Long (legacy.parquet.nanosAsLong, set
  *    in [[Sessions]]) and rebuild with integer `div` (a double division
  *    would lose precision above 2^53 ns).
  *  - TIMESTAMP(MICROS) isAdjustedToUTC=false (current generator): Spark
  *    reads it as TIMESTAMP_NTZ; cast to the session-zone TIMESTAMP
  *    (session zone pinned to UTC in [[Sessions]], so the wall-clock
  *    values are preserved bit-for-bit and match DuckDB's naive read).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** True iff the type contains TimestampNTZ anywhere below the top level. */
  private def hasNestedNtz(dt: DataType): Boolean = dt match {
    case s: StructType => s.fields.exists(f => containsNtz(f.dataType))
    case a: ArrayType  => containsNtz(a.elementType)
    case m: MapType    => containsNtz(m.keyType) || containsNtz(m.valueType)
    case _             => false
  }
  private def containsNtz(dt: DataType): Boolean = dt match {
    case TimestampNTZType => true
    case other            => hasNestedNtz(other)
  }

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    // the NTZ→TIMESTAMP cast below preserves wall-clock values only when
    // the session zone is UTC (Sessions pins it); a drifted config would
    // silently shift every timestamp, so fail loudly instead
    require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
      "Tables requires spark.sql.session.timeZone=UTC (use graft.Sessions)")
    val raw = spark.read.parquet(s"$dir/$name.parquet")
    // only top-level NTZ columns are normalized; a generator that starts
    // emitting NTZ inside structs/arrays/maps must extend this, not slip
    // through half-converted
    raw.schema.fields.foreach { f =>
      require(!hasNestedNtz(f.dataType),
        s"nested TimestampNTZ in $name.${f.name} is not normalized by Tables")
    }
    val df = raw.schema.fields.filter(_.dataType == TimestampNTZType)
      .foldLeft(raw)((d, f) =>
        // backtick-quote: a dotted column name must resolve as the literal
        // top-level column, not as a nested field path
        d.withColumn(f.name, col(s"`${f.name}`").cast("timestamp")))
    df.schema.find(f => f.name == "ts" && f.dataType == LongType) match {
      case Some(_) => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case None => df
    }
  }

  /** Optional JDBC connector (SURVEY §2.1 S7 — the reference reads its
    * tables over JDBC from Postgres; here parquet is the canonical store
    * and JDBC is a source option, with predicate pushdown into the remote
    * DB handled by Spark's JDBC relation).
    */
  def jdbc(spark: SparkSession, url: String, table: String,
           props: Map[String, String] = Map.empty): DataFrame = {
    val p = new java.util.Properties()
    props.foreach { case (k, v) => p.setProperty(k, v) }
    spark.read.jdbc(url, table, p)
  }
}

/** One place for engine SparkSession defaults (scale posture: AQE on,
  * shuffle partitions sized to the local core count — on a real cluster
  * AQE coalesces to data-proportional numbers anyway).
  */
object Sessions {
  def local(cores: String, shufflePartitions: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // respect the advisory partition size when coalescing instead of
      // maximizing parallelism: fewer, right-sized tasks — the
      // production-recommended setting, and on local tiny-SF runs it
      // stops 32-way shuffles of kilobytes
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Release every persistent RDD block still registered in the session —
    * the `localCheckpoint()` materializations the iterative/fan-out
    * operators use for lineage truncation, plus any `persist()`/`cache()`
    * site. Returns the number of RDDs released.
    *
    * Why this exists: checkpoint blocks are only reclaimed when the
    * driver GCs the RDD reference AND the async ContextCleaner processes
    * it — on a large heap the old-gen GC that collects those references
    * can lag MINUTES behind, so a long-lived session running many
    * pipeline stages accumulates every stage's checkpoint blocks in the
    * block manager (memory first, then disk). Round-12's driver bench
    * measured the effect: queries late in a 346-query sweep degraded up
    * to 27× (q_simhash_pairs 0.86 s idle → 23.4 s in-sweep) purely from
    * accumulated block pressure. Call this BETWEEN pipeline stages
    * (never mid-query — a stage's own checkpoints must stay alive while
    * its consumers read them); the in-flight stage recomputes nothing,
    * and the next stage starts against an empty block manager.
    */
  def releaseCheckpointBlocks(spark: SparkSession): Int = {
    val rdds = spark.sparkContext.getPersistentRDDs
    rdds.valuesIterator.foreach(_.unpersist(blocking = false))
    rdds.size
  }

  /** Materialize independent subtrees CONCURRENTLY (optimization guide
    * §2.6: Spark's scheduler happily runs several jobs at once inside
    * one application; actions are only sequential because driver code
    * calls them sequentially). Composite operators whose facets each
    * run a chain of eager actions (localCheckpoints, argmin collects,
    * iterative CC rounds) serialize those chains when built inline —
    * while one facet's 32-task job drains its straggler tail, every
    * other core idles. Running each facet's CONSTRUCTION on its own
    * driver thread lets the next facet's jobs back-fill those gaps;
    * FIFO scheduling gives earlier jobs priority and later jobs the
    * leftovers, which is exactly the back-fill behaviour wanted.
    *
    * Results return in input order and each thunk's result is fully
    * materialized before this returns, so downstream composition (a
    * unionAll of the facet frames, a join of the halves) sees exactly
    * the frames a sequential build would have produced — the plan
    * shape and results are identical, only the wall-clock overlap
    * changes. A failure is rethrown only after EVERY thunk has finished,
    * so no sibling is still running jobs (or reading checkpoint blocks
    * the caller is about to release) when the caller sees it: the first
    * failure in input order is thrown, the others ride along as
    * suppressed exceptions.
    *
    * The pool is a shared daemon cached pool: threads are reused
    * across calls, nothing outlives the JVM, and nesting (a parallel
    * facet that itself calls inParallel) cannot deadlock because the
    * pool is unbounded.
    */
  private lazy val parPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "graft-par")
      t.setDaemon(true)
      t
    })
  def inParallel[A](thunks: (() => A)*): Seq[A] = {
    import java.util.concurrent.Callable
    val futures = thunks.map(t => parPool.submit(new Callable[A] {
      override def call(): A = t()
    }))
    // unwrap ExecutionException so callers see the original failure
    val outcomes = futures.map { f =>
      try Right(f.get())
      catch { case e: java.util.concurrent.ExecutionException => Left(e.getCause) }
    }
    outcomes.collect { case Left(e) => e } match {
      case first +: rest =>
        rest.filterNot(_ eq first).foreach(first.addSuppressed)
        throw first
      case _ => outcomes.collect { case Right(a) => a }
    }
  }
}
