package graft
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Bench main (driver contract): times every SparkEntry query at the
  * given SF, one JSON line on stdout. A warmup pass (trivial job + one
  * parquet scan) runs first so the first timed query doesn't absorb JVM/
  * codegen/FileSourceStrategy warmup; queries run in sorted name order
  * for run-to-run comparability.
  *
  * The stdout JSON line is kept under ~1400 chars: the harness that reads
  * it captures only the tail of the process output, and a per-query map
  * over 75+ queries at full double precision overflows that window (the
  * round-1/round-3 bench lines were truncated mid-map and unparseable).
  * So the line carries the headline total plus the slowest queries that
  * fit (3-decimal precision), and the FULL per-query map is written to
  * bench_details.json next to the build for anyone who wants all of it.
  *
  * Session hygiene (round 13): every query's localCheckpoint blocks are
  * explicitly released after each of its runs ([[Sessions.releaseCheckpointBlocks]]).
  * Without this, blocks are reclaimed only by driver GC + the async
  * ContextCleaner, which on a 128 GiB heap lags the sweep by minutes —
  * round-12's driver artifact measured checkpoint-heavy queries late in
  * the alphabetical sweep degrading up to 27× (q_simhash_pairs 0.86 s
  * idle vs 23.4–34.7 s in-sweep) from that accumulated block pressure.
  * The release runs in [[QueryLoop.attempt]], outside the timers.
  *
  * Telemetry (round 13): a SparkListener records per-query shuffle
  * read/write bytes, spill and peak task execution memory, and the
  * residual persistent-RDD block bytes after release — wall-time alone
  * cannot separate "plan regressed" from "session degraded", which cost
  * round 12 a whole investigation. All of it lands in
  * bench_details.json; the stdout line carries a compact `suspect`
  * verdict (spread-jittered and regressed-vs-prior query names) so the
  * artifact reader gets adjudication, not raw spreads.
  */
object Bench {
  /** Fixed-work single-thread CPU canary (~1s on an idle core): a pure-JVM
    * xorshift+mix loop whose cost is constant across rounds, so ambient
    * host load shows up IN the artifact as canary drift. Reader protocol:
    * compare canary_sec across bench files before comparing query times —
    * a "regression" that co-moves with the canary is box noise, not code
    * (round 7's 84.7s-vs-56.9s driver/judge gap would have been
    * self-explaining). Min of 3 runs, same rationale as the query timings.
    */
  def canarySec(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9e3779b97f4a7c15L
      var acc = 0L
      var i = 0
      while (i < 200000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        acc += java.lang.Long.rotateLeft(x * 0xff51afd7ed558ccdL, 31)
        i += 1
      }
      if (acc == 42L) println("") // keep the loop observable to the JIT
      (System.nanoTime() - t0) / 1e9
    }
    once() // warmup: first pass pays JIT compilation, not representative
    Seq(once(), once(), once()).min
  }

  /** Fixed-work PARALLEL canary: one small 32-task shuffle, timed.
    * The single-thread canary reads per-core speed, but the round-11
    * driver artifacts showed multi-JOB queries stalling (13.3s vs 0.75s
    * idle) while the single-thread canary stayed flat — vCPU scheduling
    * starves task parallelism without slowing any one core. Reader
    * protocol: pcanary_max/pcanary co-moving with a query "regression"
    * = host jitter; flat pcanary spread + slow query = real. Both min
    * AND max of 3 are recorded because the spread IS the signal.
    */
  def parallelCanary(spark: SparkSession): (Double, Double) = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 3200000L, 1, 32).selectExpr("id % 9973 AS k")
        .groupBy("k").count().count()
      (System.nanoTime() - t0) / 1e9
    }
    once() // warmup
    val runs = Seq(once(), once(), once())
    (runs.min, runs.max)
  }

  /** Task-metric rollup for the bench sweep. Events arrive async on the
    * listener bus; [[snapshotAfterDrain]] drains the bus before reading
    * so one query's tail isn't attributed to the next.
    */
  private final class Telemetry extends org.apache.spark.scheduler.SparkListener {
    import java.util.concurrent.atomic.AtomicLong
    private val read = new AtomicLong
    private val write = new AtomicLong
    private val spill = new AtomicLong
    private val peak = new AtomicLong
    override def onTaskEnd(
        e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        write.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
        var cur = peak.get()
        while (m.peakExecutionMemory > cur &&
          !peak.compareAndSet(cur, m.peakExecutionMemory)) cur = peak.get()
      }
    }
    /** Drain-then-zero so a prior query's (or the warmup's) async
      * task-end tail can't leak into the next query's counters.
      */
    def reset(spark: SparkSession): Unit = {
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark, 10000L)
      read.set(0); write.set(0); spill.set(0); peak.set(0)
    }
    def snapshotAfterDrain(spark: SparkSession): (Long, Long, Long, Long) = {
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark, 10000L)
      (read.get, write.get, spill.get, peak.get)
    }
  }

  private case class QueryResult(name: String, minSec: Double, ok: Boolean,
                                 maxSec: Double, shuffleReadB: Long,
                                 shuffleWriteB: Long, spillB: Long,
                                 peakTaskMemB: Long, residBlockB: Long,
                                 residRdds: Int, gcSec: Double,
                                 tOffsetSec: Double)

  /** Total JVM GC time so far (all collectors) — per-query deltas
    * separate "the engine was slow" from "the JVM paused the world",
    * which round-13's A/B sweeps showed are episodic and wander between
    * queries run-to-run.
    */
  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** Prior per-query times from the last sweep's details file (if any) —
    * the trailing reference the `suspect.regressed_vs_prior` verdict
    * compares against. Minimal regex parse; absent/unparseable → empty.
    */
  private def priorTimes(path: String): Map[String, Double] =
    try {
      val txt = scala.io.Source.fromFile(path)
      val s = try txt.mkString finally txt.close()
      val qs = """"queries":\{(.*?)\}""".r.findFirstMatchIn(s)
        .map(_.group(1)).getOrElse("")
      """"(q_[A-Za-z0-9_]+)":([0-9.]+)""".r.findAllMatchIn(qs)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    } catch { case NonFatal(_) => Map.empty }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional comma-separated subset for mini-sweep A/B diagnosis —
    // same per-query protocol (warmup, release, telemetry) on a handful
    // of queries, so a sweep-context effect is separable from the query
    val selected = QueryLoop.select(sys.env.get("GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty))
    val prior = priorTimes("bench_details.json")
    val loop = QueryLoop(defaultCpus = 32)
    val spark = loop.spark
    val telemetry = new Telemetry
    spark.sparkContext.addSparkListener(telemetry)
    spark.range(1000000).selectExpr("sum(id)").collect()
    Tables(spark, sfDir, "lineitem").count()
    // steady-state methodology: one untimed warmup (pays one-time
    // codegen/class-load compilation — the JVM, not the engine), then
    // MIN of 3 timed runs. Min, not mean: ambient load on a shared box
    // only ever ADDS time, so the minimum is the least-contaminated
    // estimate of the engine's cost (a round-5 driver artifact recorded
    // 113s for a 32s suite purely from end-of-session load).
    // GRAFT_BENCH_RUNS=1 for the heavy 10x stress gate, where the
    // quadratic-output queries make three passes cost an hour; clamped
    // so a typo'd 0/garbage value can't kill the bench mid-suite
    val nRuns = math.max(1,
      sys.env.get("GRAFT_BENCH_RUNS").flatMap(_.toIntOption).getOrElse(3))
    val sweepT0 = System.nanoTime()
    val results = selected.map { case (name, fn) =>
      val tOff = (System.nanoTime() - sweepT0) / 1e9
      loop.attempt(fn(spark, sfDir).count())
      telemetry.reset(spark)
      val gc0 = gcMillis()
      // a failing query must be distinguishable from a fast one: emit the
      // JSON per-query value as "error" instead of a normal-looking time.
      // The timer stops inside the attempt, so the release is not timed.
      val runs = (1 to nRuns).map { _ =>
        loop.attempt {
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          (System.nanoTime() - t0) / 1e9
        }
      }
      val times = runs.collect { case Right(t) => t }
      val (sr, sw, sp, pk) = telemetry.snapshotAfterDrain(spark)
      // residual persistent-RDD bytes AFTER release: ~0 when the release
      // discipline works, a growing number when it doesn't — the direct
      // measurement of round-12's session-degradation mechanism
      val resid = spark.sparkContext.getRDDStorageInfo
      QueryResult(name, times.minOption.getOrElse(0.0),
        times.size == nRuns, times.maxOption.getOrElse(0.0),
        sr / nRuns, sw / nRuns, sp / nRuns, pk,
        resid.map(r => r.memSize + r.diskSize).sum, resid.length,
        (gcMillis() - gc0) / 1e3, tOff)
    }
    val total = results.filter(_.ok).map(_.minSec).sum
    // top-level error count: a broken run must not look like a fast run
    // to anything that reads only the headline value
    val errors = results.count(!_.ok)
    // timed AFTER the sweep so they read the ambient load the queries saw
    val canary = canarySec()
    val (pcMin, pcMax) = parallelCanary(spark)

    // Locale.ROOT: the f interpolator uses the JVM default locale, which
    // on comma-decimal locales would emit "0,680" and break the JSON
    def fmt(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    def entry(r: QueryResult): String =
      "\"" + r.name + "\":" + (if (r.ok) fmt(r.minSec) else "\"error\"")
    def mb(b: Long): String = fmt(b / 1048576.0)

    // adjudicated suspects (round-12 verdict item: the artifact should
    // carry verdicts, not raw spreads):
    //  - jitter: this sweep's own 3 runs disagree >2x (and >1s) — the
    //    query was disturbed DURING the bench, not regressed
    //  - regressed_vs_prior: min-of-3 more than 2x (+0.5s) the previous
    //    sweep's min for the same query — moved min and max together,
    //    the signature of a real change
    val jitter = results
      .filter(r => r.ok && r.maxSec > 2 * r.minSec && r.maxSec - r.minSec > 1.0)
      .map(_.name)
    val regressed = results
      .filter(r => r.ok && prior.get(r.name).exists(p => r.minSec > 2 * p + 0.5))
      .map(_.name)
    def nameArr(ns: Seq[String]): String =
      ns.map("\"" + _ + "\"").mkString("[", ",", "]")

    // full detail (all queries, name order) → file, plus the per-query
    // min→max run spread and task-metric telemetry
    val fullQs = results.map(entry).mkString("{", ",", "}")
    val spreadQs = results.filter(_.ok)
      .map(r => "\"" + r.name + "\":[" + fmt(r.minSec) + "," + fmt(r.maxSec) + "]")
      .mkString("{", ",", "}")
    val telemQs = results.map { r =>
      "\"" + r.name + "\":{\"shuffle_read_mb\":" + mb(r.shuffleReadB) +
        ",\"shuffle_write_mb\":" + mb(r.shuffleWriteB) +
        ",\"spill_mb\":" + mb(r.spillB) +
        ",\"peak_task_mem_mb\":" + mb(r.peakTaskMemB) +
        ",\"resid_block_mb\":" + mb(r.residBlockB) +
        ",\"resid_rdds\":" + r.residRdds +
        ",\"gc_sec\":" + fmt(r.gcSec) +
        ",\"t_offset_sec\":" + fmt(r.tOffsetSec) + "}"
    }.mkString("{", ",", "}")
    val canaryStr = fmt(canary)
    val pcStr = s""""pcanary_sec":${fmt(pcMin)},"pcanary_max_sec":${fmt(pcMax)}"""
    def suspectStr(cap: Int): String =
      s""""suspect":{"n_jitter":${jitter.size},""" +
        s""""jitter":${nameArr(jitter.take(cap))},""" +
        s""""n_regressed":${regressed.size},""" +
        s""""regressed_vs_prior":${nameArr(regressed.take(cap))},""" +
        s""""prior_known":${prior.nonEmpty},"release_enabled":true}"""
    val full = s"""{"metric":"total","value":$total,"unit":"sec","errors":$errors,"canary_sec":$canaryStr,$pcStr,${suspectStr(Int.MaxValue)},"queries":$fullQs,"run_spread":$spreadQs,"telemetry":$telemQs,"n_queries":${results.size},"sf":"$sfDir"}"""
    try {
      val w = new java.io.PrintWriter("bench_details.json")
      try w.println(full) finally w.close()
    } catch { case NonFatal(_) => () }

    // stdout line: errors first (never drop an "error" marker), then the
    // suspect verdicts, then the slowest queries that fit the budget
    val prefix = s"""{"metric":"total","value":$total,"unit":"sec","errors":$errors,"canary_sec":$canaryStr,$pcStr,${suspectStr(6)},"n_queries":${results.size},"sf":"$sfDir","queries":{"""
    val suffix = "}}"
    val budget = 1400 - prefix.length - suffix.length
    val ranked = results.filter(!_.ok) ++ results.filter(_.ok).sortBy(-_.minSec)
    val kept = new scala.collection.mutable.ListBuffer[String]
    var used = 0
    ranked.foreach { r =>
      val e = entry(r)
      if (used + e.length + 1 <= budget) { kept += e; used += e.length + 1 }
    }
    println(prefix + kept.mkString(",") + suffix)
    spark.stop()
  }
}
