package perfbench

import org.apache.spark.metrics.source.CodegenMetrics

/** Per-layer metrics of a traced run: names, units, and the engine-side
  * figures derived from the benchmark's own listener and Spark's codegen
  * histograms. Workload-side figures (gtfs_load.*, arrivals.*, streams.*,
  * entry.*, sessions.*) are filled into `Pass.stats` by the workloads.
  * Every name is reported on every workload; a layer a workload does not
  * exercise reads 0.
  */
object Layers {
  val perLayer: Seq[String] = Seq(
    "sessions.start_s", "sessions.release_s", "sessions.resid_block_mb",
    "entry.construct_s", "entry.materialize_s", "entry.construct_jobs", "entry.driver_only_s",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.scheduler_delay_s",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.core_util", "spark.max_concurrent_jobs",
    "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.shuffle_records",
    "spark.task_skew_max", "spark.spill_mb", "spark.checkpoint_mb", "spark.failed_tasks",
    "codegen.compile_s", "codegen.classes", "codegen.methods_over_8k",
    "dedup.pair_yield", "jvm.gc_s", "jvm.peak_rss_mb",
    "gtfs_load.first_s", "gtfs_load.append_s", "gtfs_load.noop_reload_s",
    "gtfs_load.rows_per_s", "gtfs_load.write_amp", "gtfs_load.jobs",
    "arrivals.expand_s", "arrivals.rows_per_s", "arrivals.geo_json_s", "arrivals.geo_kept_share",
    "streams.batch_ms", "streams.add_batch_ms", "streams.rows_per_batch", "replay.gen_lag_ms",
    "feed_load_s", "arrivals_window_s", "stream_records_per_s",
    "stream_latency_p50_ms", "stream_latency_tail_ms",
    "query_p50_s", "query_tail_s", "trace.overhead_s")

  def unit(n: String): String = n match {
    case "gtfs_load.rows_per_s" | "arrivals.rows_per_s" | "stream_records_per_s" => "1/s"
    case x if x.endsWith("_ms") => "ms"
    case x if x.endsWith("_s") => "s"
    case x if x.endsWith("_mb") => "MiB"
    case "spark.core_util" | "dedup.pair_yield" | "gtfs_load.write_amp" |
         "arrivals.geo_kept_share" | "spark.task_skew_max" => "ratio"
    case _ => "count"
  }

  /** (classes generated, compilations, reservoir samples of generated
    * methods over 8000 bytecode bytes) — the HotSpot JIT skips methods
    * larger than that, so such generated code runs interpreted.
    */
  def codegenCounts(): (Long, Long, Double, Long) = {
    val ct = CodegenMetrics.METRIC_COMPILATION_TIME
    (CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount, ct.getCount,
      ct.getSnapshot.getMean,
      CodegenMetrics.METRIC_GENERATED_METHOD_BYTECODE_SIZE.getSnapshot.getValues.count(_ > 8000).toLong)
  }

  /** Engine figures of one traced pass, from the listener and the spans. */
  def engine(env: Env, p: Pass, cg0: (Long, Long, Double, Long)): Unit = {
    env.drain()
    val l = env.listener
    val t = env.tracer
    val s = p.stats
    val jobs = l.jobsIn(p.t0, p.t1)
    val tasks = l.tasksIn(p.t0, p.t1 + 1.0)
    s("spark.jobs") = jobs.length
    s("spark.stages") = tasks.map(_.stage).distinct.length
    s("spark.tasks") = tasks.length
    s("spark.failed_tasks") = tasks.count(_.failed)
    s("spark.scheduler_delay_s") = tasks.map(_.schedMs).sum / 1e3
    s("spark.executor_run_s") = tasks.map(_.runMs).sum / 1e3
    s("spark.executor_cpu_s") = tasks.map(_.cpuNs).sum / 1e9
    s("spark.core_util") = s("spark.executor_run_s") / math.max(1e-9, p.wall * env.cores)
    s("spark.shuffle_write_mb") = tasks.map(_.shWriteB).sum / 1048576.0
    s("spark.shuffle_read_mb") = tasks.map(_.shReadB).sum / 1048576.0
    s("spark.shuffle_records") = tasks.map(_.shRecords).sum.toDouble
    s("spark.spill_mb") = tasks.map(_.spillB).sum / 1048576.0
    s("spark.checkpoint_mb") = l.blockBytesIn(p.t0, p.t1) / 1048576.0
    s("spark.task_skew_max") = tasks.groupBy(_.stage).values.filter(_.length >= 4).map { ts =>
      val med = Util.median(ts.map(_.runMs.toDouble))
      if (med < 1.0) 1.0 else ts.map(_.runMs).max / med
    }.foldLeft(1.0)(math.max)
    // peak number of jobs in flight at once (inParallel facets overlap)
    val edges = jobs.flatMap(j => Seq((j.start, 1), (if (j.end.isNaN) p.t1 else j.end, -1)))
      .sortBy(e => (e._1, e._2))
    s("spark.max_concurrent_jobs") = edges.scanLeft(0)(_ + _._2).max
    // pair yield of the dedup ops alone: their result rows over the shuffle
    // records written by tasks that ended inside them
    val dedupOps = t.spans.filter(sp => sp.trace == t.currentTrace && sp.attrs.contains("dedup"))
    if (dedupOps.nonEmpty)
      s("dedup.pair_yield") = s("dedup.result_rows") / math.max(1.0,
        tasks.filter(k => dedupOps.exists(o => k.end >= o.start && k.end <= o.end)).map(_.shRecords).sum.toDouble)

    // jobs as spans under the innermost op/phase span covering their start;
    // driver-only time = op time covered by no job
    val opKinds = Set("op", "phase")
    val jobIv = jobs.map(j => (j.start, if (j.end.isNaN) p.t1 else j.end))
    jobs.foreach { j =>
      val parent = t.covering(j.start, opKinds).orElse(t.covering(j.start, Set("pass")))
      t.add(s"job ${j.id}", "job", parent.map(_.id).getOrElse(0), j.start,
        if (j.end.isNaN) p.t1 else j.end, "stages" -> j.stages.length)
    }
    val ops = t.spans.filter(sp => sp.trace == t.currentTrace && sp.kind == "op")
    s("entry.driver_only_s") = ops.map { o =>
      (o.end - o.start) - Spans.unionLength(jobIv.map { case (a, b) => (math.max(a, o.start), math.min(b, o.end)) })
    }.sum / 1e3
    s("entry.construct_jobs") = t.spans.filter(sp => sp.trace == t.currentTrace && sp.name == "construct")
      .map(c => jobs.count(j => j.start >= c.start && j.start <= c.end)).sum.toDouble
    if (t.spans.exists(sp => sp.trace == t.currentTrace && sp.name.startsWith("loadArchive")))
      s("gtfs_load.jobs") = t.spans.filter(sp => sp.trace == t.currentTrace && sp.name.startsWith("loadArchive"))
        .map(c => jobs.count(j => j.start >= c.start && j.start <= c.end)).sum.toDouble

    val cg1 = codegenCounts()
    s("codegen.classes") = (cg1._1 - cg0._1).toDouble
    s("codegen.compile_s") = (cg1._2 - cg0._2) * cg1._3 / 1e3
    s("codegen.methods_over_8k") = cg1._4.toDouble
  }
}
