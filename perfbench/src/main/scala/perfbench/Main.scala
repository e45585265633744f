package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.Path
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One timed operation of a pass. */
final case class Op(kind: String, name: String, secs: Double, ok: Boolean)

/** One workload pass: its ops, its wall time and per-layer figures. */
final class Pass(val idx: Int, val traced: Boolean) {
  val ops = new ArrayBuffer[Op]
  val stats: mutable.Map[String, Double] = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  var t0: Double = 0.0 // epoch ms
  var t1: Double = 0.0
  def wall: Double = (t1 - t0) / 1e3
}

/** What a workload run shares across its passes. */
final class Env(val seed: Long, val cores: Int, val work: Path,
                val benchDir: Path, val tracer: Tracer) {
  var spark: SparkSession = _
  /** Attached to the engine during traced passes only. */
  val listener = new EngineListener(tracer)
  var attempted = 0L
  var failed = 0L
  val failures = new ArrayBuffer[String]

  /** Runs `body` as one checked operation; NonFatal failures are counted,
    * JVM-fatal errors propagate and abort the run.
    */
  def attempt(what: String)(body: => Boolean): Boolean = {
    attempted += 1
    val ok = try body || { failures += s"$what: wrong result"; false } catch {
      case NonFatal(e) => failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300); false
    }
    if (!ok) failed += 1
    ok
  }

  def drain(): Unit = org.apache.spark.sql.GraftBridge.drainListenerBus(spark, 10000L)
}

trait Workload {
  /** Generates (or reuses) the inputs; runs before any timer. */
  def inputs(env: Env): Unit
  /** Warm-up before the timed passes (it may also check outputs in
    * full); timed in setup_s, not in wall_s.
    */
  def warmup(env: Env): Unit
  def pass(env: Env, p: Pass): Unit
  /** Op kinds whose latency `op_geomean_ms` summarizes: the operation a
    * user of this workload waits on.
    */
  def userOps: Set[String]
  /** Typical length of one timed pass on an idle 4-core machine; a run
    * times seconds / this passes (rounded down, at least one), so the
    * number of passes does not change with the machine's speed.
    */
  def nominalPassSeconds: Double
  /** User-facing figures of this workload for the summary lines. */
  def summary(passes: Seq[Pass]): Seq[(String, Double, String)] = Nil
}

object Main {
  private def arg(args: Array[String], k: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload required"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val trace = arg(args, "--trace").contains("1")
    val cores = arg(args, "--cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())
    val work = Path.of(arg(args, "--work").getOrElse("perfbench/work")).toAbsolutePath
    val benchDir = Path.of(arg(args, "--bench-dir").getOrElse("perfbench")).toAbsolutePath
    val env = new Env(seed, cores, work, benchDir, new Tracer)

    if (workload == "record") { Record.run(env, args); sys.exit(0) }
    if (workload == "prepare") {
      env.spark = graft.Sessions.local(cores.toString, cores.toString)
      Datasets.path(env, "scaled") // the base dataset first, then its clone
      env.spark.stop()
      sys.exit(0)
    }
    val w: Workload = Workloads.byName(workload)

    val phases = new ArrayBuffer[(String, Double)]
    var mark = Util.now()
    def phase(name: String): Double = { val t = Util.now(); val d = t - mark; phases += ((name, d)); mark = t; d }

    // setup_s = the cold set-up a user waits for: JVM start to the first
    // session through Sessions.local, plus the workload's warm-up before
    // the timed passes. Input generation sits between the two, outside
    // every timer. Two more sessions on the running context give the warm
    // session start, sessions.start_s.
    def startSession(): Double = {
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      val t0 = Util.now()
      env.spark = graft.Sessions.local(cores.toString, cores.toString)
      Util.now() - t0
    }
    startSession()
    val toSession = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    phases += (("jvm_to_session_s", toSession))
    mark = Util.now()
    w.inputs(env)
    phase("inputs_s")
    val warmStarts = (1 to 2).map(_ => startSession())
    phase("warm_sessions_s")
    w.warmup(env)
    val setup = toSession + phase("warmup_s")

    // timed passes: a closed loop from this one thread. A traced run
    // alternates untraced and traced passes (at least three) so the tracing
    // overhead is measured within the run; its first pass is left out of
    // that comparison because it still runs code the JIT has not finished.
    // The listener is attached during traced passes only, so untraced
    // passes carry none of its cost.
    val passes = new ArrayBuffer[Pass]
    val nPasses = math.max(if (trace) 3 else 1, (seconds / w.nominalPassSeconds).toInt)
    while (passes.length < nPasses) {
      val p = new Pass(passes.length, traced = trace && passes.length % 2 == 1)
      env.tracer.recording = p.traced
      if (p.traced) {
        env.tracer.beginTrace()
        env.drain() // events of the previous pass must not reach the listener
        env.spark.sparkContext.addSparkListener(env.listener)
      }
      val gc0 = Util.gcSeconds()
      val cg0 = Layers.codegenCounts()
      p.t0 = env.tracer.nowMs
      env.tracer.span(s"$workload#${p.idx}", "pass") { w.pass(env, p) }
      p.t1 = env.tracer.nowMs
      env.tracer.recording = false
      p.stats("jvm.gc_s") = Util.gcSeconds() - gc0
      if (p.traced) {
        Layers.engine(env, p, cg0)
        env.spark.sparkContext.removeSparkListener(env.listener)
      }
      passes += p
    }
    val timed = passes.toSeq
    phase("timed_s")

    val allOps = timed.flatMap(_.ops)
    val userOps = allOps.filter(o => w.userOps(o.kind))
    val e2e = Seq(
      ("setup_s", setup, "s"),
      ("wall_s", Util.median(timed.map(_.wall)), "s"),
      ("op_geomean_ms", Util.geomean(userOps.map(_.secs * 1e3)), "ms"))
    val (tailV, tailP) = Util.tail(userOps.map(_.secs * 1e3))
    val extra = Seq(
      ("failed_op_share", env.failed.toDouble / math.max(1L, env.attempted), "ratio"),
      ("op_p50_ms", Util.median(userOps.map(_.secs * 1e3)), "ms"),
      (s"op_p${tailP}_ms(n=${userOps.length})", tailV, "ms"),
      ("ops_timed", allOps.length.toDouble, "count"),
      ("user_ops_timed", userOps.length.toDouble, "count"),
      ("passes_timed", timed.length.toDouble, "count"),
      ("peak_rss_mb", Util.peakRssMb(), "MiB")) ++ w.summary(timed) ++ phases.map(x => (x._1, x._2, "s"))
    (e2e ++ extra).foreach { case (k, v, u) => println(f"# $k%-26s ${Util.num(v)}%14s $u") }
    env.failures.take(20).foreach(f => println(s"# FAILED $f"))

    val metrics =
      if (!trace) e2e
      else {
        val tracedP = timed.filter(_.traced)
        val untracedP = timed.filter(p => !p.traced && p.idx > 0)
        val names = Layers.perLayer
        val agg = names.map { n =>
          val v = n match {
            case "sessions.start_s" => Util.median(warmStarts)
            case "trace.overhead_s" =>
              Util.median(tracedP.map(_.wall)) - Util.median(untracedP.map(_.wall))
            case "jvm.peak_rss_mb" => Util.peakRssMb()
            case _ => Util.median(tracedP.map(_.stats(n)))
          }
          (n, v, Layers.unit(n))
        }
        val out = env.work.resolve("spans").resolve(s"$workload-seed$seed.jsonl")
        env.tracer.write(out)
        println(s"# spans written to ${env.work.getParent.getParent.relativize(out)}")
        agg.foreach { case (k, v, u) => println(f"# $k%-28s ${Util.num(v)}%14s $u") }
        agg
      }
    val ms = metrics.map { case (k, v, u) => s"${Util.str(k)}:{\"value\":${Util.num(v)},\"unit\":${Util.str(u)}}" }
    println(s"""{"correct":${env.failed == 0},"attempted":${env.attempted},"failed":${env.failed},"metrics":{${ms.mkString(",")}}}""")
    System.out.flush()
    env.spark.stop()
    // engine thread pools that are not daemons would otherwise keep the
    // JVM alive until their keep-alive timeout
    sys.exit(0)
  }
}

object Workloads {
  def byName(name: String): Workload = name match {
    case "gtfs_feed" => new GtfsWorkload
    case "queries" => new QueryWorkload(
      QueryLists.analystShort.map(("base", _)) ++ QueryLists.dedupHeavy.map(("base", _)) ++
        QueryLists.dedupScaled.map(("scaled", _)),
      dedupOps = (QueryLists.dedupHeavy ++ QueryLists.dedupScaled).toSet, nominalPassSeconds = 12)
    case other => sys.error(s"unknown workload $other")
  }
}

/** Runs named `SparkEntry.queries`, each on one of the generated datasets;
  * `dedupOps` are the queries whose result rows count in `dedup.pair_yield`.
  */
final class QueryWorkload(queries: Seq[(String, String)], dedupOps: Set[String],
                          val nominalPassSeconds: Double) extends Workload {
  val userOps = Set("query")
  private var dirs: Map[String, String] = Map.empty
  private var expected: Map[(String, String), Fingerprint] = Map.empty

  def inputs(env: Env): Unit = {
    dirs = queries.map(_._1).distinct.map(d => d -> Datasets.path(env, d).toString).toMap
    expected = Check.load(env.benchDir.resolve("expected.tsv"))
    require(queries.forall(q => graft.SparkEntry.queries.contains(q._2)), "unknown query in list")
  }

  private def order(env: Env, salt: Int): Seq[(String, String)] =
    new scala.util.Random(env.seed * 1000003L + salt).shuffle(queries)

  private def label(ds: String, q: String) = if (ds == "base") q else s"$q@$ds"

  def warmup(env: Env): Unit = order(env, -1).foreach { case (ds, q) =>
    env.attempt(s"${label(ds, q)} (content)") {
      val exp = expected.get((ds, q))
      val fp = Check.fingerprint(graft.SparkEntry.queries(q)(env.spark, dirs(ds)))
      if (exp.isEmpty) println(s"# no expectation recorded for $ds/$q: ${fp.tsv}")
      exp.exists(fp.matches)
    }
    graft.Sessions.releaseCheckpointBlocks(env.spark)
  }

  def pass(env: Env, p: Pass): Unit = {
    val t = env.tracer
    order(env, p.idx).foreach { case (ds, q) =>
      val dir = dirs(ds)
      var secs = 0.0
      val ok = env.attempt(label(ds, q)) {
        t.span(label(ds, q), "op", "dataset" -> ds) {
          val t0 = Util.now()
          val df = t.span("construct", "phase")(graft.SparkEntry.queries(q)(env.spark, dir))
          val t1 = Util.now()
          val n = t.span("materialize", "phase")(df.count())
          val t2 = Util.now()
          secs = t2 - t0
          p.stats("entry.construct_s") += t1 - t0
          p.stats("entry.materialize_s") += t2 - t1
          t.annotate("rows", n)
          if (dedupOps(q)) {
            p.stats("dedup.result_rows") += n.toDouble
            t.annotate("dedup", true)
          }
          expected.get((ds, q)).exists(_.rows == n)
        }
      }
      p.ops += Op("query", label(ds, q), secs, ok)
      val (_, rel) = Util.time(t.span("release", "phase")(graft.Sessions.releaseCheckpointBlocks(env.spark)))
      p.stats("sessions.release_s") += rel
      val resid = env.spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0
      p.stats("sessions.resid_block_mb") = math.max(p.stats("sessions.resid_block_mb"), resid)
    }
    val lat = p.ops.map(_.secs)
    p.stats("query_p50_s") = Util.median(lat)
    p.stats("query_tail_s") = Util.tail(lat)._1
  }

  override def summary(passes: Seq[Pass]): Seq[(String, Double, String)] = {
    val lat = passes.flatMap(_.ops).map(_.secs)
    val (tv, tp) = Util.tail(lat)
    Seq(("query_p50_s", Util.median(lat), "s"), (s"query_tail_s(p$tp,n=${lat.length})", tv, "s"))
  }
}

/** Generated datasets, cached inside the work directory. */
object Datasets {
  val base = TableGen.Sizes(customers = 3000, suppliers = 200, parts = 4000, orders = 30000,
    lineitems = 120000, events = 20000, users = 300, documents = 1000, embeddings = 1000)
  val dataSeed = 42L
  val scaledCopies = 3

  def path(env: Env, name: String): Path = {
    val root = env.work.resolve("data")
    val b = TableGen.cached(root.resolve(s"base-${base.key}-s$dataSeed"))(
      TableGen.write(env.spark, _, base, dataSeed))
    name match {
      case "base" => b
      case "scaled" => TableGen.cached(root.resolve(s"scaleup$scaledCopies-${base.key}-s$dataSeed"))(
        scaleUp(b, _, scaledCopies))
    }
  }

  /** Runs `graft.ScaleUp src dst copies` in a JVM of its own, started with
    * this JVM's flags and classpath; its log goes to stderr.
    */
  private def scaleUp(src: Path, dst: Path, copies: Int): Unit = {
    val javaBin = ProcessHandle.current().info().command().orElse("java")
    val flags = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(_.startsWith("-Xm"))
    val cmd = Seq(javaBin) ++ flags ++ Seq("-Xmx2g", "-cp", System.getProperty("java.class.path"),
      "graft.ScaleUp", src.toString, dst.toString, copies.toString)
    val proc = new ProcessBuilder(cmd.asJava)
      .redirectOutput(ProcessBuilder.Redirect.DISCARD)
      .redirectError(ProcessBuilder.Redirect.INHERIT).start()
    val code = proc.waitFor()
    require(code == 0, s"graft.ScaleUp exited with code $code")
  }
}

/** Writes expected.tsv lines (and a timing survey) for named queries:
  * `record --dataset base [--queries q1,q2]` (all queries when omitted).
  */
object Record {
  def run(env: Env, args: Array[String]): Unit = {
    val ds = args.sliding(2).collectFirst { case Array("--dataset", v) => v }.getOrElse("base")
    val names = args.sliding(2).collectFirst { case Array("--queries", v) => v.split(",").toSeq }
      .getOrElse(graft.SparkEntry.queries.keys.toSeq.sorted)
    env.spark = graft.Sessions.local(env.cores.toString, env.cores.toString)
    val dir = Datasets.path(env, ds).toString
    names.foreach { q =>
      try {
        val fn = graft.SparkEntry.queries(q)
        fn(env.spark, dir).count()
        graft.Sessions.releaseCheckpointBlocks(env.spark)
        val (n, secs) = Util.time(fn(env.spark, dir).count())
        graft.Sessions.releaseCheckpointBlocks(env.spark)
        val fp = Check.fingerprint(fn(env.spark, dir))
        graft.Sessions.releaseCheckpointBlocks(env.spark)
        println(s"$ds\t$q\t${fp.tsv}\t#\t${Util.num(secs)}\t$n")
      } catch { case NonFatal(e) => println(s"# $q failed: ${e.getMessage}".take(200)) }
      System.out.flush()
    }
    env.spark.stop()
  }
}
