package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** One span: a workload pass, an op, an op phase, a Spark job or a
  * streaming micro-batch. Times are epoch milliseconds; `trace` is the id
  * shared by every span of one pass.
  */
final case class Span(id: Int, parent: Int, trace: Int, name: String, kind: String,
                      start: Double, var end: Double,
                      attrs: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap.empty)

/** In-memory span recorder for the client thread. Recording is switched
  * per pass; when off, `span` only runs its body.
  */
final class Tracer {
  private val nano0 = System.nanoTime()
  private val ms0 = System.currentTimeMillis().toDouble
  def nowMs: Double = ms0 + (System.nanoTime() - nano0) / 1e6

  val spans = new ArrayBuffer[Span]
  @volatile var recording = false
  private var trace = 0
  private var stack: List[Span] = Nil

  def beginTrace(): Int = { trace += 1; trace }
  def currentTrace: Int = trace

  def span[A](name: String, kind: String, attrs: (String, Any)*)(body: => A): A =
    if (!recording) body
    else {
      val s = Span(spans.length + 1, stack.headOption.map(_.id).getOrElse(0), trace,
        name, kind, nowMs, 0.0)
      attrs.foreach { case (k, v) => s.attrs(k) = v.toString }
      spans += s
      stack = s :: stack
      try body finally { s.end = nowMs; stack = stack.tail }
    }

  def annotate(k: String, v: Any): Unit = stack.headOption.foreach(_.attrs(k) = v.toString)

  def add(name: String, kind: String, parent: Int, start: Double, end: Double,
          attrs: (String, Any)*): Span = {
    val s = Span(spans.length + 1, parent, trace, name, kind, start, end)
    attrs.foreach { case (k, v) => s.attrs(k) = v.toString }
    spans += s
    s
  }

  /** Innermost recorded span of `kinds` that covers time `t`. */
  def covering(t: Double, kinds: Set[String]): Option[Span] =
    spans.filter(s => kinds(s.kind) && s.start <= t && t <= s.end)
      .sortBy(s => s.end - s.start).headOption

  /** JSON lines, one span each, with self time = duration minus the union
    * of its children's intervals.
    */
  def write(path: Path): Unit = {
    val children = spans.groupBy(_.parent)
    val lines = spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      val self = (s.end - s.start) - Spans.unionLength(kids)
      val attrs = s.attrs.map { case (k, v) => s"${Util.str(k)}:${Util.str(v)}" }.mkString(",")
      s"""{"trace":${s.trace},"id":${s.id},"parent":${s.parent},"kind":${Util.str(s.kind)},""" +
        s""""name":${Util.str(s.name)},"start_ms":${Util.num(s.start)},"end_ms":${Util.num(s.end)},""" +
        s""""dur_ms":${Util.num(s.end - s.start)},"self_ms":${Util.num(math.max(0.0, self))},"attrs":{$attrs}}"""
    }
    Files.createDirectories(path.getParent)
    Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

object Spans {
  /** Total length covered by a set of [start, end] intervals. */
  def unionLength(iv: Iterable[(Double, Double)]): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.filter(x => x._2 > x._1).toSeq.sortBy(_._1).foreach { case (s, e) =>
      if (curE.isNaN || s > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curE.isNaN) total += curE - curS
    total
  }
}

/** Task-level counters gathered from Spark's listener bus. Only the
  * benchmark registers it, and only in a traced run.
  */
final class EngineListener(tracer: Tracer) extends SparkListener {
  final case class Job(id: Int, start: Double, var end: Double, stages: Seq[Int])
  final case class Task(stage: Int, runMs: Long, cpuNs: Long, schedMs: Long,
                        shWriteB: Long, shReadB: Long, shRecords: Long,
                        spillB: Long, failed: Boolean, end: Double)
  val jobs = new ArrayBuffer[Job]
  val tasks = new ArrayBuffer[Task]
  val blocks = new ArrayBuffer[(Double, Long)] // (time, bytes) of stored RDD blocks

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += Job(e.jobId, e.time.toDouble, Double.NaN, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time.toDouble)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val i = e.taskInfo
    val failed = e.reason != org.apache.spark.Success
    if (m == null) tasks += Task(e.stageId, 0, 0, 0, 0, 0, 0, 0, failed, i.finishTime.toDouble)
    else {
      val sched = i.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - i.gettingResultTime
      tasks += Task(e.stageId, m.executorRunTime, m.executorCpuTime, math.max(0L, sched),
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.shuffleWriteMetrics.recordsWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, failed, i.finishTime.toDouble)
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isInstanceOf[RDDBlockId] && b.storageLevel.isValid)
      blocks += ((tracer.nowMs, b.memSize + b.diskSize))
  }

  /** Jobs that started inside [t0, t1]. */
  def jobsIn(t0: Double, t1: Double): Seq[Job] = synchronized {
    jobs.filter(j => j.start >= t0 && j.start <= t1).toSeq
  }
  /** Tasks that finished inside [t0, t1] (by time, not by job: a job that
    * reuses an earlier job's shuffle lists that stage without running it).
    */
  def tasksIn(t0: Double, t1: Double): Seq[Task] = synchronized {
    tasks.filter(t => t.end >= t0 && t.end <= t1).toSeq
  }
  def blockBytesIn(t0: Double, t1: Double): Long = synchronized {
    blocks.filter(b => b._1 >= t0 && b._1 <= t1).map(_._2).sum
  }
}
