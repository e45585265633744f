package perfbench

import java.nio.file.{Files, Path}
import java.util.Locale
import scala.jdk.CollectionConverters._

object Util {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .filterNot(_.getFileName.toString.startsWith("."))
        .map(Files.size).sum
      finally s.close()
    }

  def median(xs: collection.Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Geometric mean: each op weighs the same whatever its length, and the
    * figure does not jump between ops the way a median of a few does.
    */
  def geomean(xs: collection.Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.length)

  /** Nearest-rank percentile (p in 0..100). */
  def percentile(xs: collection.Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1)))
    }

  /** The highest of p50/p75/p90/p95/p99 that leaves at least ten samples
    * above it, with that percentile; (p50 value, 50) when none does.
    */
  def tail(xs: collection.Seq[Double]): (Double, Int) = {
    val n = xs.length
    val p = Seq(99, 95, 90, 75, 50).find(p => n - math.ceil(p / 100.0 * n) >= 10).getOrElse(50)
    (percentile(xs, p), p)
  }

  def now(): Double = System.nanoTime() / 1e9

  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else String.format(Locale.ROOT, "%.6f", Double.box(d))

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  /** Driver JVM peak resident set (VmHWM) in MiB; 0 where /proc is absent. */
  def peakRssMb(): Double =
    try {
      val line = Files.readAllLines(Path.of("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:"))
      line.map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    } catch { case scala.util.control.NonFatal(_) => 0.0 }
}
