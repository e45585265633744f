package perfbench

import org.apache.spark.sql.{DataFrame, Row}

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Order-insensitive fingerprint of a query result: row count, the sum of
  * per-row 64-bit hashes over every non-floating-point value (columns in
  * name order, so a reordered projection still matches), and the sum of
  * all floating-point values, compared with a relative tolerance because
  * a different core count may merge partial sums in another order.
  */
final case class Fingerprint(rows: Long, hash: Long, fsum: Double) {
  def matches(o: Fingerprint): Boolean =
    rows == o.rows && hash == o.hash &&
      math.abs(fsum - o.fsum) <= 1e-6 * math.max(1.0, math.abs(o.fsum))
  def tsv: String = s"$rows\t$hash\t${java.lang.Double.toString(fsum)}"
}

object Check {
  def fingerprint(df: DataFrame): Fingerprint = {
    val order = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    var rows = 0L; var hash = 0L; var fsum = 0.0
    df.collect().foreach { r =>
      rows += 1
      val sb = new StringBuilder
      order.foreach { i => fsum += render(r.get(i), sb); sb.append('\u0001') }
      hash += mix(sb.toString)
    }
    Fingerprint(rows, hash, fsum)
  }

  /** Appends the exact part of `v` to `sb`; returns its floating-point sum. */
  private def render(v: Any, sb: StringBuilder): Double = v match {
    case null => sb.append("∅"); 0.0
    case d: Double => sb.append('f'); if (d.isNaN || d.isInfinite) 0.0 else d
    case f: Float => sb.append('f'); if (f.isNaN || f.isInfinite) 0.0 else f.toDouble
    case r: Row =>
      sb.append('('); var s = 0.0
      (0 until r.length).foreach { i => s += render(r.get(i), sb); sb.append(',') }
      sb.append(')'); s
    case m: scala.collection.Map[_, _] =>
      // map entry order is not part of the value
      val parts = m.toSeq.map { case (k, x) =>
        val b = new StringBuilder; val s = render(k, b) + render(x, b); (b.toString, s)
      }.sortBy(_._1)
      sb.append(parts.map(_._1).mkString("{", ";", "}")); parts.map(_._2).sum
    case xs: scala.collection.Seq[_] =>
      sb.append('['); var s = 0.0
      xs.foreach { x => s += render(x, sb); sb.append(',') }
      sb.append(']'); s
    case b: Array[Byte] => sb.append(java.util.Base64.getEncoder.encodeToString(b)); 0.0
    case d: java.math.BigDecimal => sb.append(d.stripTrailingZeros.toPlainString); 0.0
    case other => sb.append(other.toString); 0.0
  }

  private def mix(s: String): Long = {
    val b = s.getBytes(StandardCharsets.UTF_8)
    var h = 0xcbf29ce484222325L
    b.foreach { x => h ^= (x & 0xff); h *= 0x100000001b3L }
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
    h
  }

  /** expected.tsv: dataset, query, rows, hash, float sum. */
  def load(path: Path): Map[(String, String), Fingerprint] =
    if (!Files.exists(path)) Map.empty
    else Files.readAllLines(path).asScala.filterNot(l => l.isBlank || l.startsWith("#")).map { l =>
      val a = l.split('\t')
      (a(0), a(1)) -> Fingerprint(a(2).toLong, a(3).toLong, a(4).toDouble)
    }.toMap
}
