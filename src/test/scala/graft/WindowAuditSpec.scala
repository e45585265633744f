package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-level audit of UNPARTITIONED window sites (`Window.orderBy`
  * with no `partitionBy`): Spark funnels such a window through ONE task,
  * so every site must operate on a frame whose row count is bounded by
  * something other than the data volume — a quantized value grid (1e-4
  * rollups), a calendar (per-day series), a top-k limit, a group
  * dictionary (|nations|/|sources|/|langs|/|strata|), or the numParts-row
  * offset frames inside the range-partitioned two-pass helpers
  * (globalRowNumber / globalPrefixSum(s)). The per-site justification
  * lives in each operator's scaladoc; THIS spec pins the inventory, so
  * adding a new unpartitioned window fails until it is classified here
  * (and removing one prunes the list). giniStump's distinct-n_chars
  * cumulative window — the one data-dependent frame found in the
  * round-12 audit — was rerouted through globalPrefixSums; nothing on
  * this list may regress to a corpus-sized or unbounded-distinct frame.
  */
class WindowAuditSpec extends AnyFunSuite {

  // (file, enclosing def) for every audited-bounded unpartitioned window
  private val allow: Set[(String, String)] = Set(
    // numParts-row offset frames of the two-pass distributed helpers
    ("Relational.scala", "globalRowNumber"),
    ("Relational.scala", "globalPrefixSum"),
    ("Relational.scala", "globalPrefixSums"),
    // 1e-4 value-grid rollups (distinct quantized values, range-bounded)
    ("Events.scala", "ksDriftCore"),
    ("Events.scala", "energyDistanceCore"),
    ("Events.scala", "emdDrift"),
    ("Events.scala", "mannWhitney"),
    ("Events.scala", "logRankTest"),
    ("Events.scala", "kaplanMeier"),
    ("Events.scala", "nelsonAalen"),
    ("Relational.scala", "kruskalWallis"),
    ("Relational.scala", "rollingMedianMadCore"),
    ("Relational.scala", "newsvendor"),
    ("Relational.scala", "vOptimalHistogram"),
    ("Dedup.scala", "dedupSurvivorship"),
    ("Dedup.scala", "isotonicCalibration"),
    ("Dedup.scala", "linkageWeights"),
    ("TextOps.scala", "midrank"),
    ("TextOps.scala", "screenAuc"),
    ("TextOps.scala", "youdenCutoff"),
    ("TextOps.scala", "weightedSampleES"),
    ("TextOps.scala", "negativeSampling"),
    ("TextOps.scala", "zipfSlope"),
    ("TextOps.scala", "dsirSelect"),
    ("Stats.scala", "hurstExponent"),
    // calendar-bounded per-day series (≤ |days in the fixture window|)
    ("Events.scala", "series"),
    ("Events.scala", "sprtMonitor"),
    ("Events.scala", "neymanAllocation"),
    ("Relational.scala", "movingAvgRevenue"),
    ("Relational.scala", "seasonalDecompose"),
    ("Relational.scala", "maseBacktest"),
    ("Relational.scala", "cusumShiftCore"),
    ("Relational.scala", "pageHinkleyCore"),
    ("Relational.scala", "changepoint"),
    ("Relational.scala", "pettittChangepoint"),
    ("Relational.scala", "durbinWatson"),
    ("Relational.scala", "acfLjungBox"),
    ("Relational.scala", "dominantPeriod"),
    ("Relational.scala", "matrixProfile"),
    ("Relational.scala", "theilSenTrend"),
    ("Relational.scala", "runsTest"),
    ("Relational.scala", "hillTail"),
    ("Relational.scala", "lorenzCurve"),
    ("Relational.scala", "basketRules"),
    // top-k / limit-bounded rank frames
    ("TextOps.scala", "hybridRrfTopK"),
    ("TextOps.scala", "rboOverlap"),
    ("TextOps.scala", "ndcgAudit"),
    ("TextOps.scala", "dirichletQlTopK"),
    ("TextOps.scala", "score"),
    ("TextOps.scala", "skylineDocs"),
    ("Similarity.scala", "knnShapley"),
    // group-dictionary-bounded (|nations|/|sources|/|langs|/|configs|)
    ("Relational.scala", "fdrBhNations"),
    ("Dedup.scala", "lshPlannerFromSims"),
    ("TextOps.scala", "giniSources"),
    ("TextOps.scala", "jsdSources"),
    ("TextOps.scala", "sourceInfluence"),
    ("TextOps.scala", "unimaxFrom"),
    ("TextOps.scala", "largestRemainderAllocation"))

  test("every unpartitioned Window.orderBy site is on the audited " +
       "bounded-frame allowlist (and the allowlist carries no dead rows)") {
    val defRe = """\bdef (\w+)""".r
    val found = scala.collection.mutable.Set[(String, String)]()
    def walk(dir: java.io.File): Unit =
      dir.listFiles().foreach { f =>
        if (f.isDirectory) walk(f)
        else if (f.getName.endsWith(".scala")) {
          val lines = {
            val src = scala.io.Source.fromFile(f, "UTF-8")
            try src.getLines().toVector finally src.close()
          }
          lines.zipWithIndex.foreach { case (l, i) =>
            if (l.contains("Window.orderBy")) {
              val enclosing = (i to 0 by -1).iterator
                .flatMap(j => defRe.findFirstMatchIn(lines(j)))
                .map(_.group(1)).nextOption()
              found += ((f.getName, enclosing.getOrElse("<top-level>")))
            }
          }
        }
      }
    walk(new java.io.File("src/main/scala/graft"))
    val unlisted = found.toSet -- allow
    assert(unlisted.isEmpty,
      s"NEW unpartitioned window site(s) — classify the frame bound and " +
        s"allowlist deliberately, or partition the window: $unlisted")
    val stale = allow -- found.toSet
    assert(stale.isEmpty, s"allowlist rows with no matching site: $stale")
  }
}
