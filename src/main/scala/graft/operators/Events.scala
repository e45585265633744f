package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-table operators: the batch twins of the streaming surface
  * (SURVEY.md §2.14 + §7.4 extensions). Each has a Structured Streaming
  * counterpart in graft.streaming that shares the same column logic —
  * batch here is what the oracle can check.
  */
object Events {

  /** Tumbling-window aggregation (window() generator): hourly counts and
    * value sums per event type. In streaming this is
    * `withWatermark("ts","1 hour").groupBy(window($"ts","1 hour"), ...)`.
    */
  def hourlyTypeCounts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "events")
      .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
      .agg(count(lit(1)).as("n_events"), Relational.moneySum($"value").as("sum_value"))
      .select(date_format($"w.start", "yyyy-MM-dd HH:00").as("hour"),
        $"event_type", $"n_events", $"sum_value")
      .orderBy($"hour", $"event_type")
  }

  /** Gap-based sessionization (session_window analog, computed with lag +
    * running sum so the oracle can mirror it): a new session starts after
    * a >30 min silence per user. Exact integer math on microseconds.
    */
  def userSessions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts")
    val gapUs = 30L * 60 * 1000000
    Tables(s, dir, "events")
      .withColumn("prev_us", lag(unix_micros($"ts"), 1).over(w))
      .withColumn("new_session",
        when($"prev_us".isNull || unix_micros($"ts") - $"prev_us" > gapUs, 1L).otherwise(0L))
      .groupBy($"user_id")
      .agg(sum($"new_session").as("n_sessions"),
        count(lit(1)).as("n_events"),
        Relational.moneySum($"value").as("sum_value"))
      .orderBy($"user_id")
  }

  /** The remaining SQL window-function surface in one pass: lag/lead
    * neighbors, percent_rank, cume_dist, and nth_value over each user's
    * purchase history. One hash-partitioned sort per user — the window
    * frame never leaves its partition, so the operator scales with the
    * per-user history length, not the corpus. Tie-broken on (ts,
    * event_id) so rank-based results are engine-independent; the ratio
    * functions divide the same integers in both engines, so even the
    * doubles compare hash-exact.
    */
  def valueWindowFuncs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables(s, dir, "events")
      .filter($"event_type" === "purchase")
      .select($"user_id", $"event_id", $"value",
        lag($"value", 1).over(w).as("prev_value"),
        lead($"value", 1).over(w).as("next_value"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"),
        nth_value($"value", 2).over(w).as("second_value"),
        $"ts")
      .orderBy($"user_id", $"ts", $"event_id")
      .drop($"ts")
  }

  /** Interval-overlap join with NO equi-key, banded so it never plans as
    * a nested loop: user sessions (gap-30-min intervals, same definition
    * as [[userSessions]]) against global outage windows (hours whose
    * error count reaches `errPerHour` — no user column at all), reporting
    * per overlapping session the window count and the exact overlap in
    * microseconds.
    *
    * Left to Spark, `a.start < b.end AND b.start <= a.end` is a
    * BroadcastNestedLoopJoin — every session against every window, the
    * O(n·m) shape that dies first at scale. The banded form (documented
    * as "the banded twin" at [[Relational.attributionRangeJoin]], now
    * implemented) makes it an equi-join: each session explodes to the
    * hour buckets it touches (bounded by session duration — gap
    * sessionization keeps these short), each hour-aligned window sits in
    * exactly its own bucket, so `join on hour` finds every overlapping
    * pair exactly once and the shuffle is hash-partitioned, AQE-sized,
    * and skew-splittable like any other equi-join. The residual interval
    * predicate stays for the general (non-aligned-window) case, where
    * banding over-generates by at most one bucket per side. Overlap is
    * summed in integer microseconds — exact and associative under
    * partial aggregation.
    */
  def sessionOutageOverlap(s: SparkSession, dir: String,
                           errPerHour: Long = 8): DataFrame = {
    import s.implicits._
    val hourUs = 3600L * 1000000
    val gapUs = 30L * 60 * 1000000
    val ev = Tables(s, dir, "events").withColumn("us", unix_micros($"ts"))
    val outages = ev.filter($"event_type" === "error")
      .groupBy(expr(s"us div $hourUs").as("hour"))
      .agg(count(lit(1)).as("n_errors"))
      .filter($"n_errors" >= errPerHour)
      .select($"hour", ($"hour" * hourUs).as("w_start"),
        (($"hour" + 1) * hourUs).as("w_end"))
    val w = Window.partitionBy($"user_id").orderBy($"us")
    val sess = ev
      .withColumn("prev_us", lag($"us", 1).over(w))
      .withColumn("new_session",
        when($"prev_us".isNull || $"us" - $"prev_us" > gapUs, 1L).otherwise(0L))
      .withColumn("sid", sum($"new_session").over(w))
      .groupBy($"user_id", $"sid")
      .agg(min($"us").as("s_start"), max($"us").as("s_end"))
    val banded = sess.withColumn("hour",
      explode(sequence(expr(s"s_start div $hourUs"), expr(s"s_end div $hourUs"))))
    banded.join(outages, Seq("hour"))
      .filter($"s_start" < $"w_end" && $"w_start" <= $"s_end")
      .groupBy($"user_id", $"s_start")
      .agg(count(lit(1)).as("n_outage_windows"),
        sum(least($"s_end", $"w_end") - greatest($"s_start", $"w_start"))
          .as("overlap_us"))
      .select($"user_id", $"s_start".as("session_start_us"),
        $"n_outage_windows", $"overlap_us")
      .orderBy($"user_id", $"session_start_us")
  }

  /** Pivot: one column per event type, daily counts (explicit value list
    * keeps the output schema static — at scale an inferred pivot would
    * need an extra distinct pass).
    */
  def dailyTypePivot(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "events")
      .select(to_date($"ts").as("day"), $"event_type")
      .groupBy($"day")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy($"day")
  }

  /** Exact percentiles of value per event type (sort-based `percentile`,
    * linear interpolation — matches quantile_cont).
    */
  def valuePercentiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "events")
      .groupBy($"event_type")
      .agg(
        percentile($"value", lit(0.25)).as("p25"),
        percentile($"value", lit(0.5)).as("p50"),
        percentile($"value", lit(0.75)).as("p75"),
        percentile($"value", lit(0.9)).as("p90"))
      .orderBy($"event_type")
  }

  /** Acceptance audit for the GK-sketch approximate quantiles: for each
    * event type and p ∈ {.25,.5,.75,.95}, `percentile_approx` at
    * accuracy 100 must land within the algorithm's guaranteed rank band
    * rank(approx) ∈ [(p−ε)·n, (p+ε)·n], ε = 1/accuracy — checked
    * exactly by counting values strictly below / at-or-below the
    * estimate. The bound survives partial-aggregate merges, so the ok
    * flags are deterministically true at any parallelism — which is
    * what makes an engine-specific sketch oracle-checkable (same
    * pattern as the ANN recall@k audit). The sketch, not the exact
    * sort, is the 100 TB path: constant memory per group.
    */
  def approxQuantileAudit(s: SparkSession, dir: String,
                          accuracy: Int = 100): DataFrame = {
    import s.implicits._
    val ps = Seq(0.25, 0.5, 0.75, 0.95)
    val eps = 1.0 / accuracy
    val apx = Tables(s, dir, "events")
      .groupBy($"event_type")
      .agg(percentile_approx($"value", array(ps.map(lit): _*), lit(accuracy)).as("apx"))
    // ONE audit pass: the wide sketch row broadcasts per type (no 4×
    // row multiplication from a long-form join) and every percentile's
    // rank counts ride the same map-side-combined aggregation as
    // conditional sums; the per-p rows only materialize after the
    // aggregate, |types|×4 of them
    val rankCols = ps.indices.flatMap { i =>
      val a = element_at($"apx", i + 1)
      Seq(sum(when($"value" < a, 1L).otherwise(0L)).as(s"lt$i"),
        sum(when($"value" <= a, 1L).otherwise(0L)).as(s"le$i"))
    } :+ count(lit(1)).as("n")
    val oks = ps.zipWithIndex.map { case (p, i) =>
      struct(lit(p).as("p"),
        (col(s"lt$i") <= ceil(($"n" * lit(p + eps))) &&
          col(s"le$i") >= floor(($"n" * lit(p - eps)))).as("ok"))
    }
    Tables(s, dir, "events")
      .join(broadcast(apx), Seq("event_type"))
      .groupBy($"event_type")
      .agg(rankCols.head, rankCols.tail: _*)
      .select($"event_type", explode(array(oks: _*)).as("e"))
      .select($"event_type", $"e.p".as("p"), $"e.ok".as("ok"))
      .orderBy($"event_type", $"p")
  }

  /** Daily event-count anomaly scores per type: z-score of each day's
    * count against that type's own distribution. Variance comes from
    * EXACT integer sums (Σn, Σn², N — associative longs), not a
    * stddev_samp of doubles whose partial-merge order varies by engine
    * and parallelism: with identical integer inputs, both sides of the
    * oracle compute bit-identical doubles. The anomaly flag compares
    * the ROUNDED score so the cutoff decision is reproducible too.
    * This is the batch twin of a streaming monitoring query (windowed
    * count → score against a broadcast baseline).
    */
  def dailyAnomalies(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = Tables(s, dir, "events")
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(count(lit(1)).as("n"))
    val stats = daily.groupBy($"event_type")
      .agg(sum($"n").as("sn"), sum($"n" * $"n").as("sn2"),
        count(lit(1)).as("nd"))
    daily.join(broadcast(stats), Seq("event_type"))
      .withColumn("mean", $"sn".cast("double") / $"nd")
      .withColumn("variance",
        ($"sn2".cast("double") - $"sn".cast("double") * $"sn" / $"nd") /
          ($"nd" - 1))
      .withColumn("z", round(($"n" - $"mean") / sqrt($"variance"), 4))
      .select($"event_type", $"day", $"n", $"z",
        (abs($"z") >= 2.0).as("anomaly"))
      .orderBy($"event_type", $"day")
  }

  /** Weekday seasonality profile: per (event_type, ISO weekday) the
    * event count and its share of the type's volume in exact basis
    * points — the baseline [[dailyAnomalies]]' z-scores implicitly
    * assume away (a Monday spike is only an anomaly against MONDAYS if
    * traffic is weekly-seasonal; this is the one-screen check). Uses
    * the engine's Monday=0 weekday convention (`functions.dates`); the
    * share is an integer floor division, so the profile is hash-exact.
    */
  def weekdayProfile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val byDow = Tables(s, dir, "events")
      .groupBy($"event_type",
        graft.functions.dates.weekdayIndex(to_date($"ts")).as("weekday"))
      .agg(count(lit(1)).as("n"))
    val totals = byDow.groupBy($"event_type").agg(sum($"n").as("tot"))
    byDow.join(broadcast(totals), Seq("event_type"))
      .select($"event_type", $"weekday".cast("int").as("weekday"), $"n",
        expr("n * 10000 div tot").as("share_bp"))
      .orderBy($"event_type", $"weekday")
  }

  /** First-order Markov transition matrix over per-user event sequences:
    * counts and conditional probabilities of event_type → next
    * event_type. One lag window per user (total order on (ts, event_id)
    * — same tie-break discipline as the decile order key) feeding a
    * map-side-combined groupBy; the matrix itself is |types|² — constant
    * size at any event volume. Probabilities divide exact integer
    * counts, so both oracle sides compute identical doubles.
    */
  def typeTransitions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val pairs = Tables(s, dir, "events")
      .select($"user_id", $"event_type", $"ts", $"event_id")
      .withColumn("next_type", lead($"event_type", 1).over(w))
      .filter($"next_type".isNotNull)
      .groupBy($"event_type".as("from_type"), $"next_type".as("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = Window.partitionBy($"from_type")
    pairs
      .withColumn("prob",
        round($"n".cast("double") / sum($"n").over(totals), 4))
      .orderBy($"from_type", $"to_type")
  }

  /** Stationary distribution of the [[typeTransitions]] Markov chain —
    * where the event process SPENDS ITS TIME in the long run, the
    * capacity-planning number the raw transition matrix only implies.
    * States are the types observed as a transition SOURCE; transitions
    * into anything else are dropped so the chain is closed (both
    * engines state the same restriction). Arithmetic is exact end to
    * end: row probabilities are ppm floors of integer counts, π starts
    * uniform (10⁶ div k), and each of the `iters` power rounds is
    * π'_j = (Σᵢ πᵢ·p_ppm(i,j)) div 10⁶ — one floor AFTER the sum, so
    * the whole trajectory is an integer sequence both engines replay
    * bit-for-bit (the oracle unrolls the rounds as generated CTEs).
    * The matrix is |types|²-bounded (audit-sized): the fold runs
    * driver-side while the event scan underneath distributes. The
    * empirical source share ships alongside — π far from it means the
    * chain has not mixed or the process is far from stationary.
    */
  def markovStationary(s: SparkSession, dir: String,
                       iters: Int = 20): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val counts = Tables(s, dir, "events")
      .select($"user_id", $"event_type", $"ts", $"event_id")
      .withColumn("next_type", lead($"event_type", 1).over(w))
      .filter($"next_type".isNotNull)
      .groupBy($"event_type".as("from_type"), $"next_type".as("to_type"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val states = counts.map(_._1).distinct.sorted
    val closed = counts.filter(c => states.contains(c._2))
    val outTot = closed.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val pPpm = closed.map { case (f, t, n) =>
      (f, t) -> n * 1000000L / outTot(f)
    }.toMap
    val k = states.length.toLong
    var pi = states.map(_ -> 1000000L / k).toMap
    for (_ <- 1 to iters) {
      pi = states.map { j =>
        j -> states.map(i =>
          pi(i) * pPpm.getOrElse((i, j), 0L)).sum / 1000000L
      }.toMap
    }
    val fromTotAll = counts.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val grand = fromTotAll.values.sum
    val rows = states.map(t =>
      (t, fromTotAll(t), fromTotAll(t) * 1000000L / grand, pi(t)))
    s.createDataFrame(s.sparkContext.parallelize(rows, 1))
      .toDF("event_type", "n_out", "emp_share_ppm", "pi_ppm")
      .orderBy($"event_type")
  }

  /** Wald SPRT monitor on the daily purchase share of events —
    * the SEQUENTIAL test that is allowed to peek: each day adds its
    * exact binomial log-likelihood-ratio increment for H1 "the rate
    * lifted 10% over the series' own pooled rate" vs H0 "it didn't",
    * and the cumulative LLR walks between the ±ln 19 bounds (α=β=0.05)
    * until one is crossed — unlike the fixed-horizon z-tests in this
    * suite, early stopping here costs no validity. Run self-calibrated
    * (H0 = the pooled rate), it is an A/A-style drift monitor: a
    * crossing means the rate MOVED within the window. Exactness: pooled
    * and lifted rates are integer bp, the two per-event log terms are
    * fixed-shape 1e-6-rounded lns of those bp ratios (the
    * linkageWeights rounded-transcendental discipline), everything
    * after is integer sums over the calendar-bounded day rollup.
    */
  def sprtMonitor(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = Tables(s, dir, "events")
      .groupBy(to_date($"ts").as("day"))
      .agg(count(lit(1)).as("trials"),
        sum(when($"event_type" === "purchase", 1L).otherwise(0L))
        .as("successes"))
      .localCheckpoint() // pooled rate and the walk both read it
    val pooled = daily.agg(
      expr("sum(successes) * 10000 div sum(trials)").as("p0_bp"))
      .withColumn("p1_bp", expr("p0_bp * 11 div 10"))
      // degenerate pooled rates (p0 = 0 → ln NaN; p1 ≥ 10000 → ln of a
      // non-positive ratio) emit NULL explicitly on BOTH engines —
      // Spark's non-ANSI cast would otherwise silently map NaN/-Inf
      // where DuckDB's CAST raises
      .withColumn("lw_u", when($"p0_bp" > 0L && $"p1_bp" < 10000L,
        round(log($"p1_bp".cast("double") /
          $"p0_bp".cast("double")) * 1e6).cast("long")))
      .withColumn("ll_u", when($"p0_bp" > 0L && $"p1_bp" < 10000L,
        round(log((lit(10000L) - $"p1_bp").cast("double") /
          (lit(10000L) - $"p0_bp").cast("double")) * 1e6).cast("long")))
    val bound = 2944439L // round(ln 19 · 1e6): α = β = 0.05
    val cum = Window.orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.crossJoin(broadcast(pooled))
      .withColumn("llr_day_u",
        $"successes" * $"lw_u" + ($"trials" - $"successes") * $"ll_u")
      .withColumn("llr_cum_u", sum($"llr_day_u").over(cum))
      .select($"day", $"trials", $"successes", $"p0_bp", $"p1_bp",
        $"llr_day_u", $"llr_cum_u",
        when($"llr_cum_u".isNull, "degenerate")
          .when($"llr_cum_u" >= bound, "h1")
          .when($"llr_cum_u" <= -bound, "h0")
          .otherwise("continue").as("state"))
      .orderBy($"day")
  }

  /** Expected transitions to absorption — per event type, how many
    * steps the [[typeTransitions]] chain takes to FIRST reach the
    * target ('purchase') in expectation: E_i = 1 + Σⱼ p(i,j)·E_j with
    * E_target ≡ 0, solved by `iters` rounds of exact integer value
    * iteration in milli-steps (1000 + (Σ p_ppm·E) div 10⁶ per round —
    * one floor AFTER the sum, the [[markovStationary]] discipline, so
    * both engines replay the trajectory bit-for-bit; the oracle
    * unrolls the rounds). The funnel-distance readout "how far is each
    * behavioural state from money": value iteration converges from
    * below, and a state that cannot reach the target just accumulates
    * ≈1000·iters — visibly saturated rather than silently wrong.
    * Matrix is |types|²-bounded; the fold runs driver-side over a
    * distributed scan.
    */
  def absorptionSteps(s: SparkSession, dir: String,
                      target: String = "purchase",
                      iters: Int = 25): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val counts = Tables(s, dir, "events")
      .select($"user_id", $"event_type", $"ts", $"event_id")
      .withColumn("next_type", lead($"event_type", 1).over(w))
      .filter($"next_type".isNotNull)
      .groupBy($"event_type".as("from_type"), $"next_type".as("to_type"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val states = counts.map(_._1).distinct.sorted
    val closed = counts.filter(c => states.contains(c._2))
    val outTot = closed.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val pPpm = closed.map { case (f, t, n) =>
      (f, t) -> n * 1000000L / outTot(f)
    }.toMap
    var e = states.map(_ -> 0L).toMap
    for (_ <- 1 to iters) {
      e = states.map { i =>
        i -> (if (i == target) 0L
              else 1000L + states.map(j =>
                pPpm.getOrElse((i, j), 0L) * e(j)).sum / 1000000L)
      }.toMap
    }
    val fromTot = counts.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val rows = states.map(t => (t, fromTot(t), e(t)))
    s.createDataFrame(s.sparkContext.parallelize(rows, 1))
      .toDF("event_type", "n_out", "e_steps_milli")
      .orderBy($"event_type")
  }

  /** Markov removal-effect attribution (Anderl et al. 2016's chain
    * model, the data-driven successor to last-touch/linear rules): each
    * user's event stream splits into journeys at purchases, a
    * first-order chain is fit over ('__start', channels, '__conv',
    * '__null'), and a channel's credit is its REMOVAL EFFECT — how much
    * the start→conversion probability drops when every hop into that
    * channel is redirected to the null sink. Probabilities come from
    * `iters` rounds of exact ppm value iteration (one floor AFTER each
    * per-state sum — the [[markovStationary]] discipline — so both
    * engines replay the trajectory bit-for-bit; the oracle unrolls the
    * rounds over a (removed-channel × state) grid). Attribution shares
    * normalize over the positive removal effects only, keeping every
    * division nonnegative where trunc/floor semantics could diverge.
    * Matrix is |channels|²-bounded; journeys/transitions are one
    * windowed scan; the fold runs driver-side over the collected
    * |channels|² matrix.
    */
  def markovAttribution(s: SparkSession, dir: String,
                        target: String = "purchase",
                        iters: Int = 25): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val base = Tables(s, dir, "events")
      .select($"user_id", $"event_type", $"ts", $"event_id")
      .withColumn("jid", coalesce(
        sum(when($"event_type" === target, 1L).otherwise(0L))
          .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val wj = Window.partitionBy($"user_id", $"jid").orderBy($"ts", $"event_id")
    val tr = base
      .withColumn("from_t", coalesce(lag($"event_type", 1).over(wj),
        lit("__start")))
      .withColumn("to_t", when($"event_type" === target, lit("__conv"))
        .otherwise($"event_type"))
      .withColumn("nxt", lead($"event_type", 1).over(wj))
    val counts = tr.select($"from_t", $"to_t")
      .unionAll(tr.filter($"nxt".isNull && $"event_type" =!= target)
        .select($"event_type".as("from_t"), lit("__null").as("to_t")))
      .groupBy($"from_t", $"to_t").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val channels = (counts.map(_._1).filter(_ != "__start") ++
      counts.map(_._2).filterNot(Set("__conv", "__null"))).distinct.sorted
    val outTot = counts.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val pPpm = counts.map { case (f, t, n) =>
      (f, t) -> n * 1000000L / outTot(f)
    }.toMap
    // start→conversion ppm with `removed` redirected into the null sink
    def converge(removed: String): Long = {
      val transient = "__start" +: channels.filterNot(_ == removed)
      var p = transient.map(_ -> 0L).toMap
      for (_ <- 1 to iters) {
        p = transient.map { i =>
          i -> channels.union(Seq("__conv", "__null")).map { j0 =>
            val j = if (j0 == removed) "__null" else j0
            val v = j match {
              case "__conv" => 1000000L
              case "__null" => 0L
              case c        => p.getOrElse(c, 0L)
            }
            pPpm.getOrElse((i, j0), 0L) * v
          }.sum / 1000000L
        }.toMap
      }
      p("__start")
    }
    val pFull = converge("")
    val res = channels.map { c =>
      val pc = converge(c)
      (c, outTot.getOrElse(c, 0L), pFull, pc, pFull - pc)
    }
    val sPos = res.map(r => math.max(r._5, 0L)).sum
    val rows = res.map { case (c, nOut, pf, pc, re) =>
      val attr = if (sPos > 0 && re > 0) re * 1000000L / sPos else 0L
      (c, nOut, pf, pc, re, attr)
    }
    s.createDataFrame(s.sparkContext.parallelize(rows, 1))
      .toDF("channel", "n_out", "p_full_ppm", "p_removed_ppm",
        "removal_ppm", "attr_ppm")
      .orderBy($"channel")
  }

  /** Distinct cardinalities: exact countDistinct per type (the HLL
    * approx_count_distinct variant lives in the same plan shape; exact is
    * what an oracle can check).
    */
  def distinctUsers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "events")
      .groupBy($"event_type")
      .agg(countDistinct($"user_id").as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy($"event_type")
  }

  /** Set-collect (A3 analog: the reference's provider->run_date set
    * build): per user, the sorted distinct set of event types. Serialized
    * to a comma-joined scalar (not array&lt;string&gt;) so the driver's
    * pandas-based compare can sort/hash the column.
    */
  def userTypeSets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "events")
      .groupBy($"user_id")
      .agg(array_join(array_sort(collect_set($"event_type")), ",").as("types"),
        count(lit(1)).as("n_events"))
      .orderBy($"user_id")
  }

  /** Acceptance audit for HyperLogLog++ approximate distinct counts: the
    * sketch estimate per event type at rsd 0.02 must land within a 5×rsd
    * relative-error band of the exact cardinality. HLL merges registers
    * by max — commutative and associative — so the estimate (and hence
    * the ok flag) is bit-deterministic at any parallelism, which is what
    * makes an engine-specific sketch oracle-checkable (same pattern as
    * [[approxQuantileAudit]] / the ANN recall audit). The sketch, not the
    * exact distinct, is the 100 TB path: constant memory per group for
    * 10^10-key cardinality; the exact side here is the audit's witness.
    */
  def approxDistinctUsers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "events")
      .groupBy($"event_type")
      .agg(approx_count_distinct($"user_id", rsd = 0.02).as("approx_users"),
        count_distinct($"user_id").as("exact_users"),
        count(lit(1)).as("n_events"))
      .select($"event_type", $"exact_users", $"n_events",
        (abs($"approx_users" - $"exact_users").cast("double") /
          $"exact_users" <= 0.1).as("ok"))
      .orderBy($"event_type")
  }

  /** JSON payload extraction (F15/F16 analog): parse props.k, aggregate
    * per event type. `get_json_object` returns null on corrupt input —
    * the reference predicate's parse-failure→drop semantics.
    */
  def jsonPropStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "events")
      .withColumn("k", get_json_object($"props", "$.k").cast("int"))
      .filter($"k".isNotNull)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"), sum($"k").as("sum_k"),
        min($"k").as("min_k"), max($"k").as("max_k"))
      .orderBy($"event_type")
  }

  /** Ordered-funnel stage per user: first view, then the first click
    * AFTER that view, then the first purchase AFTER that click — the
    * event-sequence query behind conversion analysis. Three min-aggregates
    * chained on the user key: every join is equi on user_id (one shuffle
    * partitioning reused end-to-end), the temporal ordering rides as a
    * residual filter, and nothing ever pairs events across users.
    */
  /** Per-user first-touch timestamps of each funnel stage (nulls where
    * never reached) — shared by [[funnelStages]] and
    * [[funnelDropoffTest]] so the stage convention cannot drift.
    */
  private def funnelTimestamps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables(s, dir, "events").select($"user_id", $"event_type", $"ts")
    def firstAfter(typ: String, prev: DataFrame, prevTs: String, outTs: String) =
      ev.filter($"event_type" === typ)
        .join(prev, Seq("user_id"))
        .filter($"ts" > col(prevTs))
        .groupBy($"user_id").agg(min($"ts").as(outTs))
    val views = ev.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"ts").as("view_ts"))
    val clicks = firstAfter("click", views, "view_ts", "click_ts")
    val purchases = firstAfter("purchase", clicks.select($"user_id", $"click_ts"),
      "click_ts", "purchase_ts")
    ev.select($"user_id").distinct()
      .join(views, Seq("user_id"), "left")
      .join(clicks.select($"user_id", $"click_ts"), Seq("user_id"), "left")
      .join(purchases, Seq("user_id"), "left")
  }

  /** Exact funnel-transition latency order statistics — per stage
    * (view→click, click→purchase), the doubled median, the exact
    * ⌈0.9n⌉-th-rank p90, and the floored mean of seconds-to-next-stage
    * — the numbers an SLA on conversion speed is written against,
    * shipped exact instead of sketch-approximated. Latencies ride the
    * shared [[funnelTimestamps]] frame (the stage convention cannot
    * drift from funnelStages); order statistics come from cumulative
    * counts over the per-stage (stage, latency-seconds) rollup — the
    * latency grid is observation-window-bounded, so the rank window is
    * audit-sized at any user count.
    */
  def funnelLatency(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ft = funnelTimestamps(s, dir)
    // floor of the MICROSECOND difference — floor(Δus/1e6), not the
    // difference of per-timestamp second floors, which disagrees when
    // sub-second parts straddle a second boundary
    val lats = ft.filter($"click_ts".isNotNull)
      .select(lit(1).as("stage"),
        expr("(unix_micros(click_ts) - unix_micros(view_ts))" +
          " div 1000000").as("lat_s"))
      .unionByName(ft.filter($"purchase_ts".isNotNull)
        .select(lit(2).as("stage"),
          expr("(unix_micros(purchase_ts) - unix_micros(click_ts))" +
            " div 1000000").as("lat_s")))
    val cells = lats.groupBy($"stage", $"lat_s")
      .agg(count(lit(1)).as("c"))
      .localCheckpoint() // totals and the rank walk both read it
    val tot = cells.groupBy($"stage")
      .agg(sum($"c").as("n"), sum($"c" * $"lat_s").as("s_lat"))
    val cum = Window.partitionBy($"stage").orderBy($"lat_s")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = cells
      .withColumn("cc", sum($"c").over(cum))
      .join(tot, Seq("stage"))
    // exact rank picks: med2 = x_⌈n/2⌉ + x_⌈(n+1)/2⌉ (doubled median),
    // p90 = x_⌈0.9n⌉ = first value whose cumulative count reaches the rank
    def pick(rank: Column) = min(when($"cc" >= rank, $"lat_s"))
    ranked.groupBy($"stage")
      .agg(max($"n").as("n_transitions"),
        // integer div, not Column./ (true division): a fractional rank
        // silently shifts every pick up one value
        (pick(expr("(n + 1) div 2")) + pick(expr("n div 2 + 1")))
          .as("med2_s"),
        pick(expr("(n * 9 + 9) div 10")).as("p90_s"),
        max(expr("s_lat div n")).as("mean_s"))
      .orderBy($"stage")
  }

  def funnelStages(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    funnelTimestamps(s, dir)
      .select($"user_id",
        (when($"purchase_ts".isNotNull, 3)
          .when($"click_ts".isNotNull, 2)
          .when($"view_ts".isNotNull, 1)
          .otherwise(0)).cast("int").as("stage"))
      .orderBy($"user_id")
  }

  /** Two-proportion z-test on funnel SPEED between content-blind md5
    * user arms — the A/A validity check for conversion dashboards
    * (the logRankTest discipline applied to proportions): a significant
    * z on hash arms indicts the funnel harness, not a treatment. The
    * tested proportion is FAST conversion (next stage reached within
    * 24 h of the previous first touch) among users who completed the
    * transition at all — the metric with real variance on a funnel
    * where everyone eventually converts, and the correct conditional
    * denominator either way. Counts are exact integers off one funnel
    * scan; rates land in exact bp; only the final z is one fixed-shape
    * double expression (identical parse tree in both engines,
    * pre-rounded to milli).
    */
  def funnelDropoffTest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ft = funnelTimestamps(s, dir)
      .withColumn("arm",
        TextOps.hashBucketMod($"user_id", "fz:", 2L))
    val day = expr("INTERVAL '24' HOUR")
    val trans = ft.filter($"click_ts".isNotNull)
      .select(lit(1).as("t"), $"arm",
        ($"click_ts" <= $"view_ts" + day).as("fast"))
      .unionByName(ft.filter($"purchase_ts".isNotNull)
        .select(lit(2).as("t"), $"arm",
          ($"purchase_ts" <= $"click_ts" + day).as("fast")))
    trans
      .groupBy($"t")
      .agg(
        sum(when($"arm" === 0L, 1L).otherwise(0L)).as("n_a"),
        sum(when($"arm" === 0L && $"fast", 1L).otherwise(0L))
          .as("conv_a"),
        sum(when($"arm" === 1L, 1L).otherwise(0L)).as("n_b"),
        sum(when($"arm" === 1L && $"fast", 1L).otherwise(0L))
          .as("conv_b"))
      .withColumn("rate_a_bp", expr("conv_a * 10000 div n_a"))
      .withColumn("rate_b_bp", expr("conv_b * 10000 div n_b"))
      // degenerate pooled rate (0 or 1 — every transition slow or every
      // one fast) zeroes the variance: emit null z instead of the
      // Infinity/NaN→Long.MaxValue wrap DuckDB's CAST would error on
      .withColumn("z_milli", expr(
        """CASE WHEN conv_a + conv_b = 0 OR conv_a + conv_b = n_a + n_b
           THEN CAST(NULL AS BIGINT)
           ELSE CAST(round((CAST(conv_a AS DOUBLE) / n_a
             - CAST(conv_b AS DOUBLE) / n_b)
           / sqrt(CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b)
               * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
               * (1.0 / n_a + 1.0 / n_b))
           * 1000) AS BIGINT) END"""))
      .withColumn("significant_5pct",
        coalesce(abs($"z_milli") > 1960L, lit(false)))
      .orderBy($"t")
  }

  /** Equi-depth decile buckets per event type (`ntile` window): count,
    * min/max, and decimal-exact sum of `value` per bucket. The window
    * partitions by event_type so no single task sorts the whole table;
    * the (value, event_id) order key is total, making bucket assignment
    * deterministic under ties. min/max pass stored values through
    * untouched (bit-exact); only the sum needs the decimal cast.
    */
  def valueDeciles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"event_type").orderBy($"value", $"event_id")
    Tables(s, dir, "events")
      .select($"event_type", $"event_id", $"value")
      .withColumn("decile", ntile(10).over(w))
      .groupBy($"event_type", $"decile")
      .agg(count(lit(1)).as("n_events"),
        min($"value").as("min_value"),
        max($"value").as("max_value"),
        Relational.moneySum($"value").as("sum_value"))
      .orderBy($"event_type", $"decile")
  }

  /** Cohort retention over orders: customers grouped by first-order
    * month, then distinct purchasers counted per month offset. Two
    * hash-shuffles on o_custkey (cohort min + the distinct), both
    * map-side combined; the cohort frame joins back broadcast-small
    * relative to orders at any scale.
    */
  /** Cohort LTV curve — cumulative purchase revenue per signup-week
    * cohort by age week, per capita: the growth question
    * [[cohortRetention]]'s activity rates can't answer ("are newer
    * cohorts MONETIZING faster, not just staying?"). Cohort = the
    * user's first-event epoch-week (engine-portable bucket, no ISO week
    * edges); LTV = running revenue cents div cohort size, exact. The
    * running sum partitions by cohort over age weeks — a
    * calendar-bounded frame per cohort, fully parallel across cohorts.
    */
  def cohortLtv(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables(s, dir, "events")
      .select($"user_id", $"event_type",
        round($"value" * 100).cast("long").as("cents"),
        expr("datediff(CAST(ts AS DATE), DATE'1970-01-01') div 7")
          .as("week"))
      .localCheckpoint() // cohort assignment + revenue rollup read it
    val cohort = ev.groupBy($"user_id").agg(min($"week").as("cohort_week"))
    val size = cohort.groupBy($"cohort_week")
      .agg(count(lit(1)).as("n_users"))
    val rev = ev.filter($"event_type" === "purchase")
      .join(cohort, Seq("user_id"))
      .groupBy($"cohort_week", ($"week" - $"cohort_week").as("age_week"))
      .agg(sum($"cents").as("rev_cents"))
    val byAge = Window.partitionBy($"cohort_week").orderBy($"age_week")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rev.join(broadcast(size), Seq("cohort_week"))
      .withColumn("cum_cents", sum($"rev_cents").over(byAge))
      .select($"cohort_week", $"age_week", $"n_users", $"rev_cents",
        $"cum_cents",
        expr("cum_cents div n_users").as("ltv_per_user_cents"))
      .orderBy($"cohort_week", $"age_week")
  }

  def cohortRetention(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val orders = Tables(s, dir, "orders")
      .select($"o_custkey", date_trunc("month", $"o_orderdate").cast("date").as("om"))
    val cohort = orders.groupBy($"o_custkey").agg(min($"om").as("cohort_month"))
    orders.join(cohort, Seq("o_custkey"))
      .select($"o_custkey", $"cohort_month",
        months_between($"om", $"cohort_month").cast("int").as("month_offset"))
      .groupBy($"cohort_month", $"month_offset")
      .agg(countDistinct($"o_custkey").as("n_customers"))
      .orderBy($"cohort_month", $"month_offset")
  }

  /** Gaps-and-islands: per-user runs of consecutive active days. The
    * island key is day-index minus dense row_number — constant within a
    * run of consecutive days, different across gaps — so streak stats
    * fall out of two map-side-combined aggregations; the window and both
    * groupBys share the user_id hash partitioning (one shuffle total).
    * All-integer math, so the oracle matches bit for bit.
    */
  def activityStreaks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"day")
    val days = Tables(s, dir, "events")
      .select($"user_id", to_date($"ts").as("day")).distinct()
      .withColumn("island",
        datediff($"day", lit("2024-01-01").cast("date")) - row_number().over(w))
    days.groupBy($"user_id", $"island").agg(count(lit(1)).as("len"))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_streaks"), max($"len").as("max_streak"),
        sum($"len").as("n_active_days"))
      .orderBy($"user_id")
  }

  /** Fixed-width histogram of event values (width 10): bin counts plus
    * each bin's share of all events. One groupBy; the grand total rides a
    * single-partition window over the |bins|-sized aggregate (constant at
    * any event volume), never over the raw events.
    */
  def valueHistogram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bins = Tables(s, dir, "events")
      .groupBy(floor($"value" / 10).cast("int").as("bin"))
      .agg(count(lit(1)).as("n_events"))
    bins
      .withColumn("share",
        round($"n_events".cast("double") /
          sum($"n_events").over(Window.partitionBy()), 4))
      .select($"bin", ($"bin" * 10).cast("double").as("bin_lo"), $"n_events", $"share")
      .orderBy($"bin")
  }

  /** Exact interpolated median per event type, computed from window ranks
    * instead of an engine median() so every engine produces the identical
    * double: pick the one (odd n) or two (even n) middle values by
    * row_number and average them. Ties in `value` are harmless — any
    * permutation of equal values puts the same numbers at the middle
    * ranks.
    */
  def medianValue(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"event_type").orderBy($"value")
    Tables(s, dir, "events")
      .select($"event_type", $"value")
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy($"event_type")))
      .filter($"rn" === expr("(n + 1) div 2") || $"rn" === expr("n div 2 + 1"))
      .groupBy($"event_type")
      .agg(round(sum($"value") / count(lit(1)), 4).as("median_value"),
        max($"n").as("n_events"))
      .orderBy($"event_type")
  }

  /** Trailing 7-day distinct active users per day. Scale shape: each
    * (user, day) contributes itself to the 7 window-ending days it can
    * appear in (explode of a constant-length sequence — linear, never a
    * range join), then one distinct-count per window day; days with no
    * events contribute no window row (semi join against observed days).
    */
  def rollingActiveUsers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val userDays = Tables(s, dir, "events")
      .select($"user_id", to_date($"ts").as("day")).distinct()
    val observed = userDays.select($"day").distinct()
    userDays
      .select($"user_id", explode(sequence(lit(0), lit(6))).as("k"), $"day")
      .select($"user_id", date_add($"day", $"k").as("day"))
      .join(observed, Seq("day"), "left_semi")
      .groupBy($"day")
      .agg(countDistinct($"user_id").as("n_users_7d"))
      .orderBy($"day")
  }

  /** Exact skewness of event values per type via fixed-point power sums:
    * values quantize to 1e-4 longs, Σv/Σv²/Σv³ accumulate as integers
    * (decimal where v³ exceeds long range), and one double formula at
    * the end — associative sums make the result independent of partition
    * count AND engine, unlike built-in skewness whose merge order varies.
    * The 1e4 scale cancels: skewness is scale-invariant.
    */
  def valueSkewness(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // decimal(12,0): |value| < 10^8 headroom — at decimal(8,0) a value at
    // or above 10^4 would overflow the quantized column (ANSI throw)
    // while the oracle's BIGINT path kept working
    val v = round($"value" * 10000).cast("decimal(12,0)")
    val stats = Tables(s, dir, "events")
      .select($"event_type", v.as("v"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"v").as("sv"),
        sum(($"v" * $"v").cast("decimal(28,0)")).as("sv2"),
        sum(($"v" * $"v" * $"v").cast("decimal(36,0)")).as("sv3"))
    stats
      .withColumn("m1", $"sv".cast("double") / $"n")
      .withColumn("m2", $"sv2".cast("double") / $"n")
      .withColumn("m3", $"sv3".cast("double") / $"n")
      .select($"event_type", $"n",
        round(($"m3" - lit(3.0) * $"m1" * $"m2" + lit(2.0) * $"m1" * $"m1" * $"m1") /
          pow($"m2" - $"m1" * $"m1", 1.5), 4).as("skewness"))
      .orderBy($"event_type")
  }

  /** The frozen reference histogram `Streams.psiDriftSink` probes: bin
    * counts of the reference window (day ≤ 15), collected driver-side —
    * nBins pairs, the bounded artifact a monitor ships to the edge.
    */
  def psiReferenceCounts(s: SparkSession, dir: String,
                         binWidth: Double = 50.0,
                         nBins: Int = 10): Seq[(Long, Long)] = {
    import s.implicits._
    Tables(s, dir, "events")
      .filter(dayofmonth($"ts") <= 15)
      .select(psiBin($"value", binWidth, nBins).as("bin"))
      .groupBy($"bin").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toSeq.sortBy(_._1)
  }

  /** The PSI bin of `value`: fixed width, the last bin open-ended. A
    * negative value gets a negative bin, which no spine row matches. */
  private[graft] def psiBin(value: Column, binWidth: Double,
                            nBins: Int): Column =
    least(lit(nBins - 1), floor(value / binWidth)).cast("long")

  /** Population Stability Index between the stream's first and second
    * half-month — THE production drift metric (credit-scoring lineage,
    * now standard for feature/label drift monitors): bucket `value`
    * into fixed-width bins, compare reference (day ≤ 15) vs current
    * (day > 15) bin shares, PSI = Σ (p_ref − p_cur)·ln(p_ref/p_cur).
    * PSI < 0.1 is conventionally "no drift", > 0.25 "investigate".
    *
    * Determinism: add-one smoothed shares as integer basis points; the
    * per-BIN ln is fixed-pointed at 1e-6 over a ratio of exact integer
    * products (the [[graft.operators.TextOps.sourceLangMi]] discipline);
    * each bin's contribution is an exact integer product of the two, so
    * the total is order-free. One scan + a 10-row rollup.
    */
  def psiDrift(s: SparkSession, dir: String, binWidth: Double = 50.0,
               nBins: Int = 10): DataFrame = {
    import s.implicits._
    val binned = Tables(s, dir, "events")
      .select(
        (dayofmonth($"ts") <= 15).as("is_ref"),
        psiBin($"value", binWidth, nBins).as("bin"))
      .groupBy($"bin")
      .agg(sum(when($"is_ref", 1L).otherwise(0L)).as("ref_n"),
        sum(when(!$"is_ref", 1L).otherwise(0L)).as("cur_n"))
    psiDriftCore(psiCells(binned, nBins)
        .localCheckpoint(), // totals + per-bin scan both read it
      nBins)
      .orderBy($"bin")
  }

  /** Bins 0 until `nBins` of a `(bin, ref_n, cur_n)` rollup, empty ones
    * zero-filled (smoothing still assigns them mass), others dropped. */
  private[graft] def psiCells(binned: DataFrame, nBins: Int): DataFrame = {
    val spine = binned.sparkSession.range(nBins).select(col("id").as("bin"))
    spine.join(binned, Seq("bin"), "left")
      .select(col("bin"), coalesce(col("ref_n"), lit(0L)).as("ref_n"),
        coalesce(col("cur_n"), lit(0L)).as("cur_n"))
  }

  /** [[psiDrift]] over its [[psiCells]]: each bin's `contrib` in 1e-10
    * units — shared with the streaming `psiDriftSink`. */
  private[graft] def psiDriftCore(cells: DataFrame, nBins: Int): DataFrame = {
    val tot = cells.agg(sum(col("ref_n")).as("rt"), sum(col("cur_n")).as("ct"))
    cells.crossJoin(broadcast(tot))
      .withColumn("p_ref_bp",
        expr(s"(ref_n + 1) * 10000 div (rt + $nBins)"))
      .withColumn("p_cur_bp",
        expr(s"(cur_n + 1) * 10000 div (ct + $nBins)"))
      .withColumn("lnr_u",
        round(log(((col("ref_n") + 1) * (col("ct") + nBins)).cast("double") /
          ((col("cur_n") + 1) * (col("rt") + nBins)).cast("double")) * 1e6)
          .cast("long"))
      .withColumn("contrib", (col("p_ref_bp") - col("p_cur_bp")) * col("lnr_u"))
      .select(col("bin"), col("ref_n"), col("cur_n"), col("p_ref_bp"),
        col("p_cur_bp"), col("lnr_u"), col("contrib"))
  }

  /** Robust location/scale per event type: 5%/95% winsorized mean plus
    * median and MAD (median absolute deviation) — the outlier-immune
    * stats every metrics pipeline wants next to the raw mean, since one
    * corrupt 1e9 `value` drags a mean arbitrarily but moves the median
    * not at all.
    *
    * Determinism discipline: values quantize to 1e-4 longs up front, so
    * the winsorized SUM is an exact integer (order-free at any
    * parallelism — the skewness/PSI convention), and quantiles come
    * from integer-weighted order statistics (see inline comment) — the
    * whole computation is integer until the final display divisions.
    * The clamp bounds are the integerized quantiles
    * (ceil(p05)/floor(p95)) — integer-in, integer-out.
    *
    * Shape: a per-group rank (sort-based window — the sf-scale oracle
    * twin; at 100 TB swap in the GK sketch audited by
    * [[approxQuantileAudit]]), a rank-probe join against the tiny
    * broadcast spec frame, then one clamped scan + one deviation rank
    * for the MAD. No wide shuffle beyond the per-group sort.
    */
  def robustStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Tables(s, dir, "events")
      .select($"event_type", round($"value" * 10000).cast("long").as("vq"))
    val n = base.groupBy($"event_type").agg(count(lit(1)).as("n"))
    // Integer-exact interpolated percentile: position p*(n-1) kept in
    // hundredths, so the two straddling order statistics combine with
    // INTEGER weights (100-rem, rem). Built-in exact percentiles
    // (Spark `percentile`, DuckDB `quantile_cont`) interpolate with
    // different double formulas — (hi-pos)*a+(pos-lo)*b vs
    // a+frac*(b-a) — whose ulp disagreement flips ceil/floor when the
    // true quantile lands on an integer; this scheme has no doubles at
    // all until the final display division. Requires vq >= 0 (events
    // values are positive), so ceil = (x+99) div 100 is exact.
    val specs = n.select($"event_type", $"n",
        explode(array(lit(5L), lit(50L), lit(95L))).as("p"))
      .withColumn("lo", expr("p * (n - 1) div 100"))
      .withColumn("rem", expr("p * (n - 1) % 100"))
      .withColumn("rk2", when($"rem" > 0, $"lo" + 2).otherwise($"lo" + 1))
    def interp(v: Column): Column =
      sum(when($"rem" === 0, v * 100)
        .when($"rk" === $"lo" + 1, v * (lit(100) - $"rem"))
        .otherwise(v * $"rem"))
    val rankW = Window.partitionBy($"event_type").orderBy($"vq")
    val ranked = base
      .withColumn("rk", row_number().over(rankW).cast("long"))
    val qq = ranked.join(broadcast(specs), Seq("event_type"))
      .filter($"rk" >= $"lo" + 1 && $"rk" <= $"rk2")
      .groupBy($"event_type", $"p").agg(interp($"vq").as("qx100"))
      .groupBy($"event_type")
      .agg(max(when($"p" === 5, $"qx100")).as("q05x"),
        max(when($"p" === 50, $"qx100")).as("medx100"),
        max(when($"p" === 95, $"qx100")).as("q95x"))
      .select($"event_type", expr("(q05x + 99) div 100").as("loq"),
        $"medx100", expr("q95x div 100").as("hiq"))
    // second scan: clamp against the tiny broadcast bound frame; the
    // winsorized SUM is an exact integer (order-free at any parallelism)
    val joined = base.join(broadcast(qq), Seq("event_type"))
      .select($"event_type",
        least(greatest($"vq", $"loq"), $"hiq").as("wq"),
        abs($"vq" * 100 - $"medx100").as("adev"))
    val wsum = joined.groupBy($"event_type").agg(sum($"wq").as("wsum"))
    val adevRanked = joined.select($"event_type", $"adev")
      .withColumn("rk", row_number()
        .over(Window.partitionBy($"event_type").orderBy($"adev"))
        .cast("long"))
    val mad = adevRanked
      .join(broadcast(specs.filter($"p" === 50)), Seq("event_type"))
      .filter($"rk" >= $"lo" + 1 && $"rk" <= $"rk2")
      .groupBy($"event_type").agg(interp($"adev").as("madx10000"))
    n.join(qq, Seq("event_type")).join(wsum, Seq("event_type"))
      .join(mad, Seq("event_type"))
      .select($"event_type", $"n",
        round($"loq" / 10000.0, 4).as("p05"),
        round($"hiq" / 10000.0, 4).as("p95"),
        round($"wsum".cast("double") / $"n" / 10000.0, 4)
          .as("winsor_mean"),
        round($"medx100" / 1e6, 4).as("median"),
        round($"madx10000" / 1e8, 4).as("mad"))
      .orderBy($"event_type")
  }

  /** CUPED variance reduction for an A/B readout — the standard
    * experimentation-platform adjustment: each user's post-period metric
    * Y is shifted by theta*(X - mean(X)) where X is the pre-period
    * value of the SAME metric and theta = cov(X,Y)/var(X), removing the
    * between-user variance X explains without biasing the arm
    * difference. Arms come from `user_id % 2` (a deterministic stand-in
    * for the assignment hash), the pre/post split is day-of-month <= 15
    * (the PSI convention). Emits per-arm raw vs adjusted mean, raw vs
    * adjusted variance, and the realized variance-reduction percent.
    *
    * Determinism: values quantize to 1e-4 longs; every moment (sum,
    * sum-of-products) aggregates exactly — products through
    * DECIMAL(38,0) (HUGEINT on the oracle side), so the only floating
    * point is the FINAL scalar theta/variance arithmetic, computed with
    * the identical expression shape on both engines. The raw mean uses
    * the integer floor-division-to-fixed-scale trick (datasetCard
    * convention) — no float-rounding boundary exposure.
    *
    * Shape at scale: one shuffle to per-user moments (map-side partial
    * aggregation does the heavy lifting), then a 2-row arm rollup
    * joined with a broadcast 1-row global frame. Nothing wide.
    */
  def cupedAdjust(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dec = "decimal(19,0)"
    val usr = Tables(s, dir, "events")
      .select($"user_id", (dayofmonth($"ts") <= 15).as("pre"),
        round($"value" * 10000).cast("long").as("vq"))
      .groupBy($"user_id")
      .agg(sum(when($"pre", $"vq").otherwise(0L)).as("xq"),
        sum(when(!$"pre", $"vq").otherwise(0L)).as("yq"))
      .select(($"user_id" % 2).cast("int").as("arm"), $"xq", $"yq")
    val g = usr.agg(count(lit(1)).as("n"),
        sum($"xq").as("sx"), sum($"yq").as("sy"),
        sum($"xq".cast(dec) * $"yq").as("sxy"),
        sum($"xq".cast(dec) * $"xq").as("sxx"))
      .select(
        (($"n" * $"sxy" - $"sx".cast(dec) * $"sy").cast("double") /
          ($"n" * $"sxx" - $"sx".cast(dec) * $"sx").cast("double"))
          .as("theta"),
        ($"sx".cast("double") / $"n").as("mean_x"))
    usr.groupBy($"arm")
      .agg(count(lit(1)).as("n_a"),
        sum($"xq").as("sxa"), sum($"yq").as("sya"),
        sum($"xq".cast(dec) * $"yq").as("sxya"),
        sum($"xq".cast(dec) * $"xq").as("sxxa"),
        sum($"yq".cast(dec) * $"yq").as("syya"))
      .crossJoin(broadcast(g))
      // per-arm sample moments in quantized units, exact numerators
      .withColumn("den", ($"n_a" * ($"n_a" - 1)).cast("double"))
      .withColumn("vy",
        ($"n_a" * $"syya" - $"sya".cast(dec) * $"sya").cast("double")
          / $"den")
      .withColumn("vx",
        ($"n_a" * $"sxxa" - $"sxa".cast(dec) * $"sxa").cast("double")
          / $"den")
      .withColumn("cxy",
        ($"n_a" * $"sxya" - $"sxa".cast(dec) * $"sya").cast("double")
          / $"den")
      .withColumn("vc",
        $"vy" - lit(2.0) * $"theta" * $"cxy"
          + $"theta" * $"theta" * $"vx")
      .select($"arm", $"n_a".as("n_users"),
        round($"theta", 6).as("theta"),
        round(expr("sya * 100 div n_a") / 1e6, 4).as("mean_post"),
        round(($"sya".cast("double") / $"n_a" - $"theta" *
          ($"sxa".cast("double") / $"n_a" - $"mean_x")) / 1e4, 4)
          .as("mean_cuped"),
        round($"vy" / 1e8, 4).as("var_post"),
        round($"vc" / 1e8, 4).as("var_cuped"),
        round((lit(1.0) - $"vc" / $"vy") * 100, 4).as("vr_pct"))
      .orderBy($"arm")
  }

  /** Early-vs-late halves of the event stream by timestamp midpoint —
    * the deterministic two-sample split the distribution-drift tests
    * ([[ksDrift]], [[mannWhitney]]) compare. Values are quantized to
    * 1e-4 units (the [[robustStats]] convention) so ties are exact and
    * engine-portable; the midpoint is integer microseconds.
    */
  private def valueHalves(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables(s, dir, "events")
      .select(unix_micros($"ts").as("us"),
        round($"value" * 10000).cast("long").as("vq"))
    val mid = ev.agg(expr("(min(us) + max(us)) div 2").as("mid"))
    ev.crossJoin(broadcast(mid))
      .select($"vq", ($"us" <= $"mid").as("early"))
  }

  /** Energy distance between the early and late value halves — the
    * E-statistic 2·E|X−Y| − E|X−X'| − E|Y−Y'| (Székely–Rizzo), the
    * drift test sensitive to ANY distributional change (location,
    * scale, shape) where KS reads the sup gap and EMD the CDF area.
    * Exact integers end to end: all three pairwise-|Δ| sums come from
    * ONE prefix-sum pass over the 1e-4 value grid (per cell v the
    * closed form c·[C(v)·v − S(v) + (S_T − S(v)) − (C_T − C(v))·v] —
    * never a pairwise join), accumulate in DECIMAL(38,0), and each
    * mean lands in one floor division to micro value units. energy_u =
    * 2a − b − c of the floored means (±2 micro of the exact rational,
    * a stated convention, not drift). The grid is value-bounded, so
    * the window is audit-sized at any event volume.
    */
  def energyDistance(s: SparkSession, dir: String): DataFrame =
    energyDistanceCore(valueHalfCells(s, dir)
      .localCheckpoint()) // totals and the prefix walk both read it

  /** `(vq, c1, c2)` value-grid counts of the early and late halves. */
  private def valueHalfCells(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    valueHalves(s, dir)
      .groupBy($"vq")
      .agg(sum(when($"early", 1L).otherwise(0L)).as("c1"),
        sum(when(!$"early", 1L).otherwise(0L)).as("c2"))
  }

  /** [[energyDistance]] over `(vq, c1, c2)` cells, one row — shared with
    * the streaming `energyDriftSink`. Needs both samples non-empty. */
  private[graft] def energyDistanceCore(cells: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val vq = col("vq")
    val tot = cells.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"),
      sum((col("c1") * vq).cast(dec)).as("s1t"),
      sum((col("c2") * vq).cast(dec)).as("s2t"))
    val cum = Window.orderBy(vq)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def absSumAround(cPre: Column, sPre: Column, cTot: Column,
                     sTot: Column): Column =
      cPre.cast("decimal(38,0)") * vq - sPre +
        (sTot - sPre) - (cTot - cPre).cast("decimal(38,0)") * vq
    cells
      .withColumn("cc1", sum(col("c1")).over(cum))
      .withColumn("ss1", sum((col("c1") * vq).cast(dec)).over(cum))
      .withColumn("cc2", sum(col("c2")).over(cum))
      .withColumn("ss2", sum((col("c2") * vq).cast(dec)).over(cum))
      .crossJoin(broadcast(tot))
      .withColumn("xy", col("c2").cast(dec) *
        absSumAround(col("cc1"), col("ss1"), col("n1"), col("s1t")))
      .withColumn("xx", col("c1").cast(dec) *
        absSumAround(col("cc1"), col("ss1"), col("n1"), col("s1t")))
      .withColumn("yy", col("c2").cast(dec) *
        absSumAround(col("cc2"), col("ss2"), col("n2"), col("s2t")))
      .agg(max(col("n1")).as("n_early"), max(col("n2")).as("n_late"),
        sum(col("xy")).as("sxy"), sum(col("xx")).as("sxx"),
        sum(col("yy")).as("syy"))
      // vq is 1e-4 value units → ×100 lands the means in micro units
      .withColumn("a_u", expr("sxy * 100 div (n_early * n_late)"))
      .withColumn("b_u", expr("sxx * 100 div (n_early * n_early)"))
      .withColumn("c_u", expr("syy * 100 div (n_late * n_late)"))
      .select(col("n_early"), col("n_late"), col("a_u"), col("b_u"),
        col("c_u"),
        (lit(2L) * col("a_u") - col("b_u") - col("c_u")).as("energy_u"))
  }

  /** The frozen reference distribution `Streams.ksDriftSink` probes:
    * per-value counts of the early half on the 1e-4 grid, collected
    * driver-side — bounded by the value grid's distinct cardinality,
    * the artifact a drift monitor ships to the edge (the
    * [[psiReferenceCounts]] convention, without the bin choice).
    * `maxGridCells` makes the bound EXPLICIT: distinct-value
    * cardinality is data-dependent on an arbitrary value column, and
    * an unbounded one must fail with a remediation note (pre-quantize
    * coarser), not silently materialize an edge artifact the driver —
    * and every monitor that ships it — cannot hold.
    */
  def ksReferenceCounts(s: SparkSession, dir: String,
                        maxGridCells: Int = 1000000): Seq[(Long, Long)] = {
    import s.implicits._
    val cells = valueHalves(s, dir).filter($"early")
      .groupBy($"vq").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].limit(maxGridCells + 1).collect()
    if (cells.length > maxGridCells) throw new IllegalStateException(
      s"ksReferenceCounts: reference histogram exceeds maxGridCells=" +
        s"$maxGridCells distinct quantized cells — pre-quantize the " +
        "value column to a coarser grid, or raise the cap deliberately.")
    cells.toSeq.sortBy(_._1)
  }

  /** Exact two-sample Kolmogorov–Smirnov drift test: sup |F_early −
    * F_late| between the first and second half of the event stream (the
    * exact-arithmetic complement of the binned PSI monitor — KS needs no
    * bin choice and catches shape drift PSI's 10 bins smear away). The
    * supremum over pooled ECDFs is attained at a sample point, so one
    * sort of the DISTINCT quantized values with cumulative counts is the
    * whole computation; the statistic is the integer cross-product
    * max |c1·n2 − c2·n1| — no float until the display columns. The
    * α=0.05 threshold c(α)·√((n1+n2)/(n1·n2)) is one fixed-shape sqrt
    * over exact longs, pre-rounded to basis points before the verdict
    * compare (the splitBalance discipline).
    *
    * Scale: distinct-value cardinality is bounded by the 1e-4 grid, and
    * the single global cumulative window runs over the tiny (value,
    * counts) rollup, not the raw events.
    */
  def ksDrift(s: SparkSession, dir: String): DataFrame =
    ksDriftCore(valueHalfCells(s, dir))

  /** [[ksDrift]] over `(vq, c1, c2)` cells, one row — shared with the
    * streaming `ksDriftSink`. Needs both samples non-empty. */
  private[graft] def ksDriftCore(cells: DataFrame): DataFrame = {
    val cum = Window.orderBy(col("vq"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    cells
      .select(col("vq"), sum(col("c1")).over(cum).as("f1"),
        sum(col("c2")).over(cum).as("f2"))
      .crossJoin(broadcast(
        cells.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))))
      .withColumn("gap", abs(col("f1") * col("n2") - col("f2") * col("n1")))
      .withColumn("dmax", max(col("gap")).over(all))
      .agg(max(col("n1")).as("n_early"), max(col("n2")).as("n_late"),
        max(col("gap")).as("d_num"),
        min(when(col("gap") === col("dmax"), col("vq"))).as("at_vq"))
      .withColumn("d_bp", expr("d_num * 10000 div (n_early * n_late)"))
      .withColumn("crit_bp",
        round(lit(13581.0) * sqrt((col("n_early") + col("n_late"))
          .cast("double") / (col("n_early") * col("n_late")).cast("double")))
          .cast("long"))
      .select(col("n_early"), col("n_late"), col("d_num"), col("at_vq"),
        col("d_bp"), col("crit_bp"),
        (col("d_bp") >= col("crit_bp")).as("drifted"))
  }

  /** Quantile (rank) transform of event values per type: each distinct
    * value mapped to its midrank CDF position in basis points — the
    * monotone feature normalization that makes downstream thresholds
    * distribution-free (and the lookup table a serving layer ships to
    * transform live traffic the same way training did). Midranks keep
    * ties exact via doubling (F_mid(v) = (2·cb + t)/(2N)); output is
    * one row per DISTINCT (type, value) on the 1e-4 grid — a bounded
    * dictionary, never the raw events.
    */
  def quantileTransform(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cells = Tables(s, dir, "events")
      .select($"event_type", round($"value" * 10000).cast("long").as("vq"))
      .groupBy($"event_type", $"vq").agg(count(lit(1)).as("t"))
    val before = Window.partitionBy($"event_type").orderBy($"vq")
      .rowsBetween(Window.unboundedPreceding, -1)
    val all = Window.partitionBy($"event_type")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cells
      .withColumn("cb", coalesce(sum($"t").over(before), lit(0L)))
      .withColumn("n", sum($"t").over(all))
      .select($"event_type", $"vq", $"t",
        expr("(2 * cb + t) * 10000 div (2 * n)").as("pct_bp"))
      .orderBy($"event_type", $"vq")
  }

  /** The frozen-design stratified keep decision shared by batch replay
    * and the streaming gate (`Streams.neymanSampleGate`): event kept
    * iff its 1e-6 md5 bucket clears the stratum's alloc/n_h rate —
    * integer cross-multiplication, no float rate anywhere, so the
    * decision for a given event is identical forever, across engines,
    * and across the batch/stream boundary.
    */
  private[graft] def neymanKeepExpr(rates: Seq[(String, Long, Long)]): Column = {
    val u = graft.operators.TextOps.hashBucketMod(
      col("event_id"), "neyman:", 1000000L)
    rates.foldLeft(lit(false)) { case (acc, (t, alloc, nh)) =>
      when(col("event_type") === t, u * nh < alloc * 1000000L)
        .otherwise(acc)
    }
  }

  /** Cumulative Poisson(1) inverse-CDF thresholds on the 2⁶⁰ grid:
    * t_k = round(F(k)·2⁶⁰) for k = 0..7 — driver-computed ONCE and
    * injected as identical literals into both the Spark expression and
    * the oracle SQL (the ewmaAnomalies driver-literal discipline), so
    * the two engines never each evaluate e⁻¹ themselves.
    */
  private[graft] lazy val poissonThresholds: Seq[Long] = {
    var fact = 1.0
    var cum = 0.0
    (0 to 7).map { k =>
      if (k > 0) fact *= k
      cum += math.exp(-1.0) / fact
      math.round(cum * (1L << 60).toDouble)
    }
  }

  /** Poisson-bootstrap confidence interval for the mean event value per
    * type — the resampling scheme that works on a stream/shard without
    * knowing n up front (Chamandy et al., Google 2012): replicate r
    * gives each row weight w ~ Poisson(1), seeded by md5(event, r) so
    * the resample is reproducible and engine-portable. The weight is a
    * scan-speed CASE chain over [[poissonThresholds]] (no join, no
    * shuffle beyond the per-(type, replicate) rollup, map-side
    * combined); replicate means are integer floor divisions on the
    * 1e-4 value grid, and the 90% interval is the nearest-rank 2nd/19th
    * order statistic of the 20 replicate means — all exact longs.
    */
  def poissonBootstrap(s: SparkSession, dir: String, b: Int = 20): DataFrame = {
    import s.implicits._
    val th = poissonThresholds
    val base = Tables(s, dir, "events")
      .select($"event_type", $"event_id",
        round($"value" * 10000).cast("long").as("vq"))
    def weight(u: Column): Column =
      th.zipWithIndex.foldRight(lit(8L)) { case ((t, k), acc) =>
        when(u < t, k.toLong).otherwise(acc)
      }
    val reps = base
      .select($"event_type", $"event_id", $"vq",
        explode(sequence(lit(1), lit(b))).as("rep"))
      .withColumn("u",
        conv(substring(md5(concat(lit("boot:"), $"event_id", lit(":"),
          $"rep")), 1, 15), 16, 10).cast("long"))
      .withColumn("w", weight($"u"))
      .groupBy($"event_type", $"rep")
      .agg(sum($"w" * $"vq").as("swx"), sum($"w").as("sw"))
      .select($"event_type", $"rep", expr("swx div sw").as("mean_q"))
    val byType = Window.partitionBy($"event_type")
      .orderBy($"mean_q", $"rep")
    val point = base.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), expr("sum(vq) div count(1)").as("mean_q"))
    reps
      .withColumn("rk", row_number().over(byType))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_reps"),
        max(when($"rk" === 2, $"mean_q")).as("ci_lo_q"),
        max(when($"rk" === b - 1, $"mean_q")).as("ci_hi_q"))
      .join(point, Seq("event_type"))
      .select($"event_type", $"n", $"mean_q", $"n_reps",
        $"ci_lo_q", $"ci_hi_q", ($"ci_hi_q" - $"ci_lo_q").as("ci_width_q"))
      .orderBy($"event_type")
  }

  /** Neyman optimal sample allocation: split a sampling budget across
    * event-type strata ∝ N_h·σ_h — the design that minimizes the
    * variance of the estimated mean under a fixed budget, and the
    * principled answer to "how many rows of each type should the QA
    * sample contain" (proportional allocation oversamples big uniform
    * strata; equal allocation oversamples tiny ones). Per-stratum
    * variance comes from exact integer moments (n·Σx² − (Σx)² on the
    * 1e-4 value grid, DECIMAL(38,0) so the subtraction never overflows);
    * the weight takes ONE fixed-shape sqrt per stratum pre-rounded to
    * the integer value grid, and the final quotas are Hamilton-
    * apportioned longs
    * summing to the budget EXACTLY (the temperature-mix discipline).
    */
  def neymanAllocation(s: SparkSession, dir: String,
                       budget: Long = 10000L): DataFrame = {
    import s.implicits._
    val dec = "decimal(38,0)"
    val per = Tables(s, dir, "events")
      .select($"event_type", round($"value" * 10000).cast("long").as("vq"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_h"), sum($"vq").cast(dec).as("sx"),
        sum($"vq".cast(dec) * $"vq").as("sxx"))
      // sample std of the stratum in 1e-4 value units (already ~1e6 in
      // grid units, so integer rounding costs < 1e-6 relative error);
      // the divide runs in DOUBLE on exact integer operands — decimal
      // division would round at engine-specific scales
      .withColumn("sigma_q",
        round(sqrt(($"n_h" * $"sxx" - $"sx" * $"sx").cast("double") /
          ($"n_h" * ($"n_h" - 1L)).cast("double"))).cast("long"))
      .withColumn("w", $"n_h" * $"sigma_q")
    val all = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val rem = Window.orderBy(expr(s"($budget * w) % wt").desc, $"event_type")
    per
      .withColumn("wt", sum($"w").over(all))
      .withColumn("base", expr(s"$budget * w div wt"))
      .withColumn("deficit", lit(budget) - sum($"base").over(all))
      .withColumn("rr", row_number().over(rem).cast("long"))
      .select($"event_type", $"n_h", $"sigma_q", $"w",
        ($"base" + when($"rr" <= $"deficit", 1L).otherwise(0L)).as("alloc"))
      .orderBy($"event_type")
  }

  /** Exact 1-D Wasserstein-1 (earth-mover) drift between the early and
    * late halves: W₁ = ∫|F₁ − F₂| dv — the magnitude-sensitive
    * complement of [[ksDrift]]'s sup statistic (KS says the
    * distributions differ; W₁ says by how much value has to MOVE, in
    * the value's own units, which is the number a cost model can
    * consume). In one dimension the integral is exact: between
    * consecutive distinct grid values the ECDF gap is constant, so
    * W₁·n₁·n₂ = Σ_t |c₁ᵗn₂ − c₂ᵗn₁|·(v_{t+1} − v_t) is a pure integer
    * sum over the same distinct-value rollup the KS test walks; one
    * display division at the end (micro value units, floor). No bins,
    * no floats, no approximation.
    */
  def emdDrift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cells = valueHalfCells(s, dir)
    val ord = Window.orderBy($"vq")
    val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .select($"vq", sum($"c1").over(cum).as("f1"),
        sum($"c2").over(cum).as("f2"),
        (lead($"vq", 1).over(ord) - $"vq").as("dv"))
      .filter($"dv".isNotNull) // the last grid point closes the integral
      .crossJoin(broadcast(cells.agg(sum($"c1").as("n1"), sum($"c2").as("n2"))))
      // the per-gap product can reach n1*n2*range ~ 1e19+: accumulate in
      // DECIMAL(38,0) (HUGEINT on the oracle side) past long range
      .agg(max($"n1").as("n_early"), max($"n2").as("n_late"),
        sum(abs($"f1" * $"n2" - $"f2" * $"n1").cast("decimal(38,0)")
          * $"dv").cast("decimal(38,0)").as("w1_num"))
      // W1 in micro value units: vq is 1e-4 value units, so scale by
      // 1e6/1e4 = 100 before the exact n1*n2 normalization
      .select($"n_early", $"n_late",
        // the SUMMED numerator is ~2e11 at sf0.01 (per-gap terms are
        // what overflow longs, not the total) — narrow loudly
        graft.functions.num.toLongChecked($"w1_num", "w1_num")
          .as("w1_num"),
        expr("w1_num * 100 div (n_early * n_late)").as("w1_micro"))
  }

  /** Exact Mann–Whitney U rank-sum test between the early and late
    * halves: the nonparametric location-shift screen (did values get
    * bigger, not just differently shaped — the directional complement
    * of [[ksDrift]]). Tied ranks use the midrank convention kept
    * integer by doubling: a tie group occupying ranks [a, a+t−1] has
    * 2·avgrank = 2a + t − 1, so R1, U1, U2 are exact in ×2 units, the
    * common-language effect size U1/(n1·n2) is an integer basis-point
    * floor, and the tie-corrected normal z is one fixed-shape double
    * expression over exact longs, pre-rounded to 4 places. The rank
    * window runs over the distinct-value rollup (1e-4 grid), never the
    * raw rows.
    */
  def mannWhitney(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cells = valueHalves(s, dir)
      .groupBy($"vq")
      .agg(count(lit(1)).as("t"),
        sum(when($"early", 1L).otherwise(0L)).as("t1"))
    val before = Window.orderBy($"vq")
      .rowsBetween(Window.unboundedPreceding, -1)
    cells
      .withColumn("cb", coalesce(sum($"t").over(before), lit(0L)))
      // per-value contribution to 2·R1 and the tie term t³ − t
      .agg(sum($"t1").as("n1"), sum($"t" - $"t1").as("n2"),
        sum($"t1" * (lit(2L) * $"cb" + $"t" + 1L)).as("r1_x2"),
        sum($"t" * $"t" * $"t" - $"t").as("tie_term"))
      .withColumn("n", $"n1" + $"n2")
      .withColumn("u1_x2", $"r1_x2" - $"n1" * ($"n1" + 1L))
      .withColumn("u2_x2", lit(2L) * $"n1" * $"n2" - $"u1_x2")
      .withColumn("auc_bp", expr("u1_x2 * 10000 div (2 * n1 * n2)"))
      .withColumn("z",
        round((($"u1_x2" - $"n1" * $"n2").cast("double") / 2.0) /
          sqrt($"n1".cast("double") * $"n2".cast("double")
            * (($"n" + 1L).cast("double")
              - $"tie_term".cast("double")
                / ($"n".cast("double") * ($"n" - 1L).cast("double")))
            / 12.0), 4))
      .select($"n1".as("n_early"), $"n2".as("n_late"), $"r1_x2",
        $"u1_x2", $"u2_x2", $"tie_term", $"auc_bp", $"z")
  }

  /** Kaplan–Meier product-limit estimate of time-to-first-FATAL-error
    * per user (hours from first activity to the first 'error' event in
    * the deterministic 1-in-11 id-sampled severity class — the stand-in
    * for a real severity column, reproducible on any engine) with
    * RIGHT CENSORING — the survival-analysis reliability readout where
    * the naive mean time-to-failure is biased low because error-free
    * users haven't failed, they've just run out of observation window:
    * they are censored at the window end, still at risk, and the KM
    * risk-set recursion prices exactly that. Exactness: durations are
    * integer hours; n_risk comes from one cumulative window over the
    * duration-grouped rollup (bounded by the observation span, not the
    * user count); each survival factor ln(1 − d/n) is one fixed-point
    * ln of an exact integer ratio, so the log-survival curve ln_s_u is
    * a plain integer prefix sum (S itself is e^(ln_s_u/1e6) — left to
    * the reader, keeping the contract float-free). A full-cohort
    * death at the last step would be ln(0); it ships as the
    * documented −30e6 sentinel (S < e⁻³⁰ ≈ 0) on both engines.
    */
  /** Per-user survival triple (user_id, t, death) for the
    * time-to-first-fatal-error analyses — shared by [[kaplanMeier]]
    * and [[logRankTest]] so the censoring definition cannot drift.
    */
  private def survivalLives(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables(s, dir, "events")
      .select($"user_id", $"event_type", $"event_id",
        expr("unix_micros(ts) div 3600000000").as("hr"))
      .localCheckpoint() // birth, first-error and window-end all read it
    val birth = ev.groupBy($"user_id").agg(min($"hr").as("birth"))
    val firstErr = ev.filter($"event_type" === "error" &&
        $"event_id" % 11 === 0)
      .groupBy($"user_id").agg(min($"hr").as("err_hr"))
    val wend = ev.agg(max($"hr").as("wend"))
    birth.join(firstErr, Seq("user_id"), "left")
      .crossJoin(broadcast(wend))
      .withColumn("death", $"err_hr".isNotNull)
      .withColumn("t", when($"death", $"err_hr" - $"birth")
        .otherwise($"wend" - $"birth").cast("long"))
      .select($"user_id", $"t", $"death")
  }

  /** Nelson–Aalen cumulative hazard over the same per-user lives as
    * [[kaplanMeier]] — the estimator you integrate when hazard is the
    * quantity of interest (failure INTENSITY, not survival
    * probability): H(t) = Σ_{tᵢ≤t} dᵢ/n_risk in exact ppm terms (one
    * floor division per event time, cumulative sum over the bounded
    * event-time frame), plus the implied survival e^{−H} in milli —
    * which dominates the KM product-limit curve everywhere
    * (e^{−h} ≥ 1−h term by term), an inequality the spec pins. Shares
    * survivalLives so the censoring convention cannot drift.
    */
  def nelsonAalen(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lives = survivalLives(s, dir)
    val byT = lives.groupBy($"t")
      .agg(sum(when($"death", 1L).otherwise(0L)).as("d"),
        sum(when(!$"death", 1L).otherwise(0L)).as("c"))
    val tot = lives.agg(count(lit(1)).as("n_total"))
    val cum = Window.orderBy($"t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prev = Window.orderBy($"t")
      .rowsBetween(Window.unboundedPreceding, -1)
    byT.crossJoin(broadcast(tot))
      .withColumn("n_risk",
        $"n_total" - coalesce(sum($"d" + $"c").over(prev), lit(0L)))
      .withColumn("h_term_ppm", expr("1000000 * d div n_risk"))
      .withColumn("h_cum_ppm", sum($"h_term_ppm").over(cum))
      .withColumn("s_na_milli",
        round(exp(-$"h_cum_ppm".cast("double") / lit(1000000.0)) * 1000)
          .cast("long"))
      .select($"t".as("t_hours"), $"n_risk", $"d".as("n_deaths"),
        $"c".as("n_censored"), $"h_term_ppm", $"h_cum_ppm", $"s_na_milli")
      .orderBy($"t_hours")
  }

  /** Shewhart p-chart of the daily error share — the control-chart
    * member of the monitoring family (CUSUM detects small sustained
    * shifts, EWMA smooths, Page–Hinkley sequential-tests; the p-chart
    * answers the floor question "is TODAY inside common-cause
    * variation?"): limits p̄ ± 3·√(p̄(1−p̄)/n_day) from the pooled rate,
    * per-day n so low-traffic days get honestly wider bands. The day
    * rate is exact bp; the limits are one fixed-shape sqrt from exact
    * pooled integers. One fact groupBy; the pooled row broadcasts.
    */
  def pChart(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    pChartCore(dailyErrors(Tables(s, dir, "events"), $"ts")
      .localCheckpoint()) // pooled rate re-aggregates it
      .orderBy($"day")
  }

  /** Daily event and error counts `(day: date, n, x)` — the p-chart
    * rollup, batch and streaming alike. */
  private[graft] def dailyErrors(events: DataFrame, day: Column): DataFrame =
    events.groupBy(day.cast("date").as("day"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("x"))

  /** [[pChart]] over a [[dailyErrors]] rollup — shared with the
    * streaming `pChartSink`. */
  private[graft] def pChartCore(daily: DataFrame): DataFrame = {
    val pooled = daily.agg(sum(col("x")).as("sx"), sum(col("n")).as("sn"))
    val pb = col("sx").cast("double") / col("sn").cast("double")
    val sig = sqrt(pb * (lit(1.0) - pb) / col("n").cast("double"))
    daily.crossJoin(broadcast(pooled))
      .withColumn("p_bp", expr("x * 10000 div n"))
      .withColumn("ucl_bp",
        round((pb + lit(3.0) * sig) * 10000).cast("long"))
      .withColumn("lcl_bp",
        greatest(lit(0L), round((pb - lit(3.0) * sig) * 10000).cast("long")))
      .withColumn("ooc",
        col("p_bp") > col("ucl_bp") || col("p_bp") < col("lcl_bp"))
      .select(col("day"), col("n"), col("x"), col("p_bp"), col("ucl_bp"),
        col("lcl_bp"), col("ooc"))
  }

  def kaplanMeier(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lives = survivalLives(s, dir)
    val byT = lives.groupBy($"t")
      .agg(sum(when($"death", 1L).otherwise(0L)).as("d"),
        sum(when(!$"death", 1L).otherwise(0L)).as("c"))
    val tot = lives.agg(count(lit(1)).as("n_total"))
    val cum = Window.orderBy($"t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prev = Window.orderBy($"t")
      .rowsBetween(Window.unboundedPreceding, -1)
    byT.crossJoin(broadcast(tot))
      .withColumn("n_risk",
        $"n_total" - coalesce(sum($"d" + $"c").over(prev), lit(0L)))
      .withColumn("hazard_ppm", expr("1000000 * d div n_risk"))
      .withColumn("ln_term_u",
        when($"d" === 0L, 0L)
          .when($"d" === $"n_risk", -30000000L)
          .otherwise(round(log(($"n_risk" - $"d").cast("double") /
            $"n_risk".cast("double")) * 1e6).cast("long")))
      .withColumn("ln_s_u", sum($"ln_term_u").over(cum))
      .select($"t".as("t_hours"), $"n_risk", $"d".as("n_deaths"),
        $"c".as("n_censored"), $"hazard_ppm", $"ln_term_u", $"ln_s_u")
      .orderBy($"t_hours")
  }

  /** U-shaped multi-touch attribution of purchase revenue to the
    * clicks that preceded it (7-day lookback): first and last touch
    * get 40% each, the middles split the remaining 20% by Hamilton
    * largest-remainder (earlier clicks take the +1s), single-touch
    * takes 100%, two-touch splits 50/50 — so each purchase's credits
    * sum to EXACTLY 10000 bp, a conservation law the spec pins, not a
    * float that leaks basis points. Credited revenue rolls up by
    * click hour-of-day: "which hours' engagement actually drives
    * conversion", the budget-shifting question last-touch attribution
    * answers wrong by design. Scale: the purchase×click join is
    * per-user (shuffle on user_id, never a global cross), the
    * position window partitions by purchase, and the output is 24
    * rows; credit arithmetic is exact integer bp × cents.
    */
  def touchAttribution(s: SparkSession, dir: String,
                       lookbackDays: Long = 7L): DataFrame = {
    import s.implicits._
    val ev = Tables(s, dir, "events")
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("p_id"),
        unix_micros($"ts").as("p_us"),
        round($"value" * 100).cast("long").as("cents"))
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"event_id".as("c_id"),
        unix_micros($"ts").as("c_us"), hour($"ts").cast("long").as("click_hour"))
    val winUs = lookbackDays * 86400L * 1000000L
    val wp = Window.partitionBy($"p_id").orderBy($"c_us", $"c_id")
    purchases.join(clicks, Seq("user_id"))
      .filter($"c_us" < $"p_us" && $"c_us" >= $"p_us" - winUs)
      .withColumn("pos", row_number().over(wp).cast("long"))
      .withColumn("n",
        count(lit(1)).over(Window.partitionBy($"p_id")).cast("long"))
      .withColumn("credit_bp",
        when($"n" === 1L, 10000L)
          .when($"n" === 2L, 5000L)
          .when($"pos" === 1L || $"pos" === $"n", 4000L)
          .otherwise(expr("2000 div (n - 2) + CASE WHEN pos - 1 <=" +
            " 2000 % (n - 2) THEN 1 ELSE 0 END")))
      .withColumn("attr_cents_bp", $"cents" * $"credit_bp")
      .groupBy($"click_hour")
      .agg(count(lit(1)).as("n_touches"),
        sum($"credit_bp").as("credit_bp_sum"),
        sum($"attr_cents_bp".cast("decimal(38,0)")).as("attr_cents_bp"))
      .withColumn("attr_cents",
        expr("CAST(attr_cents_bp div 10000 AS BIGINT)"))
      // attributed bp-cents per hour ~5e9 at sf0.01 — inside int64;
      // narrow loudly (wide decimal is internal-only)
      .withColumn("attr_cents_bp",
        graft.functions.num.toLongChecked($"attr_cents_bp",
          "attr_cents_bp"))
      .orderBy($"click_hour")
  }

  /** Log-rank (Mantel–Cox) test comparing the [[kaplanMeier]] survival
    * curves of two hash-split arms — the A/B readout for "did the
    * treatment arm fail sooner", here run as an A/A validity check on
    * the content-independent md5 split (the split-balance discipline:
    * a significant log-rank on hash arms means the test harness, not
    * the treatment, is broken). At each death time the observed arm-A
    * deaths are compared with the hypergeometric expectation
    * d·n₁/n, variance d·n₁·(n−n₁)·(n−d)/(n²(n−1)); both accumulate in
    * exact fixed-point micro units (DECIMAL(38,0) for the variance
    * numerators), χ² in micro units is one decimal division, and only
    * the final z pays one fixed-shape sqrt. Reuses the SAME
    * [[survivalLives]] frame as the KM curve, so the censoring
    * definition cannot drift between the curve and its test.
    */
  def logRankTest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dec = "decimal(38,0)"
    val lives = survivalLives(s, dir)
      .withColumn("in_a",
        TextOps.hashBucketMod($"user_id", "arm:", 100L) < 50)
      .localCheckpoint() // arm totals and the death-time table read it
    val byT = lives.groupBy($"t")
      .agg(sum(when($"death", 1L).otherwise(0L)).as("d"),
        sum(when($"death" && $"in_a", 1L).otherwise(0L)).as("d1"),
        count(lit(1)).as("leave"),
        sum(when($"in_a", 1L).otherwise(0L)).as("leave1"))
    val tot = lives.agg(count(lit(1)).as("n_tot"),
      sum(when($"in_a", 1L).otherwise(0L)).as("n_a"),
      sum(when($"death" && $"in_a", 1L).otherwise(0L)).as("deaths_a"),
      sum(when($"death" && !$"in_a", 1L).otherwise(0L)).as("deaths_b"))
    val prev = Window.orderBy($"t")
      .rowsBetween(Window.unboundedPreceding, -1)
    val terms = byT.crossJoin(broadcast(tot))
      .withColumn("n_risk",
        $"n_tot" - coalesce(sum($"leave").over(prev), lit(0L)))
      .withColumn("n1_risk",
        $"n_a" - coalesce(sum($"leave1").over(prev), lit(0L)))
      .filter($"d" > 0)
      .withColumn("oe_u",
        $"d1" * 1000000L - expr("d * n1_risk * 1000000 div n_risk"))
      .withColumn("v_u", expr(
        s"CASE WHEN n_risk <= 1 THEN CAST(0 AS $dec)" +
        s" ELSE CAST(d AS $dec) * n1_risk * (n_risk - n1_risk)" +
        s" * (n_risk - d) * 1000000" +
        s" div (CAST(n_risk AS $dec) * n_risk * (n_risk - 1)) END"))
    terms
      .agg(max($"n_tot").as("n_total"), max($"n_a").as("n_a"),
        max($"deaths_a").as("deaths_a"), max($"deaths_b").as("deaths_b"),
        sum($"oe_u").as("oe_u"), sum($"v_u".cast(dec)).as("v_u"))
      .withColumn("chi2_u", expr(
        s"CAST(CAST(oe_u AS $dec) * oe_u div v_u AS BIGINT)"))
      .withColumn("z", round($"oe_u".cast("double") /
        (lit(1000.0) * sqrt($"v_u".cast("double"))), 4))
      .select($"n_total", $"n_a", ($"n_total" - $"n_a").as("n_b"),
        $"deaths_a", $"deaths_b", $"oe_u",
        // summed hypergeometric variance stays ~deaths·10⁶ — inside
        // int64; narrow loudly (wide decimal is internal-only)
        graft.functions.num.toLongChecked($"v_u", "v_u").as("v_u"),
        $"chi2_u", $"z")
  }

  /** Hourly click→purchase cross-correlation at lags −12..+12 — the
    * lead-lag diagnostic behind "does engagement volume LEAD conversion
    * volume, and by how many hours", which decides how far ahead a
    * capacity or spend decision can see. Both series ride ONE complete
    * hourly grid (zero-filled, so lags shift real hours, not row
    * offsets over gaps); centering is the integer y = n·x − S trick
    * (no float means), lagged cross-products accumulate exactly in
    * DECIMAL(38,0) — the truncated-overlap convention, n−|k| pairs at
    * lag k — and only the final normalization by √(Σx²·Σy²) pays
    * doubles, rounded at 4dp. Positive lag = clicks lead purchases.
    * The grid is observation-span-bounded at any event volume; the
    * event scan distributes.
    */
  def ccfLeadLag(s: SparkSession, dir: String, maxLag: Int = 12): DataFrame = {
    import s.implicits._
    val dec = "decimal(38,0)"
    val ev = Tables(s, dir, "events")
      .select($"event_type", expr("unix_micros(ts) div 3600000000").as("hr"))
    val grid = ev.agg(min($"hr").as("h0"), max($"hr").as("h1"))
      .select(explode(sequence($"h0", $"h1")).as("hr"))
    def series(t: String, name: String) = grid
      .join(ev.filter($"event_type" === t).groupBy($"hr")
        .agg(count(lit(1)).as(name)), Seq("hr"), "left")
      .na.fill(0L, Seq(name))
    val xy = series("click", "x").join(series("purchase", "y"), "hr")
    val st = xy.agg(count(lit(1)).as("n"), sum($"x").as("sx"),
      sum($"y").as("sy"))
    val c = xy.crossJoin(broadcast(st))
      .select($"hr", ($"n" * $"x" - $"sx").as("xc"),
        ($"n" * $"y" - $"sy").as("yc"), $"n")
    val w = Window.orderBy($"hr")
    def lagName(k: Int): String = if (k < 0) s"ym${-k}" else s"yp$k"
    val lags = (-maxLag to maxLag).toSeq
    val shifted = c.select(
      Seq($"xc".cast(dec).as("x0"), $"yc".cast(dec).as("y0"), $"n") ++
        lags.map { k =>
          val col0 = if (k == 0) $"yc"
            else if (k > 0) lead($"yc", k).over(w)
            else lag($"yc", -k).over(w)
          col0.cast(dec).as(lagName(k))
        }: _*)
    val aggs = Seq(max($"n").as("n"), sum($"x0" * $"x0").as("gxx"),
      sum($"y0" * $"y0").as("gyy")) ++
      lags.map(k => sum($"x0" * col(lagName(k))).as(s"g_${lagName(k)}"))
    val one = shifted.agg(aggs.head, aggs.tail: _*)
    one.select($"n", $"gxx", $"gyy",
      expr(lags.map(k => s"$k, g_${lagName(k)}")
        .mkString(s"stack(${lags.length}, ", ", ", ") as (lag_k, gxy_num)")))
      .select($"lag_k".cast("long").as("lag_k"),
        ($"n" - abs($"lag_k")).as("n_pairs"),
        // centered cross-products top out ~2e17 on the span-bounded
        // hourly grid — inside int64; narrow loudly
        graft.functions.num.toLongChecked($"gxy_num", "gxy_num")
          .as("gxy_num"),
        graft.functions.num.toLongChecked($"gxx", "gxx").as("gxx"),
        graft.functions.num.toLongChecked($"gyy", "gyy").as("gyy"),
        round($"gxy_num".cast("double") /
          (sqrt($"gxx".cast("double")) * sqrt($"gyy".cast("double"))), 4)
          .as("rho"))
      .orderBy($"lag_k")
  }

  /** Per-type burstiness over the daily arrival counts: the Fano
    * factor (variance/mean — 1000 milli = Poisson; above = clumped
    * arrivals, below = regular) and the Goh–Barabási burstiness
    * coefficient B = (σ−μ)/(σ+μ) ∈ (−1, 1) — the two numbers an
    * event-stream capacity plan reads before trusting any Poisson
    * assumption. Days the type is silent count as ZERO observations
    * (the span is the corpus's own [min, max] event-day range), which
    * is what makes a bursty-but-often-silent type score high instead
    * of looking regular on its active days only.
    *
    * Exactness: per-day counts are exact longs; with D = span days,
    * S = Σx and Q = Σx², variance rides the population identity
    * (D·Q − S²)/D², so σ·D = sqrt(D·Q − S²) — ONE fixed-shape sqrt of
    * an exact integer, shared by both outputs:
    * fano_milli = (D·Q − S²)/(D·S)·1000 (round, positive), and
    * burstiness_u = floor((r − S)/(r + S)·10⁶) with r = σ·D (floor,
    * because B is SIGNED and floor agrees across engines where a
    * signed half-boundary round may not). D·Q tops out ~10¹⁸ at
    * 10⁶-row day-type cells over a 10³-day span — inside int64 at any
    * gate scale; ANSI raises loudly beyond. One fact groupBy; the
    * rollup is |types|-bounded.
    */
  def eventBurstiness(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = Tables(s, dir, "events")
      .select($"event_type", $"ts".cast("date").as("day"))
      .groupBy($"event_type", $"day").agg(count(lit(1)).as("x"))
      .localCheckpoint() // span + per-type rollup read it
    val span = daily.agg(
      (datediff(max($"day"), min($"day")) + 1).cast("long").as("d"))
    daily.groupBy($"event_type")
      .agg(count(lit(1)).as("n_active_days"), sum($"x").as("s"),
        sum($"x" * $"x").as("q"))
      .crossJoin(broadcast(span))
      .withColumn("r", sqrt(($"d" * $"q" - $"s" * $"s").cast("double")))
      .select($"event_type", $"d".as("n_days"), $"n_active_days",
        $"s".as("n_events"),
        expr("s * 1000 div d").as("mean_milli"),
        round(($"d" * $"q" - $"s" * $"s").cast("double") /
          ($"d" * $"s").cast("double") * 1000).cast("long")
          .as("fano_milli"),
        floor(($"r" - $"s") / ($"r" + $"s") * 1000000).cast("long")
          .as("burstiness_u"))
      .orderBy($"event_type")
  }
}
