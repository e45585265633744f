package graft.streaming

import graft.Tables
import graft.functions.{dates, geo}
import graft.operators.{Events, Relational}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types._
import scala.reflect.runtime.universe.TypeTag

/** Structured Streaming surface (SURVEY.md §2.14 + §7.4 windows).
  *
  * Every transform is source/sink-agnostic `DataFrame => DataFrame` over a
  * streaming frame: bind a source with `spark.readStream.format("kafka")
  * .option("subscribe","gtfs-arrivals")` (the reference topic,
  * docker-compose.yml:61 in XComp/vbb-data-pipeline) or MemoryStream in
  * tests, and a sink with `writeStream.format("kafka"|"memory"|...)`.
  * Checkpointed micro-batches give at-least-once to Kafka (matching the
  * reference producer, T5) and exactly-once to idempotent sinks.
  */
object Streams {

  /** Wire schema of a GtfsArrival JSON record (the reference's Jackson
    * field names, domain/GtfsArrival.java:20-36).
    */
  val arrivalSchema: StructType = StructType(Seq(
    StructField("local-time", StringType),
    StructField("name", StringType),
    StructField("latitude", DoubleType),
    StructField("longitude", DoubleType)))

  /** Parse a `value: STRING` stream of arrival JSON. Corrupt records
    * (unparseable JSON or missing coordinates) are dropped — the
    * reference predicate's parse-failure -> false semantics
    * (utils/GeoPredicate.java:42-48).
    */
  def parseArrivals(raw: DataFrame): DataFrame =
    raw.select(from_json(col("value").cast("string"), arrivalSchema).as("a"))
      .filter(col("a").isNotNull &&
        col("a.latitude").isNotNull && col("a.longitude").isNotNull)
      .select(
        to_timestamp(col("a.`local-time`")).as("event_ts"),
        col("a.name").as("name"),
        col("a.latitude").as("latitude"),
        col("a.longitude").as("longitude"))

  /** The reference's intended-but-missing GeoFilterStream stage
    * (pom.xml:291 declares the main class; no source exists): stateless
    * haversine radius filter, no watermark required.
    */
  def geoFilter(parsed: DataFrame, centerLat: Double, centerLon: Double,
                radiusMeters: Double): DataFrame =
    parsed.filter(geo.withinRadius(
      col("latitude"), col("longitude"), centerLat, centerLon, radiusMeters))

  /** Serialize back to the wire shape for a Kafka value column. */
  def toArrivalValue(parsed: DataFrame): DataFrame =
    parsed.select(to_json(struct(
      dates.gtfsLocalTimeString(col("event_ts")).as("local-time"),
      col("name"), col("latitude"), col("longitude"))).as("value"))

  /** Per-ingest quality gate: the streaming twin of the batch
    * filter-cascade's scoring stages — length floor plus the composite
    * quality-score floor, evaluated as pure per-row expressions (one
    * tokenization, no state, no watermark), so a document stream is
    * gated at wire speed on ingest instead of re-scanning the corpus
    * later. Stages match `TextOps.filterCascade` stages 1–2 exactly;
    * the spec pins stream == batch on identical rows.
    */
  def qualityGate(docs: DataFrame,
                  minChars: Long = graft.operators.TextOps.DefaultMinChars,
                  minQuality: Double =
                    graft.operators.TextOps.DefaultMinQuality): DataFrame = {
    val toks = graft.functions.text.tokensLower(col("text"))
    docs.filter(col("n_chars") >= minChars &&
      graft.functions.text.qualityScoreTokens(
        col("text"), toks, col("n_chars")) >= minQuality)
  }

  /** Appends the rows of the audit-sized frame `stats` to `targetDir`
    * behind a leading `batch_id`; nothing when it has none. The rows are
    * collected and the batch id joins them on the driver: a per-trigger
    * literal in a plan would compile its generated code on every
    * trigger.
    */
  private def appendAudit(stats: DataFrame, batchId: Long,
                          targetDir: String): Unit = {
    import scala.jdk.CollectionConverters._
    val rows = stats.collect().toSeq
    if (rows.nonEmpty)
      stats.sparkSession.createDataFrame(
          rows.map(r => Row.fromSeq(batchId +: r.toSeq)).asJava,
          StructType(StructField("batch_id", LongType, nullable = false) +:
            stats.schema.fields))
        .write.mode("append").parquet(targetDir)
  }

  /** Shared skeleton of the complete-mode monitor sinks: every trigger
    * checkpoints the WHOLE running aggregate `agg` (complete output
    * mode) — the one job that runs the stateful aggregation — and
    * appends the audit frame `audit` builds over the checkpointed rows
    * (a trigger can fire with no data: start-before-input, recovery
    * replay). A persisted frame would not do: a core that joins the
    * frame with itself reads one side past the cache and runs the
    * aggregation again.
    */
  private def completeMonitor(agg: DataFrame, targetDir: String)(
      audit: DataFrame => DataFrame): DataStreamWriter[Row] =
    agg.writeStream.outputMode("complete")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendAudit(audit(batch.localCheckpoint()), batchId, targetDir)
      }

  /** A histogram monitor's audit frame `stats` named `cols`, or its
    * `idle` row while the histogram `hist` is empty (the batch cores
    * divide by the sample size, which ANSI mode rejects at zero). */
  private def idleOr[A <: Product : TypeTag](hist: DataFrame,
      cols: Seq[String], idle: A)(stats: => DataFrame): DataFrame =
    if (hist.isEmpty) hist.sparkSession.createDataFrame(Seq(idle)).toDF(cols: _*)
    else stats.toDF(cols: _*)

  /** The cents of a collected (day, cents) daily rollup, in day order. */
  private def centsByDay(batch: DataFrame): Seq[Long] =
    batch.collect().map(r => (r.getDate(0).toString, r.getLong(1)))
      .sortBy(_._1).map(_._2).toSeq

  /** A daily-revenue monitor's audit row over its batch core's rows
    * `perDay`, one per day seen: `n_days`, the last day's `stats`, how
    * many days alarmed and whether the last day did (0 and false where
    * the last day has no statistics, or there is no day). */
  private def lastDayRow(perDay: DataFrame, stats: Seq[String],
                         alarm: Column): DataFrame = {
    def last(c: Column) = max_by(c, col("day"))
    val aggs = stats.map(c => coalesce(last(col(c)), lit(0L)).as(c)) ++ Seq(
      count_if(alarm).as("alarm_days"),
      coalesce(last(alarm), lit(false)).as("alarm_now"))
    perDay.agg(count(lit(1)).as("n_days"), aggs: _*)
  }

  /** Streaming Holt linear-trend monitor — the stateful twin of
    * [[graft.operators.Relational.holtLinear]]: per trigger the
    * complete-mode daily rollup is collected and folded with the batch
    * operator's own driver fold, `Relational.holtSteps`, so the stream's
    * level/trend/one-step forecast is bit-identical to a batch replay
    * over the same days. Driver cost is calendar-bounded (one row per
    * day ever seen).
    */
  def holtSink(orders: DataFrame, targetDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    completeMonitor(Relational.dailyCents(orders, col("day"), col("amount")),
        targetDir) { batch =>
      val cents = centsByDay(batch)
      batch.sparkSession.createDataFrame(
          Relational.holtSteps(cents).lastOption.toSeq.map(h =>
            (cents.length.toLong, h.level, h.trend, h.level + h.trend, h.err)))
        .toDF("n_days", "level_u", "trend_u", "forecast_next_u", "last_err_u")
    }

  /** Streaming Holt–Winters monitor — the seasonal upgrade of
    * [[holtSink]] and the stateful twin of
    * [[graft.operators.Relational.holtWinters]]: per trigger the
    * complete-mode daily rollup is folded with the batch operator's own
    * driver fold, `Relational.holtWintersSteps`, so the stream's level /
    * trend / next-step seasonal forecast is bit-identical to a batch
    * replay over the same days. Driver cost is calendar-bounded.
    */
  def holtWintersSink(orders: DataFrame, targetDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    completeMonitor(Relational.dailyCents(orders, col("day"), col("amount")),
        targetDir) { batch =>
      val cents = centsByDay(batch)
      batch.sparkSession.createDataFrame(
          Relational.holtWintersSteps(cents).lastOption.toSeq.map(h =>
            (cents.length.toLong, h.level, h.trend, h.seasonNext,
              h.level + h.trend + h.seasonNext, h.err)))
        .toDF("n_days", "level_u", "trend_u", "season_next_u",
          "forecast_next_u", "last_err_u")
    }

  /** Driver-state guard for [[medianSink]]: collect the
    * (…, n) histogram rollup only when its cardinality is within
    * `maxGridCells`, else fail the stream with an actionable note. The
    * exact sink's state is bounded by the DISTINCT quantized values —
    * range-bounded for the 2-dp fixture grids, but DATA-DEPENDENT on an
    * arbitrary value column, and an unbounded-cardinality column would
    * silently grow the per-trigger driver collect until the driver
    * dies. `limit(cap + 1)` bounds the transfer even in the failure
    * path; degrading to a coarser grid instead is deliberately NOT done
    * here — it would silently break the sink's stream ≡ batch exactness
    * contract, and the right coarsening (pre-quantizing the value
    * column) belongs to the caller who knows the value semantics.
    */
  private def collectBoundedHist(batch: DataFrame, maxGridCells: Int,
                                 what: String): Array[Row] = {
    val rows = batch.limit(maxGridCells + 1).collect()
    if (rows.length > maxGridCells) throw new IllegalStateException(
      s"$what: the exact value-grid histogram exceeds maxGridCells=" +
        s"$maxGridCells distinct quantized cells. The sink's driver " +
        "state is bounded by DISTINCT quantized values, not event " +
        "count — pre-quantize the value column to a coarser grid, or " +
        "raise maxGridCells deliberately if the driver can hold it.")
    rows
  }

  /** Streaming EXACT median per event type — no P²/t-digest
    * approximation: the state is the value-grid histogram (value is
    * 2-dp data on a bounded range, so round(value·10⁴) keys a grid
    * whose size is range-bounded, constant in event count — the same
    * grid [[energyDriftSink]] and the batch medianValue rely on), and
    * an exact histogram reproduces ANY quantile exactly. Each trigger
    * emits per-type (batch_id, n, median) with the batch operator's
    * even-count convention (mean of the two middle elements), so the
    * last emission is bit-identical to
    * [[graft.operators.Events.medianValue]] over the same rows —
    * pinned by spec. Driver cost per trigger: |types|·|grid| rows,
    * guarded by `maxGridCells` (an unbounded-cardinality value column
    * fails fast with a remediation note instead of growing the driver
    * collect without bound). It stays a twin of the batch operator:
    * `medianValue` ranks raw rows and the stream holds only the
    * histogram, so sharing either way would change a batch plan or the
    * stream's state.
    */
  def medianSink(events: DataFrame, targetDir: String,
                 maxGridCells: Int = 1000000)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val hist = events
      .select(col("event_type"),
        round(col("value") * 10000).cast("long").as("vq"))
      .groupBy(col("event_type"), col("vq")).agg(count(lit(1)).as("n"))
    completeMonitor(hist, targetDir) { batch =>
      batch.sparkSession.createDataFrame(
        collectBoundedHist(batch, maxGridCells, "medianSink")
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
          .groupBy(_._1).toSeq.sortBy(_._1).map { case (tpe, cells) =>
            val sorted = cells.sortBy(_._2)
            val n = sorted.map(_._3).sum
            // batch-op convention: rows (n+1) div 2 and n div 2 + 1,
            // mean of the two (equal for odd n)
            def at(rank: Long): Long = {
              var cum = 0L
              sorted.find { c => cum += c._3; cum >= rank }.get._2
            }
            val m = (at((n + 1) / 2) / 10000.0 +
              at(n / 2 + 1) / 10000.0) / 2
            (tpe, n,
              BigDecimal(m).setScale(4, BigDecimal.RoundingMode.HALF_UP)
                .toDouble)
          }).toDF("event_type", "n_events", "median_value")
    }
  }

  /** Streaming Shewhart p-chart — the control-chart twin of
    * [[graft.operators.Events.pChart]]: the state is the batch per-day
    * (n, errors) rollup `Events.dailyErrors` (calendar-bounded), and
    * each trigger emits the batch core `Events.pChartCore` over it, so
    * the LAST emission is row-identical to the batch operator over the
    * same events. Nothing is written before the first day.
    */
  def pChartSink(events: DataFrame, targetDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    completeMonitor(Events.dailyErrors(events, col("day")), targetDir)(
      Events.pChartCore)

  /** Streaming n-gram novelty gate + first-occurrence index — the
    * ingest twin of [[graft.operators.TextOps.ngramNovelty]]: each
    * micro-batch's docs are scored against the STORED shingle set
    * (everything indexed so far) plus within-batch min-doc_id
    * first-occurrence, so when batches arrive in doc_id order the
    * emitted scores EQUAL the batch operator's over the union — pinned
    * by spec. Novel shingles append to the h-bucketed store (probes
    * never shuffle the index side, the winnow-store discipline) and a
    * doc manifest makes replays no-ops. The screen a crawler runs at
    * the door: low-novelty batches are restating data the corpus
    * already has.
    */
  def noveltyIndexSink(docs: DataFrame, table: String, targetDir: String,
                       nBuckets: Int = 8, compactEvery: Int = CompactEvery)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      val manifest = table + "_docs"
      val sel = batch
        .select(col("doc_id"),
          explode(graft.functions.text.shinglesFromTokens(
            graft.functions.text.tokensLower(col("text")), 3)).as("sh"))
        .distinct()
      val fresh = (if (spark.catalog.tableExists(manifest))
          sel.join(spark.table(manifest), Seq("doc_id"), "left_anti")
        else sel).localCheckpoint() // scoring + index append both read it
      if (!fresh.isEmpty) {
        val firstInBatch = fresh.groupBy(col("sh"))
          .agg(min(col("doc_id")).as("bd"))
        val novelSh = (if (spark.catalog.tableExists(table))
            firstInBatch.join(spark.table(table), Seq("sh"), "left_anti")
          else firstInBatch).localCheckpoint()
        fresh
          .join(novelSh, Seq("sh"), "left")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_shingles"),
            sum(when(col("bd") === col("doc_id"), 1L).otherwise(0L))
              .as("n_novel"))
          .select(col("doc_id"), col("n_shingles"), col("n_novel"),
            expr("n_novel * 10000 div n_shingles").as("novelty_bp"))
          .write.mode("append").parquet(targetDir)
        val storeExists = spark.catalog.tableExists(table)
        novelSh.select(col("sh"))
          .write.mode(if (storeExists) "append" else "overwrite")
          .bucketBy(nBuckets, "sh").sortBy("sh").saveAsTable(table)
        fresh.select(col("doc_id")).distinct()
          .write.mode(if (spark.catalog.tableExists(manifest)) "append"
            else "overwrite")
          .saveAsTable(manifest)
        maybeCompact(spark, table, nBuckets, "sh", batchId, compactEvery)
      }
      ()
    }

  /** Default compaction cadence for the index-appending sinks: every
    * append adds a file-set per bucket, so an uncompacted long-lived
    * store scans one file per batch ever appended. Rewriting to one
    * file per bucket every N batches bounds the file count at
    * nBuckets × N while keeping the probe plan (bucketed, shuffle-free)
    * and results unchanged — LayoutSpec pins both. 0 disables.
    */
  val CompactEvery: Int = 16

  /** OPTIMIZE hook shared by the index-appending sinks: after every
    * `every` appended micro-batches, rewrite the bucketed store to one
    * file per bucket via [[graft.warehouse.Layout.compactBucketedTable]].
    * Runs inside foreachBatch — between micro-batches by construction,
    * which is exactly the single-writer maintenance window the rewrite's
    * drop-and-rename swap requires.
    */
  private def maybeCompact(spark: SparkSession, table: String,
                           nBuckets: Int, bucketCol: String,
                           batchId: Long, every: Int): Unit =
    if (every > 0 && batchId > 0 && batchId % every == 0 &&
        spark.catalog.tableExists(table)) {
      graft.warehouse.Layout.compactBucketedTable(
        spark, table, nBuckets, bucketCol)
      ()
    }

  /** Streaming winnow-index MAINTENANCE — the missing third of the
    * stored-index lifecycle (batch build → `winnowProbeSink` serve →
    * THIS keeps the store current as documents arrive): each
    * micro-batch winnows itself and appends its fingerprints to the
    * h-bucketed table with the batch builder's exact layout, so the
    * store stays probe-servable (bucketed, shuffle-free on the index
    * side) without ever re-winnowing the corpus. Replayed batches
    * anti-join away on doc_id — a doc's fingerprints enter the store
    * exactly once no matter how often its batch replays.
    *
    * Each append adds a file-set per bucket, so a long-lived store
    * fragments; the index-appending sinks rewrite it to one file per
    * bucket every [[CompactEvery]] batches (the `maybeCompact` hook —
    * [[graft.warehouse.Layout.compactBucketedTable]] between
    * micro-batches), so the file count stays bounded without a manual
    * maintenance job. The probe plan (bucketed, shuffle-free) and
    * results are unchanged; LayoutSpec and StreamingSpec pin both.
    */
  def winnowIndexSink(docs: DataFrame, table: String, k: Int = 4,
                      w: Int = 4, nBuckets: Int = 8,
                      compactEvery: Int = CompactEvery)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      val sel = graft.operators.TextOps
        .winnowSelectedFrom(batch.select(col("doc_id"), col("text")), k, w)
        .select(col("doc_id"), col("h")).distinct()
      val exists = spark.catalog.tableExists(table)
      val out =
        if (!exists) sel
        else sel.join(spark.table(table).select(col("doc_id")).distinct(),
          Seq("doc_id"), "left_anti")
      out.write.mode(if (exists) "append" else "overwrite")
        .bucketBy(nBuckets, "h").sortBy("h")
        .saveAsTable(table)
      maybeCompact(spark, table, nBuckets, "h", batchId, compactEvery)
      ()
    }

  /** Streaming PSI drift monitor: each micro-batch's value distribution
    * is compared against a FROZEN reference histogram (driver-side
    * (bin → count) pairs from the batch-side reference window) by the
    * batch core `Events.psiDriftCore` over `Events.psiCells`, one row
    * per micro-batch with `contrib` summed. A value in no bin (negative
    * or null) counts in `n_events` only, as the batch operator drops
    * it. foreachBatch + a tiny per-batch rollup — no state store.
    */
  def psiDriftSink(events: DataFrame, refCounts: Seq[(Long, Long)],
                   targetDir: String, binWidth: Double = 50.0,
                   nBins: Int = 10)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val cur = batch
        .select(Events.psiBin(col("value"), binWidth, nBins).as("bin"))
        .groupBy(col("bin")).agg(count(lit(1)).as("cur_n"))
      val ref = batch.sparkSession.createDataFrame(refCounts)
        .toDF("bin", "ref_n")
      appendAudit(Events.psiDriftCore(
          Events.psiCells(ref.join(cur, Seq("bin"), "full"), nBins), nBins)
        .agg(sum(col("contrib")).as("psi_e10"))
        .crossJoin(broadcast(cur.agg(sum(col("cur_n")).as("n_events"))))
        .select(coalesce(col("n_events"), lit(0L)).as("n_events"),
          col("psi_e10"),
          (col("psi_e10") >= 1000000000L).as("drift_alarm")), // 0.1 in 1e-10
        batchId, targetDir)
    }

  /** Frozen-rate stratified sampling gate: the serving twin of
    * `Events.neymanAllocation` — the batch design fixes per-stratum keep
    * rates alloc/n_h once, and this stateless gate applies them to
    * arriving events via the shared integer md5 decision
    * (`Events.neymanKeepExpr`), so the stream keeps EXACTLY the rows a
    * batch replay of the same design would keep (no reservoir, no
    * state, no rate drift between train-time and serve-time sampling).
    */
  def neymanSampleGate(events: DataFrame,
                       rates: Seq[(String, Long, Long)]): DataFrame =
    events.withColumn("keep",
      graft.operators.Events.neymanKeepExpr(rates))

  /** CUSUM level-shift monitor: the streaming twin of
    * `Relational.cusumShift` — a stateful running per-day revenue
    * rollup (one row per day), over which each trigger evaluates the
    * batch core `Relational.cusumShiftCore` against a FROZEN mean μ
    * (a live μ would let the drift poison its own baseline). Emits the
    * latest day's two CUSUM statistics plus how many days have ever
    * alarmed — the batch numbers for the same days.
    */
  def cusumMonitorSink(orders: DataFrame, mu: Long, targetDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    completeMonitor(Relational.dailyCents(orders, col("day"), col("amount")),
        targetDir) { batch =>
      lastDayRow(Relational.cusumShiftCore(batch, lit(mu)),
        Seq("s_hi", "s_lo"), col("alarm_hi") || col("alarm_lo"))
    }

  /** Conformal coverage gate: the streaming application of
    * `TextOps.conformalCalibration` — the batch pass fixes the
    * fixed-point predictor (a_u, b_u) and the calibration quantile
    * q_hat once, and this STATELESS per-row gate flags arriving docs
    * whose token count falls outside ŷ ± q̂ (the neymanSampleGate
    * discipline: frozen batch design, scan-speed stream application,
    * zero state, zero rate drift). Out-of-interval docs are exactly
    * the ones the 1−α exchangeability guarantee says should be rare —
    * a burst of them means the stream's docs no longer look like the
    * calibration corpus, which is a drift alarm with a THEOREM under
    * it rather than a tuned threshold.
    */
  def conformalGate(docs: DataFrame, aU: Long, bU: Long,
                    qHat: Long): DataFrame =
    docs
      .withColumn("toks",
        size(graft.functions.text.tokensLower(col("text"))).cast("long"))
      .withColumn("s_u",
        abs(col("toks") * lit(1000000L) - lit(aU)
          - lit(bU) * col("n_chars")))
      .withColumn("covered", col("s_u") <= lit(qHat))
      .drop("toks")

  /** Page–Hinkley drift monitor: the streaming twin of
    * `Relational.pageHinkley` — the CUSUM sink's daily-revenue state,
    * over which each trigger evaluates the batch core
    * `Relational.pageHinkleyCore` against the RUNNING mean (no
    * reference window to pick: the monitor self-baselines). Emits the
    * latest day's PH pair, the running mean, and how many days have
    * ever alarmed — the batch numbers for the same days.
    */
  def pageHinkleySink(orders: DataFrame, targetDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    completeMonitor(Relational.dailyCents(orders, col("day"), col("amount")),
        targetDir) { batch =>
      lastDayRow(Relational.pageHinkleyCore(batch),
        Seq("ph_hi", "ph_lo", "mbar_u"), col("alarm_hi") || col("alarm_lo"))
    }

  /** Streaming cluster maintenance: a similarity-pair stream folds into
    * a continuously-maintained ASSIGNMENTS view (doc_id → canon_id) via
    * the same quotient-graph merge the batch `Dedup.incrementalClusters`
    * uses — CC runs per micro-batch on the batch-sized quotient only,
    * never the corpus, and the view after any prefix of batches equals
    * a batch CC over the union of pairs seen so far (the spec's pinned
    * contract). Pair production upstream is whatever the pipeline
    * already streams — `StatefulDedup`'s stream pairs or the stored-
    * index probe; this sink is the missing write half. Durability and
    * replay-skip ride [[commitVersionedSnapshot]].
    */
  def clusterMaintenanceSink(pairs: DataFrame, viewDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    versionedSnapshot(pairs, viewDir,
        StructType.fromDDL("doc_id BIGINT, canon_id BIGINT")) { (stored, batch) =>
      graft.operators.Dedup.mergeIntoAssignments(
        stored.localCheckpoint(), // merge joins it three times
        batch.select(col("doc_a"), col("doc_b")))
    }

  /** Robust-baseline drift monitor: the streaming twin of
    * `Relational.rollingMedianMad` — the CUSUM sink's daily-revenue
    * state, over which each trigger evaluates the batch core
    * `Relational.rollingMedianMadCore`, so the alarm history is
    * BIT-IDENTICAL to a batch replay of the days seen so far. `n_days`
    * counts the warm-up days too; before the first full window the
    * statistics are 0.
    */
  def robustBaselineSink(orders: DataFrame, targetDir: String,
                         win: Int = 28)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    completeMonitor(Relational.dailyCents(orders, col("day"), col("amount")),
        targetDir) { batch =>
      // the core has no row for a warm-up day, which n_days still counts
      lastDayRow(batch.select(col("day")).join(
          Relational.rollingMedianMadCore(batch, win), Seq("day"), "left"),
        Seq("med2", "mad4"), col("anomaly"))
    }

  /** `(vq, c1, c2)` cells of a frozen reference histogram against a
    * running one `(vq, n)` — the stream is the second sample. */
  private def refCells(ref: Seq[(Long, Long)], cur: DataFrame): DataFrame =
    cur.sparkSession.createDataFrame(ref).toDF("vq", "c1")
      .join(cur.withColumnRenamed("n", "c2"), Seq("vq"), "full")
      .select(col("vq"), coalesce(col("c1"), lit(0L)).as("c1"),
        coalesce(col("c2"), lit(0L)).as("c2"))

  /** The running 1e-4 value-grid histogram `(vq, n)` of a value stream. */
  private def valueGrid(values: DataFrame): DataFrame =
    values.select(round(col("value") * 10000).cast("long").as("vq"))
      .groupBy(col("vq")).agg(count(lit(1)).as("n"))

  /** Exact-KS drift monitor: the streaming twin of `Events.ksDrift` —
    * a STATEFUL running histogram on the 1e-4 value grid (one state row
    * per distinct value ever seen), against which each trigger evaluates
    * the batch core `Events.ksDriftCore` with the frozen early-half
    * reference (`Events.ksReferenceCounts`) as the first sample — the
    * batch d_num/d_bp for the same rows. Before the first value the row
    * is idle (`crit_bp` = Long.MaxValue, never drifted).
    */
  def ksDriftSink(values: DataFrame, refCounts: Seq[(Long, Long)],
                  targetDir: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    completeMonitor(valueGrid(values), targetDir) { batch =>
      idleOr(batch, Seq("n_cur", "d_num", "d_bp", "crit_bp",
          "drifted"), (0L, 0L, 0L, Long.MaxValue, false)) {
        Events.ksDriftCore(refCells(refCounts, batch))
          .select(col("n_late"), col("d_num"), col("d_bp"), col("crit_bp"),
            col("drifted"))
      }
    }

  /** Energy-distance drift monitor — the streaming twin of
    * `Events.energyDistance`: [[ksDriftSink]]'s state and reference,
    * evaluated per trigger by the batch core `Events.energyDistanceCore`
    * and alarmed at a caller-frozen threshold. Before the first value
    * the row is all zero. Where KS pages on the sup CDF gap, energy
    * pages on ANY distributional change.
    */
  def energyDriftSink(values: DataFrame, refCounts: Seq[(Long, Long)],
                      targetDir: String, alarmU: Long)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    completeMonitor(valueGrid(values), targetDir) { batch =>
      idleOr(batch, Seq("n_cur", "a_u", "b_u", "c_u", "energy_u",
          "drifted"), (0L, 0L, 0L, 0L, 0L, false)) {
        Events.energyDistanceCore(refCells(refCounts, batch))
          .select(col("n_late"), col("a_u"), col("b_u"), col("c_u"),
            col("energy_u"), col("energy_u") >= alarmU)
      }
    }

  /** Benford first-digit monitor: the streaming twin of
    * `Relational.benfordAudit` — the batch digit histogram
    * `Relational.benfordDigits` as running state (9 rows), snapshotted
    * per trigger into a (batch_id, n_orders, chi2_u, skew_alarm) row by
    * summing the batch core `Relational.benfordAuditCore`'s `contrib_u`
    * — the batch statistic to the last micro-unit. Before the first
    * amount of at least 1.0 the row is all zero.
    */
  def benfordMonitorSink(amounts: DataFrame, targetDir: String,
                         alarmChi2U: Long)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    completeMonitor(Relational.benfordDigits(amounts, col("amount")),
        targetDir) { batch =>
      idleOr(batch, Seq("n_orders", "chi2_u", "skew_alarm"),
          (0L, 0L, false)) {
        Relational.benfordAuditCore(batch)
          .agg(sum(col("n_obs")), sum(col("contrib_u")).as("chi2_u"))
          .select(col("sum(n_obs)"), col("chi2_u"),
            col("chi2_u") >= alarmChi2U)
      }
    }

  /** Gopher-rule ingest gate: the streaming twin of
    * `TextOps.gopherRules` — all seven Rae et al. 2021 screens evaluated
    * as stateless per-row expressions on the arriving frame (the SAME
    * expression tree as the batch operator, via `gopherVerdictsFrom`),
    * so verdicts are bit-identical to the batch screen and the stream
    * is gated at wire speed with no state store or watermark.
    */
  def gopherGate(docs: DataFrame,
                 requiredWords: Seq[String] =
                   graft.operators.TextOps.GopherRequiredWords): DataFrame =
    graft.operators.TextOps.gopherVerdictsFrom(
      docs.select(col("doc_id"), col("text")), requiredWords)

  /** Learned-classifier ingest gate: the serving half of the
    * train-distributed / deploy-to-the-edge loop —
    * `TextOps.qualityLrTrain` learns the micro-unit weight vector
    * batch-side; this gate folds those weights into the SAME
    * feature/score expressions (`TextOps.lrFeats`/`lrScore` — one
    * definition, serving cannot drift from training) and scores each
    * arriving document at wire speed: stateless, no watermark, no join,
    * pure hard-sigmoid arithmetic inside codegen. Emits the probability
    * (`lr_p`) alongside the kept rows so downstream routing can
    * threshold differently without rescoring.
    */
  def classifierGate(docs: DataFrame, wMicro: Seq[Long],
                     minP: Double = 0.5): DataFrame = {
    import graft.operators.TextOps
    docs
      .withColumn("toks", graft.functions.text.tokensLower(col("text")))
      .withColumn("lr_p",
        TextOps.lrScore(TextOps.lrFeats(col("toks"), col("n_chars")), wMicro))
      .filter(col("lr_p") >= minP)
      .drop("toks")
  }

  /** Streaming DSIR admission gate: the deploy half of
    * `TextOps.dsirSelect` — each arriving document's hashed-unigram
    * importance weight is computed statelessly at the scan from the
    * FROZEN per-feature llr table (trained batch-side, ≤ dim entries,
    * folded in as a map literal via `TextOps.dsirLlrTable`), and docs
    * below `minWeightU` drop. Same contract as the classifier gate:
    * scoring expressions are shared with batch training, so admission
    * cannot drift from the model; integer llr sums make the per-doc
    * weight EXACTLY the batch weight, not an approximation. No state
    * store, no watermark, no shuffle — wire-speed in any trigger.
    * A feature unseen in training scores 0 (absent from the map), the
    * same contribution the batch side gives it.
    */
  def dsirGate(docs: DataFrame, llrU: Map[Long, Long], minWeightU: Long,
               dim: Int = 1024): DataFrame = {
    val toks = graft.functions.text.tokensLower(col("text"))
    val llrMap = typedLit(llrU)
    val perTok = transform(toks, t =>
      coalesce(
        element_at(llrMap,
          pmod(conv(substring(md5(concat(lit("dsir:"), t)), 1, 15), 16, 10)
            .cast("long"), lit(dim.toLong))),
        lit(0L)))
    docs
      .withColumn("weight_u",
        coalesce(aggregate(perTok, lit(0L), (acc, x) => acc + x), lit(0L)))
      .filter(col("weight_u") >= minWeightU)
  }

  /** Streaming decontamination gate: the stateless streaming twin of
    * `TextOps.bloomDecontamination`'s scan-side prune. The eval-split
    * shingle bloom is built ONCE batch-side
    * (`TextOps.evalShingleBloom`) and rides the plan as a static
    * artifact; each arriving document probes its own shingles against
    * it — no state store, no watermark, no join, so the gate runs at
    * wire speed in any micro-batch or continuous trigger. No false
    * negatives (a doc sharing an n-gram with the eval split ALWAYS
    * flags); `fpp` false positives flag conservatively — route flagged
    * docs to the exact batch verify instead of dropping them.
    */
  def decontaminationGate(docs: DataFrame, evalBloomBytes: Array[Byte],
                          n: Int = 8): DataFrame = {
    import graft.functions.expressions.BloomMightContain
    import org.apache.spark.sql.GraftBridge
    val toks = graft.functions.text.tokensLower(col("text"))
    val shingles = graft.functions.text.shinglesFromTokens(toks, n)
    val suspect = filter(shingles, sh => GraftBridge.column(BloomMightContain(
      GraftBridge.expression(lit(evalBloomBytes)),
      GraftBridge.expression(xxhash64(sh)))))
    docs
      .withColumn("n_suspect_shingles",
        coalesce(size(suspect), lit(0)).cast("long"))
      .withColumn("contaminated", col("n_suspect_shingles") > 0)
  }

  /** Per-ingest mixture sampling: the streaming twin of
    * `TextOps.mixtureSample`'s draw stage. Rates are FROZEN — designed
    * batch-side from corpus totals and broadcast as a tiny (source,
    * rate_bp) table — while the draw itself is the same stateless
    * md5-bucket expression at 1/10000 granularity, so a document stream
    * samples at wire speed with no state store and no watermark.
    * Because membership depends only on (doc_id, its source's rate),
    * the union of per-micro-batch draws equals the batch draw over the
    * union — the exactly-one-decision-per-doc property the spec pins.
    */
  def mixtureFilter(docs: DataFrame, ratesBp: DataFrame): DataFrame =
    docs.join(broadcast(ratesBp), Seq("source"))
      .filter(graft.operators.TextOps.hashBucketMod(
        col("doc_id"), "mix:", 10000L) < col("rate_bp"))
      .drop("rate_bp")

  // ---- Kafka bindings (S8/K3) — config, not semantics: every transform
  // above is source/sink-agnostic. The connector jar (spark-sql-kafka-
  // 0-10 + kafka-clients) is NOT on this build's classpath (build.sbt
  // resolves only from /opt/spark/jars, which ships without it), so
  // format("kafka") would fail provider lookup here even with a broker.
  // What IS testable offline — and is — lives one level down:
  // option-string validation against the connector's documented surface,
  // and a capability probe via the public DataSourceRegister service
  // registry, so a misconfigured deployment fails at config time with a
  // named error instead of deep inside a Spark job. Deployments add the
  // connector with `--packages org.apache.spark:spark-sql-kafka-0-10_2.13`
  // (matching the Spark version) — see README.

  /** True iff a data source registered under `kafka` is on the
    * classpath — the public ServiceLoader registry, the same lookup
    * `format("kafka")` resolves through.
    */
  def kafkaConnectorAvailable: Boolean = {
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader
      .load(classOf[org.apache.spark.sql.sources.DataSourceRegister])
      .asScala.exists(_.shortName == "kafka")
  }

  /** Validated Kafka endpoint config. Fails fast (IllegalArgumentException
    * naming the bad option) on the classic misconfigurations the
    * connector itself only reports mid-job: empty/portless bootstrap
    * list, blank topic, or an unknown startingOffsets value.
    */
  final case class KafkaEndpoint(bootstrap: String, topic: String,
                                 startingOffsets: String = "latest") {
    require(bootstrap.nonEmpty && bootstrap.split(",").forall { b =>
      val hp = b.trim.split(":")
      // ASCII digits only (Character.isDigit accepts Unicode digit sets
      // the Kafka client won't parse) and a real port range
      hp.length == 2 && hp(0).nonEmpty && hp(1).nonEmpty &&
        hp(1).forall(c => c >= '0' && c <= '9') &&
        hp(1).length <= 5 && hp(1).toInt >= 1 && hp(1).toInt <= 65535
    }, s"kafka.bootstrap.servers must be host:port[,host:port...] with port 1-65535, got '$bootstrap'")
    require(topic.nonEmpty && !topic.exists(_.isWhitespace),
      s"topic must be a non-blank Kafka topic name, got '$topic'")
    require(startingOffsets == "latest" || startingOffsets == "earliest" ||
      startingOffsets.trim.startsWith("{"),
      s"startingOffsets must be latest|earliest|{json offsets}, got '$startingOffsets'")
  }

  private def requireConnector(): Unit =
    if (!kafkaConnectorAvailable)
      throw new IllegalStateException(
        "Kafka connector not on the classpath: add " +
          "org.apache.spark:spark-sql-kafka-0-10_2.13 (same Spark version) " +
          "via --packages or the cluster's jars dir")

  /** `gtfs-arrivals` topic source (reference topic, docker-compose.yml:61).
    *
    * Wire-level status (round-13 adjudication): an embedded-broker
    * round-trip spec (arrivals → kafkaSink → kafkaSource → geoFilter)
    * needs `spark-sql-kafka-0-10` + a kafka-server test harness; neither
    * artifact exists in this build environment's offline dependency
    * cache or /opt/spark/jars (verified by cache search — zero kafka
    * artifacts resolvable with zero egress), so the `format("kafka")`
    * codepath itself stays exercised only at deployment. The semantic
    * contract (JSON wire schema, at-least-once replay, geo filtering,
    * checkpoint restart) is pinned by the file/memory-backed streaming
    * specs, which drive the SAME transforms through the same
    * DataStreamWriter surface.
    */
  def kafkaSource(spark: org.apache.spark.sql.SparkSession,
                  endpoint: KafkaEndpoint): DataFrame = {
    requireConnector()
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", endpoint.bootstrap)
      .option("subscribe", endpoint.topic)
      .option("startingOffsets", endpoint.startingOffsets)
      .load()
  }

  /** Kafka value sink; Spark batches sends per epoch (the reference's
    * per-record synchronous send().get() is its main throughput cap —
    * BASELINE.md), checkpointing gives at-least-once.
    */
  def kafkaSink(values: DataFrame, endpoint: KafkaEndpoint,
                checkpoint: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    requireConnector()
    values.writeStream.format("kafka")
      .option("kafka.bootstrap.servers", endpoint.bootstrap)
      .option("topic", endpoint.topic)
      .option("checkpointLocation", checkpoint)
  }

  // ---- windowed aggregations over the events stream (§7.4) --------------

  /** Tumbling 1h counts per event type; late data beyond `lateness`
    * dropped by the watermark, so state is bounded — the property that
    * lets this run forever on an unbounded topic.
    */
  def hourlyTypeCounts(events: DataFrame, lateness: String = "1 hour"): DataFrame =
    events.withWatermark("ts", lateness)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Idempotent warehouse merge sink — the streaming twin of the
    * loader's PK-dedup append (K1 / ON CONFLICT DO NOTHING): each
    * micro-batch anti-joins the target on the key before appending, so
    * replayed batches after a failure (at-least-once delivery) cannot
    * duplicate rows. Combined with checkpointing this upgrades the sink
    * to effectively-once.
    */
  def idempotentMergeSink(stream: DataFrame, targetDir: String, keyCol: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      // dedup WITHIN the batch too — an at-least-once source can deliver
      // the same key twice in one micro-batch, which the target anti-join
      // alone would let through
      appendAbsent(batch.dropDuplicates(keyCol), targetDir, keyCol)
    }

  /** Shared append of the idempotent sinks (ON CONFLICT DO NOTHING):
    * append the `rows` whose `keys` the parquet store at `targetDir`
    * does not hold yet, so a replayed micro-batch cannot duplicate a
    * stored row. Dedup WITHIN a batch stays with the caller.
    */
  private def appendAbsent(rows: DataFrame, targetDir: String,
                           keys: String*): Unit = {
    val spark = rows.sparkSession
    // target-existence probe must go through Hadoop's FileSystem so it
    // works on HDFS/S3 paths too, not just the local filesystem
    val hPath = new org.apache.hadoop.fs.Path(targetDir)
    val exists = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hPath)
    val fresh =
      if (!exists) rows
      else rows.join(Tables.readParquet(spark, targetDir).select(keys.map(col): _*),
        keys, "left_anti")
    fresh.write.mode("append").parquet(targetDir)
  }

  /** Streaming tokenize→pack→shard sink: the foreachBatch twin of the
    * batch assembly chain (`TextOps.bpeEncode` →
    * `Packing.sequencePackingEncoded` → JSONL shards). Each micro-batch
    * of documents is tokenized with the FROZEN trained merge table (the
    * same expressions as the batch encode — shared via
    * `TextOps.bpeSymsCol`, designed batch-side exactly like the
    * mixture-filter's rates), then packed against a persisted per-lang
    * running token offset so bin assignment continues seamlessly across
    * micro-batches, and appended as JSONL under `dstDir` partitioned by
    * (lang, bin). For an append-only ingest arriving in doc_id order the
    * shard contents equal the batch export over the union — the property
    * the spec pins.
    *
    * Exactly-once: the tiny `_pack_state` table carries (lang, next_off)
    * plus the last committed batch id; a replayed micro-batch (id ≤
    * committed) is skipped whole, and the data write itself goes through
    * Spark's committer (no half-visible shard files). State is
    * rewritten via write-new-then-swap so a crash between data and state
    * commits at a batch boundary, never half a batch.
    */
  def tokenizePackShardSink(docs: DataFrame, merges: Seq[(String, String)],
                            dstDir: String,
                            budget: Int = graft.operators.Packing.PackBudget,
                            compactEvery: Int = CompactEvery)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      import org.apache.spark.sql.expressions.Window
      val hconf = spark.sparkContext.hadoopConfiguration
      val statePath = new org.apache.hadoop.fs.Path(dstDir, "_pack_state")
      val fs = statePath.getFileSystem(hconf)
      val (state, committedId) =
        if (!fs.exists(statePath)) (Map.empty[String, Long], -1L)
        else {
          val rows = Tables.readParquet(spark, statePath.toString).collect()
          (rows.map(r => r.getString(0) -> r.getLong(1)).toMap,
            rows.map(_.getLong(2)).foldLeft(-1L)(math.max))
        }
      if (batchId > committedId) {
        val syms = graft.operators.TextOps.bpeSymsCol(col("text"), merges)
        val enc = batch
          .select(col("doc_id"), col("lang"),
            size(syms).cast("long").as("n_tok"),
            concat_ws(" ", transform(syms,
              s => graft.operators.TextOps.bpeIdFor(s, merges).cast("string")))
              .as("ids"))
        val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val baseOf = state.foldLeft(lit(0L)) { case (els, (lang, off)) =>
          when(col("lang") === lang, lit(off)).otherwise(els)
        }
        val packed = enc
          .withColumn("off", baseOf + sum(col("n_tok")).over(w) - col("n_tok"))
          .withColumn("bin", expr(s"off div $budget"))
          .localCheckpoint()
        packed
          .select(col("lang"), col("bin"),
            to_json(struct(col("doc_id"), col("n_tok"), col("off"), col("ids")),
              Map("ignoreNullFields" -> "false")).as("value"))
          .write.mode("append").partitionBy("lang", "bin").text(dstDir)
        val newTotals = packed.groupBy(col("lang"))
          .agg(max(col("off") + col("n_tok")).as("next_off")).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val merged = (state ++ newTotals).toSeq
        val tmp = new org.apache.hadoop.fs.Path(dstDir, "_pack_state_tmp")
        spark.createDataFrame(merged.map { case (l, o) => (l, o, batchId) })
          .toDF("lang", "next_off", "batch_id")
          .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        if (fs.exists(statePath)) fs.delete(statePath, true)
        fs.rename(tmp, statePath)
        // shard-tree OPTIMIZE on the index-store cadence: every append
        // adds a file per partition, so a long-lived sink fragments;
        // the rewrite is content-identical (StreamingSpec pins it)
        if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
          graft.warehouse.Layout.compactPartitionedText(spark, dstDir)
      }
      ()
    }

  /** Streaming label-noise gate: each arriving (vec_id, embedding,
    * label) row is scored statelessly against the FROZEN per-label
    * centroids (trained batch-side via `Similarity.labelCentroids`,
    * folded in as literal arrays) — rows whose own-label cosine is
    * beaten by a rival centroid flag with the rival and the margin, the
    * ingest-time form of `Similarity.labelSuspects`. Same fixed-point
    * rounding as the batch screen, so streamed verdicts are integer-
    * exact equal to batch verdicts; no state, no shuffle, wire speed.
    */
  def labelSuspectGate(vecs: DataFrame,
                       centroids: Map[Int, Array[Double]]): DataFrame = {
    import graft.functions.vectors
    val v = vectors.toDoubleArray(col("embedding"))
    def csT(c: Array[Double]): org.apache.spark.sql.Column =
      round(round(vectors.cosineSimilarity(v,
        array(c.toSeq.map(lit): _*)), 4) * 10000).cast("long")
    val intra = centroids.foldLeft(lit(-20000L)) { case (els, (lbl, c)) =>
      when(col("label") === lbl, csT(c)).otherwise(els)
    }
    // rival argmax over OTHER labels with (score desc, label asc) ties —
    // fold in ascending label order keeping strict-greater replacements
    val (rl0, rt0) = (lit(-1), lit(-20000L))
    val (rivalLbl, rivalT) = centroids.toSeq.sortBy(_._1)
      .foldLeft((rl0, rt0)) { case ((bl, bt), (lbl, c)) =>
        val t = csT(c)
        val better = col("label") =!= lbl && t > bt
        (when(better, lit(lbl)).otherwise(bl), when(better, t).otherwise(bt))
      }
    vecs
      .withColumn("intra_t", intra)
      .withColumn("rival_label", rivalLbl)
      .withColumn("rival_t", rivalT)
      .filter(col("rival_t") > col("intra_t"))
      .select(col("vec_id"), col("label"), col("rival_label"),
        col("intra_t"), col("rival_t"),
        (col("rival_t") - col("intra_t")).as("margin_t"))
  }

  private val CdcMetaPrefix = "_cdc_meta_"

  /** Resolve the committed (snapshot dir, batch id) under `root`: the
    * max-id `_cdc_meta_<id>` dir that Spark fully committed (`_SUCCESS`
    * present). None when no committed meta exists yet.
    */
  private def resolveCdcMeta(fs: org.apache.hadoop.fs.FileSystem,
                             root: org.apache.hadoop.fs.Path)
      : Option[(String, Long)] = {
    if (!fs.exists(root)) return None
    fs.listStatus(root).iterator
      .filter(_.isDirectory)
      .map(_.getPath)
      .filter(_.getName.startsWith(CdcMetaPrefix))
      .filter(p => p.getName.drop(CdcMetaPrefix.length).forall(_.isDigit) &&
        fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")))
      .map(p => (p, p.getName.drop(CdcMetaPrefix.length).toLong))
      .toSeq.sortBy(-_._2).headOption
      .map { case (p, id) => (s"snap_$id", id) }
  }

  /** Shared commit half of every versioned-snapshot sink: write the new
    * `snap_<batchId>`, then the NEW meta pointer (its own dir — no
    * rename over the old one), then retire pointers and snapshots
    * beyond the newest `retain` versions. Crash before the new meta
    * commits → old meta still resolves; crash mid-cleanup → max-id
    * resolution still picks the new one and the next batch re-retires
    * the stragglers.
    *
    * `retain` is the version-retention knob: 1 (the sinks' default)
    * keeps only the just-committed version — the tightest footprint;
    * N > 1 keeps the N newest, which is what a deployment with concurrent
    * snapshot readers wants (a reader that resolved the previous
    * pointer an instant before this commit keeps a complete snapshot
    * under its feet) and what version-diff debugging reads. Resolution
    * is unconditionally max-id, so retention never changes what
    * readers see or which replayed batch ids skip.
    */
  private def commitVersionedSnapshot(
      spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, batchId: Long,
      next: DataFrame, retain: Int): Unit = {
    val vdir = s"snap_$batchId"
    next.write.mode("overwrite")
      .parquet(new org.apache.hadoop.fs.Path(root, vdir).toString)
    val metaP = new org.apache.hadoop.fs.Path(root, s"$CdcMetaPrefix$batchId")
    spark.createDataFrame(Seq((vdir, batchId))).toDF("dir", "batch_id")
      .coalesce(1).write.mode("overwrite").parquet(metaP.toString)
    def idOf(n: String): Option[Long] =
      if (n.startsWith(CdcMetaPrefix) &&
          n.drop(CdcMetaPrefix.length).forall(_.isDigit))
        Some(n.drop(CdcMetaPrefix.length).toLong)
      else if (n.startsWith("snap_") && n.drop(5).forall(_.isDigit))
        Some(n.drop(5).toLong)
      else None
    val present = fs.listStatus(root).iterator.map(_.getPath)
      .flatMap(p => idOf(p.getName)).toSeq
    val keep = (present :+ batchId).distinct.sorted(Ordering[Long].reverse)
      .take(math.max(retain, 1)).toSet
    fs.listStatus(root).iterator.map(_.getPath)
      .filter(p => idOf(p.getName).exists(id => !keep.contains(id)))
      .foreach(p => fs.delete(p, true))
  }

  /** Shared skeleton of the versioned-snapshot sinks: resolve the
    * committed version under `dir`, skip a replayed batch id ≤ the
    * committed one whole, read the stored frame (an empty one of
    * `schema` before the first commit), fold the micro-batch in with
    * `step(stored, batch)` and commit the result through
    * [[commitVersionedSnapshot]], keeping the newest `retain` versions.
    */
  private def versionedSnapshot(stream: DataFrame, dir: String,
                                schema: StructType, retain: Int = 1)(
      step: (DataFrame, DataFrame) => DataFrame): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      val root = new org.apache.hadoop.fs.Path(dir)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val resolved = resolveCdcMeta(fs, root)
      if (batchId > resolved.map(_._2).getOrElse(-1L)) {
        val stored = resolved
          .map { case (d, _) => Tables.readParquet(spark,
            new org.apache.hadoop.fs.Path(root, d).toString) }
          .getOrElse(spark.createDataFrame(
            spark.sparkContext.emptyRDD[Row], schema))
        commitVersionedSnapshot(spark, fs, root, batchId,
          step(stored, batch), retain)
      }
      ()
    }

  /** Continuously-maintained snapshot from a CDC change stream — the
    * streaming half of `Relational.applyCdc`: each micro-batch of
    * (doc_id, status, fp) changes folds into a versioned snapshot under
    * `snapshotDir`, readers resolving the current version through a tiny
    * VERSIONED meta pointer `_cdc_meta_<batchId>` written AFTER the new
    * snapshot commits. Meta versions are resolved by max batch id (only
    * dirs carrying Spark's `_SUCCESS` commit marker count) and older
    * versions are deleted only after the new one is fully visible — so
    * there is no delete-then-rename window: a crash at ANY point leaves
    * at least one committed meta resolving to a complete snapshot.
    * Replayed micro-batches (id ≤ committed) are skipped whole, and the
    * per-batch apply drops EVERY changed key from the base before
    * re-adding upserts, so even a crash between data and meta commits
    * replays to the identical snapshot (idempotent apply, not just
    * idempotent skip).
    */
  def cdcApplySink(changes: DataFrame, snapshotDir: String,
                   retainVersions: Int = 1)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    versionedSnapshot(changes, snapshotDir,
        StructType.fromDDL("doc_id BIGINT, fp STRING"), retainVersions) {
      (base, batch) =>
        val b = batch.select(col("doc_id"), col("status"), col("fp"))
          .localCheckpoint() // key anti-join + upsert leg both read it
        base
          .join(b.select(col("doc_id")).distinct(), Seq("doc_id"), "left_anti")
          .unionByName(b.filter(col("status").isin("added", "modified"))
            .select(col("doc_id"), col("fp")))
    }

  /** Streaming incremental view maintenance — the foreachBatch twin of
    * `Relational.ivmAggApply` for the SELF-MAINTAINABLE moment
    * aggregates: a delta stream of (key, cents, sign ∈ +1 insert /
    * −1 delete) folds into a continuously-maintained grouped view
    * (key → n, sum, sum2) with NO base table anywhere — count, sum and
    * sum of squares absorb deletes exactly (the ring-of-deltas point:
    * every polynomial moment is self-maintainable, so mean and
    * variance ride along for free), and groups whose count reaches
    * zero vanish from the view. MIN/MAX are deliberately absent: under
    * deletes they are NOT self-maintainable without re-probing a
    * stored base, which is exactly what the batch operator's bounded
    * repair does — the sink maintains what streaming honestly can.
    * Durability rides [[commitVersionedSnapshot]]: versioned snapshots
    * + max-id meta, replayed batch ids ≤ committed skipped whole.
    */
  def ivmAggSink(deltas: DataFrame, viewDir: String,
                 retainVersions: Int = 1)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    versionedSnapshot(deltas, viewDir,
        StructType.fromDDL("key BIGINT, n BIGINT, s BIGINT, s2 DECIMAL(38,0)"),
        retainVersions) { (view, batch) =>
      val dec = "decimal(38,0)"
      val dAgg = batch
        .groupBy(col("key"))
        .agg(sum(col("sign").cast("long")).as("n_d"),
          sum((col("sign") * col("cents")).cast("long")).as("s_d"),
          sum((col("sign").cast(dec) * col("cents") * col("cents")))
            .as("s2_d"))
      view.join(dAgg, Seq("key"), "full_outer")
        .select(col("key"),
          (coalesce(col("n"), lit(0L)) + coalesce(col("n_d"), lit(0L)))
            .as("n"),
          (coalesce(col("s"), lit(0L)) + coalesce(col("s_d"), lit(0L)))
            .as("s"),
          (coalesce(col("s2"), lit(0L).cast(dec))
            + coalesce(col("s2_d"), lit(0L).cast(dec)))
            .cast(dec).as("s2"))
        .filter(col("n") > 0L)
    }

  /** Read the cdcApplySink-maintained snapshot through its meta pointer. */
  def readCdcSnapshot(s: org.apache.spark.sql.SparkSession,
                      snapshotDir: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(snapshotDir)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val (vdir, _) = resolveCdcMeta(fs, root).getOrElse(
      throw new IllegalStateException(
        s"no committed _cdc_meta_<id> under $snapshotDir"))
    Tables.readParquet(s, new org.apache.hadoop.fs.Path(root, vdir).toString)
  }

  /** Stream-vs-stored-index dedup probe: arriving documents are banded
    * in-row (`StatefulDedup.bandArray` — bit-identical to the batch
    * scheme) and stream-static-joined against the PERSISTED bucketed
    * band index (`Dedup.writeBandIndex`), emitting (new_doc, index_doc)
    * candidates — the serving path of the stored index: batch builds it
    * once, the ingest stream probes it at wire speed. The static side's
    * (band, sig) bucketing means the join never shuffles the index;
    * only the arriving micro-batch moves. The foreachBatch sink
    * collapses multi-band agreements to one row per pair and anti-joins
    * the target before appending, so replayed batches cannot duplicate
    * (the idempotentMergeSink discipline on a composite key).
    */
  def indexProbeSink(docs: DataFrame, index: DataFrame, targetDir: String,
                     shingleSize: Int = 3, numHashes: Int = 12,
                     rowsPerBand: Int = 3)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val banded = docs.select(col("doc_id").as("new_doc"),
        explode(StatefulDedup.bandArray(col("text"), shingleSize, numHashes,
          rowsPerBand)).as("bs"))
      .select(col("new_doc"), col("bs.band").as("band"), col("bs.sig").as("sig"))
    val cand = banded
      .join(index.select(col("doc_id").as("index_doc"), col("band"), col("sig")),
        Seq("band", "sig"))
      .select(col("new_doc"), col("index_doc"))
    cand.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      appendAbsent(batch.dropDuplicates("new_doc", "index_doc"), targetDir,
        "new_doc", "index_doc")
    }
  }

  /** Stream-vs-stored-winnow-index match probe — the MOSS serving path:
    * arriving documents are winnowed in-batch (the same selection the
    * batch `TextOps.winnowSelected` computes — windowed min inside
    * foreachBatch, per-doc state only) and their SELECTED fingerprints
    * join the PERSISTED h-bucketed winnow index
    * (`TextOps.writeWinnowIndex`); pairs sharing ≥ `minShared`
    * fingerprints emit as (new_doc, index_doc, n_shared) candidates.
    * Because winnowing guarantees any w+k−1-token shared run selects a
    * common fingerprint, the stream probe inherits the batch guarantee:
    * a long passage copied from an indexed doc cannot arrive unnoticed.
    * The idempotent anti-join append means replayed micro-batches never
    * duplicate candidates.
    */
  def winnowProbeSink(docs: DataFrame, index: DataFrame, targetDir: String,
                      k: Int = 4, w: Int = 4, minShared: Long = 2L)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val cand = graft.operators.TextOps
        .winnowSelectedFrom(batch.select(col("doc_id"), col("text")), k, w)
        .select(col("doc_id").as("new_doc"), col("h")).distinct()
        .join(index.select(col("doc_id").as("index_doc"), col("h")), Seq("h"))
        .groupBy(col("new_doc"), col("index_doc"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= minShared)
      appendAbsent(cand, targetDir, "new_doc", "index_doc")
    }

  /** Embedding index serving path — the vector twin of
    * [[indexProbeSink]]: arriving vectors band in-row with the SAME
    * deterministic planes the stored index was built with
    * (`Similarity.bandedPlaneBuckets` — integer sigs, matching the
    * bucketed table), stream-static join it (the index side never
    * shuffles), and band-collision survivors pay the exact cosine
    * against the static corpus vectors before landing in the pair
    * store. Replayed batches are anti-joined out, so the store holds
    * each verified pair exactly once — at-least-once in, exactly-once
    * rows out. Per-batch cost scales with the batch and its candidate
    * set, never the corpus: this is the continuously-serving form of
    * `Similarity.incrementalEmbeddingPairs`.
    */
  def embeddingIndexProbeSink(vecs: DataFrame, index: DataFrame,
                              corpus: DataFrame, targetDir: String,
                              planesPerBand: Int = 4, nBands: Int = 24,
                              threshold: Double = 0.3)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    import graft.functions.vectors
    val banded = graft.operators.Similarity.bandedPlaneBuckets(
        vecs.select(col("vec_id"),
          vectors.toDoubleArray(col("embedding")).as("v")),
        planesPerBand, nBands)
      .select(col("vec_id").as("new_vec"), col("band"), col("sig"))
    val cand = banded
      .join(index.select(col("vec_id").as("index_vec"), col("band"), col("sig")),
        Seq("band", "sig"))
      .select(col("new_vec"), col("index_vec"))
    val c = corpus.select(col("vec_id"),
      vectors.toDoubleArray(col("embedding")).as("v"))
    val verified = cand
      .join(c.select(col("vec_id").as("new_vec"), col("v").as("va")),
        Seq("new_vec"))
      .join(c.select(col("vec_id").as("index_vec"), col("v").as("vb")),
        Seq("index_vec"))
      .select(col("new_vec"), col("index_vec"),
        round(vectors.cosineSimilarity(col("va"), col("vb")), 4).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
    verified.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      appendAbsent(batch.dropDuplicates("new_vec", "index_vec"), targetDir,
        "new_vec", "index_vec")
    }
  }

  /** Keyword-search serving stream riding the STORED term index — the
    * text twin of [[pqServeSink]]: each arriving query row carries
    * (query_id, terms array); per micro-batch the bucketed term index is
    * scanned once with the batch's term union pushed into bucket
    * pruning, conjunctive doc matches are ranked per query by occurrence
    * score, and each query's top-k is appended with query-id anti-join
    * idempotency — at-least-once in, exactly-one result set per query
    * out. No tokenizer runs at serving time; per-batch cost scales with
    * the batch's terms' document frequency, never the corpus.
    */
  def keywordServeSink(queries: DataFrame, dir: String, targetDir: String,
                       k: Int = 25)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    queries.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val spark = batch.sparkSession
      // array_distinct first: the batch path (TextOps.keywordSearchIndexed)
      // counts DISTINCT matched terms, so a query carrying duplicate terms
      // must neither inflate the conjunctive size(terms) bar nor
      // double-count tf into the score
      val q = batch.select(col("query_id"),
          array_distinct(col("terms")).as("terms"))
        .localCheckpoint() // term union + probe join both read the batch
      val allTerms = q.select(explode(col("terms")).as("tok"))
        .distinct().collect().map(_.getString(0)).toSeq
      if (allTerms.nonEmpty) {
        val idx = graft.operators.TextOps.termIndexFor(spark, dir)
          .filter(col("tok").isInCollection(allTerms))
        val hits = q.select(col("query_id"), size(col("terms")).as("nt"),
            explode(col("terms")).as("tok"))
          .join(idx, Seq("tok"))
          .groupBy(col("query_id"), col("nt"), col("doc_id"))
          .agg(count(lit(1)).as("n_terms"), sum(col("tf")).as("score"))
          .filter(col("n_terms") === col("nt"))
        val byQuery = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("score").desc, col("doc_id"))
        val topk = hits
          .withColumn("rk", row_number().over(byQuery))
          .filter(col("rk") <= k)
          .select(col("query_id"), col("rk"), col("doc_id"), col("score"))
        appendAbsent(topk, targetDir, "query_id")
      }
      ()
    }
  }

  /** IVF serving stream riding the STORED cell-partitioned index — the
    * coarse-routed member of the index-serving family (band probe, PQ
    * ADC, keyword): per micro-batch the arriving query vectors are
    * routed to their cells by broadcast-centroid argmax, the stored
    * index is scanned ONCE filtered to the batch's cell set (partition
    * pruning on the cid directories), and each query scores only its
    * own cell's vectors — per-batch cost ~ batch_cells/nlist of the
    * corpus, never all of it. Query-id anti-join idempotency as in the
    * sibling sinks.
    */
  def ivfServeSink(queries: DataFrame, dir: String, targetDir: String,
                   k: Int = 5, nlist: Int = 8)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    import graft.functions.vectors
    queries.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val spark = batch.sparkSession
      val idx = graft.operators.Similarity.ivfIndexFor(spark, dir, nlist)
      val cents = graft.Tables(spark, dir, "embeddings")
        .filter(col("vec_id") < nlist)
        .select(col("vec_id").as("cid"),
          vectors.toDoubleArray(col("embedding")).as("cv"))
      val byQ = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("sim").desc, col("cid"))
      val routed = batch
        .select(col("vec_id").as("qid"),
          vectors.toDoubleArray(col("embedding")).as("qv"))
        .join(broadcast(cents))
        .select(col("qid"), col("qv"), col("cid"),
          vectors.cosineSimilarity(col("qv"), col("cv")).as("sim"))
        .withColumn("rn", row_number().over(byQ)).filter(col("rn") === 1)
        .select(col("qid"), col("qv"), col("cid"))
        .localCheckpoint() // cell-set collect + probe join both read it
      val cells = routed.select(col("cid")).distinct()
        .collect().map(_.get(0).asInstanceOf[Number].longValue).toSeq
      if (cells.nonEmpty) {
        val byQuery = org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid")).orderBy(col("cos_sim").desc, col("vec_id"))
        val topk = idx.filter(col("cid").isInCollection(cells))
          .join(broadcast(routed), Seq("cid"))
          .filter(col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id"), col("cid").cast("long").as("cid"),
            round(vectors.cosineSimilarity(col("v"), col("qv")), 4)
              .as("cos_sim"))
          .withColumn("rk", row_number().over(byQuery))
          .filter(col("rk") <= k)
          .select(col("qid"), col("rk"), col("vec_id"), col("cos_sim"))
        appendAbsent(topk, targetDir, "qid")
      }
      ()
    }
  }

  /** PQ ADC serving sink — the compressed-index query path as a stream:
    * arriving query vectors are sliced into sub-vectors in-row, each
    * batch builds its (query × m × ncodes) lookup tables against the
    * broadcast codebook, and the STORED codes table
    * (`Similarity.writePqIndex`) is scanned once per micro-batch to
    * score every indexed vector by m integer lookups — the corpus-sized
    * assignment work happened at index build; per-batch cost is
    * O(batch × codes scan), the ADC serving contract. Top-k per query
    * (integer-exact ADC order, vec_id ties) lands in the result store;
    * replayed batches are anti-joined out by query id, so at-least-once
    * delivery yields exactly-one result set per query.
    */
  def pqServeSink(queries: DataFrame, dir: String, targetDir: String,
                  k: Int = 10, m: Int = 8, ncodes: Int = 16)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    import graft.functions.vectors
    import graft.operators.Similarity
    queries.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val spark = batch.sparkSession
      val subDim = 64 / m
      val corpus = graft.Tables(spark, dir, "embeddings")
        .select(col("vec_id"), vectors.toDoubleArray(col("embedding")).as("v"))
      val cb = Similarity.pqSubvecs(
          corpus.filter(col("vec_id") < ncodes), m, subDim)
        .select(col("vec_id").as("cid"), col("j"), col("sub").as("cv"))
      val lut = Similarity.pqSubvecs(
          batch.select(col("vec_id"),
            vectors.toDoubleArray(col("embedding")).as("v")), m, subDim)
        .select(col("vec_id").as("qid"), col("j"), col("sub").as("qsub"))
        .join(cb, Seq("j"))
        .select(col("qid"), col("j"), col("cid"),
          vectors.l2SqFixed(col("qsub"), col("cv")).as("qd"))
      val codes = Similarity.pqIndexFor(spark, dir, m, ncodes)
      val byQuery = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("adc"), col("vec_id"))
      val topk = codes.join(broadcast(lut), Seq("j", "cid"))
        .groupBy(col("qid"), col("vec_id"))
        .agg(sum(col("qd")).as("adc"))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("rk", row_number().over(byQuery))
        .filter(col("rk") <= k)
        .select(col("qid"), col("rk"), col("vec_id"), col("adc"))
      appendAbsent(topk, targetDir, "qid")
    }
  }

  /** Stream-stream interval join — the streaming twin of
    * Relational.attributionRangeJoin: each purchase joined to the same
    * user's clicks in the preceding `window`. Both sides carry watermarks
    * and the join condition bounds event time in both directions, which is
    * what lets Spark size the join state and evict expired rows — the
    * requirement for an unbounded stream-stream join to run forever.
    */
  def attributionJoin(purchases: DataFrame, clicks: DataFrame,
                      window: String = "30 minutes",
                      lateness: String = "1 hour"): DataFrame = {
    val p = purchases
      .select(col("event_id"), col("user_id").as("p_user"), col("ts").as("p_ts"))
      .withWatermark("p_ts", lateness)
    val c = clicks
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"), col("value"))
      .withWatermark("c_ts", lateness)
    p.join(c,
        col("c_user") === col("p_user") &&
          col("c_ts") >= col("p_ts") - expr(s"INTERVAL $window") &&
          col("c_ts") < col("p_ts"))
      .select(col("event_id"), col("p_user").as("user_id"),
        col("p_ts"), col("c_ts"), col("value"))
  }

  /** Streaming exact dedup on event id: state bounded by the watermark
    * (duplicates arriving within the lateness horizon are dropped; state
    * for older keys is evicted) — the streaming twin of Dedup.exact.
    */
  def dedupEvents(events: DataFrame, lateness: String = "1 hour"): DataFrame =
    events.withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("event_id")

  /** Gap-based session windows per user (built-in session_window —
    * merges events separated by < gap into one growing window).
    */
  def userSessionWindows(events: DataFrame, gap: String = "30 minutes",
                         lateness: String = "1 hour"): DataFrame =
    events.withWatermark("ts", lateness)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"), col("sum_value"))

  /** Streaming heavy hitters: the space-saving sketch Aggregator over a
    * keyed (group, item) stream — bounded per-group state at any item
    * cardinality, the streaming twin of TextOps.topTokensPerLang. The
    * typed Aggregator runs as a regular streaming aggregation (update/
    * complete mode), so its state lives in the state store and merges
    * across micro-batches via the sketch's own merge — this is exactly
    * what the Aggregator abstraction buys over a driver-side counter.
    */
  def streamingTopItems(items: Dataset[(String, String)], capacity: Int = 1024,
                        k: Int = 5): Dataset[(String, Seq[(String, Long)])] = {
    val s = items.sparkSession
    import s.implicits._
    items.groupByKey(_._1)
      .mapValues(_._2)
      .agg(new graft.functions.aggregates.SpaceSavingTopK(capacity, k).toColumn)
  }
}
