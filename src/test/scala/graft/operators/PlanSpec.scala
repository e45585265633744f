package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Physical-plan audits: the scale properties SURVEY §4 promises —
  * predicate pushdown into the parquet scan, column pruning, broadcast
  * for dims, bounded shuffle counts — asserted on the actual executed
  * plans so a regression fails the build, not the 100 TB run.
  */
class PlanSpec extends SparkSpec {
  // sf0.01, not the shared sf0.001: RelationalSpec caches some of the
  // same plans, and a cache hit would serve InMemoryRelation instead of
  // the physical operators these audits inspect
  override val sf: String = "/root/testdata/sf0.01"

  private def planString(df: DataFrame): String = {
    df.collect() // materialize so AQE finalizes its plan choices
    df.queryExecution.executedPlan.toString
  }

  private def allNodes(df: DataFrame): Seq[SparkPlan] = planNodes(df)

  private def countShuffles(df: DataFrame): Int =
    allNodes(df).count(_.isInstanceOf[ShuffleExchangeExec])

  test("filters and projection reach the parquet scan") {
    val plan = planString(Relational.filterProject(spark, sf))
    assert(plan.contains("PushedFilters:"), plan.take(2000))
    assert(plan.contains("l_discount"), "discount predicate should be pushed")
    // pruned read schema: no l_returnflag/l_tax columns in the scan
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_returnflag") && !readSchema.contains("l_tax"),
      readSchema)
  }

  test("dimension joins broadcast, fact side never builds the hash table") {
    val plan = planString(Relational.regionRevenue(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"),
      "supplier/nation/region must broadcast against lineitem")
  }

  test("aggregations are partial (map-side combine) before the shuffle") {
    val df = Relational.pricingSummary(spark, sf)
    val aggs = allNodes(df)
      .collect { case h: org.apache.spark.sql.execution.aggregate.HashAggregateExec => h }
    assert(aggs.exists(_.aggregateExpressions.exists(_.mode.toString == "Partial")),
      aggs.map(_.aggregateExpressions.map(_.mode)).toString)
    // "*(n)" prefixes mark WholeStageCodegen spans in compact plan strings
    assert(planString(df).contains("*("))
  }

  test("minhash signature pipeline shuffles the token stream once") {
    val mins = Dedup.minhashMins(
      Tables(spark, sf, "documents"), shingleSize = 3, numHashes = 12)
    // window partitioning is reused by the groupBy: 1 data shuffle
    assert(countShuffles(mins) <= 1, planString(mins).take(3000))
  }

  test("range join plans as an equi-join with temporal residual, never cartesian") {
    val df = Relational.attributionRangeJoin(spark, sf)
    val nodes = allNodes(df)
    assert(!nodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.CartesianProductExec]))
    assert(!nodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]),
      "temporal bounds must ride the user_id equi-join as residual predicates")
    val plan = planString(df)
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("hyperplane LSH bucketing is scan-speed: no shuffle before the bucket probe") {
    val sig = Similarity.hyperplaneLshTopK(spark, sf)
    // broadcast of the 1-row query side + final top-k exchange only — the
    // corpus side must not shuffle to compute its buckets
    assert(countShuffles(sig) <= 1, planString(sig).take(3000))
  }

  test("aboveAvgOrders: one data shuffle — the window and nothing else") {
    // window on o_custkey + final sort; the cross-multiplied comparison
    // must not introduce a join or a second aggregation pass
    val df = Relational.aboveAvgOrders(spark, sf)
    assert(countShuffles(df) <= 2, planString(df).take(3000))
    assert(!planString(df).contains("Join"), "decorrelated shape needs no join")
  }

  test("quantizationStats and contextWindows are scan-speed: no data shuffle") {
    // only the final presentation sort may exchange
    val q = Similarity.quantizationStats(spark, sf)
    assert(countShuffles(q) <= 1, planString(q).take(3000))
    val w = Packing.contextWindows(spark, sf)
    assert(countShuffles(w) <= 1, planString(w).take(3000))
  }

  test("sequencePacking reuses the lang partitioning for the bin aggregation") {
    // window partitionBy(lang) hash-shuffles once; groupBy(lang, bin) is
    // satisfied by that clustering (subset rule) — no second data shuffle
    val df = Packing.sequencePacking(spark, sf)
    assert(countShuffles(df) <= 2, planString(df).take(3000))
  }

  test("funnel chain: every join stays equi on user_id") {
    val nodes = allNodes(Events.funnelStages(spark, sf))
    assert(!nodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.CartesianProductExec]))
    assert(!nodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]),
      "temporal ordering must ride the user_id equi-joins as residual filters")
  }

  test("arrivals query pushes the date-window predicate to the calendar scan") {
    val wh = java.nio.file.Files.createTempDirectory("plan_wh").toString
    val loader = new graft.gtfs.GtfsLoad(spark, wh)
    // tiny calendar written as parquet so the scan shows pushdown
    import spark.implicits._
    Seq(("WD", true, true, true, true, true, false, false, 20190201, 20190331, 1, "p"))
      .toDF("service_id", "monday", "tuesday", "wednesday", "thursday",
        "friday", "saturday", "sunday", "start_date", "end_date", "run_id", "provider_id")
      .write.parquet(s"$wh/calendar")
    val cal = spark.read.parquet(s"$wh/calendar")
      .filter($"end_date" >= 20190218 && $"start_date" < 20190225)
    val plan = planString(cal)
    assert(plan.contains("PushedFilters:") && plan.contains("end_date"), plan.take(1500))
  }

  test("scaled GTFS feed: calendar/stops broadcast, the stop_times fact " +
       "join sort-merges — AQE join selection beyond the toy fixture") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
      CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
    import graft.gtfs.{ArrivalsQuery, GtfsFixture}
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // realistic relative threshold: dims (3-row calendar/stops) fit,
    // the mult×-cloned trips/stop_times fact sides do not
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (32 * 1024).toString)
    try {
      val mult = 2000
      def scaled = ArrivalsQuery.arrivalsWithExceptions(
        GtfsFixture.calendar(spark), GtfsFixture.calendarDates(spark),
        GtfsFixture.scaledTrips(spark, mult),
        GtfsFixture.scaledStopTimes(spark, mult),
        GtfsFixture.stops(spark), "2019-02-18", "2019-02-25")
      val nodes = allNodes(scaled)
      assert(nodes.count(_.isInstanceOf[BroadcastHashJoinExec]) >= 2,
        "calendar and stops must broadcast against the scaled fact")
      assert(nodes.exists(n => n.isInstanceOf[SortMergeJoinExec] ||
          n.isInstanceOf[ShuffledHashJoinExec]),
        "the trips⋈stop_times fact join must shuffle, never broadcast a " +
        "scaled side")
      assert(!nodes.exists(_.isInstanceOf[CartesianProductExec]))
      // both calendar_dates exception kinds share one pass over the fact:
      // stop_times (the only input carrying arrival_time) is read by one
      // leaf. A second one, a scan or a reused exchange of the first,
      // would feed a second fact join
      val factReads = nodes.filter {
        case _: AdaptiveSparkPlanExec | _: QueryStageExec => false
        case n => n.isInstanceOf[LeafExecNode] && n.output.exists(_.name == "arrival_time")
      }
      assert(factReads.size === 1, factReads.map(_.nodeName).mkString(", "))
      // semantics survive the scale-up: exactly mult × the base arrivals
      val baseCount = ArrivalsQuery.arrivalsWithExceptions(
        GtfsFixture.calendar(spark), GtfsFixture.calendarDates(spark),
        GtfsFixture.trips(spark), GtfsFixture.stopTimes(spark),
        GtfsFixture.stops(spark), "2019-02-18", "2019-02-25").count()
      assert(scaled.count() === mult * baseCount)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
  }

  test("scaled earliestArrivals: the suffix-leg self-join shuffles (no " +
       "scaled side broadcasts), the relaxation round broadcasts ONLY " +
       "the stop-bounded label frame, and labels stay stop-bounded") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
      CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
    import graft.gtfs.{ArrivalsQuery, GtfsFixture}
    import spark.implicits._
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (32 * 1024).toString)
    try {
      val mult = 2000
      val active = GtfsFixture.scaledTrips(spark, mult)
        .select($"run_id", $"trip_id")
      val legs = ArrivalsQuery.suffixLegs(
        GtfsFixture.scaledStopTimes(spark, mult), active)
      val legNodes = allNodes(legs)
      assert(!legNodes.exists(_.isInstanceOf[BroadcastHashJoinExec]),
        "both sides of the suffix self-join are stop_times-sized — " +
        "neither may broadcast")
      assert(legNodes.exists(n => n.isInstanceOf[SortMergeJoinExec] ||
        n.isInstanceOf[ShuffledHashJoinExec]))
      assert(!legNodes.exists(_.isInstanceOf[CartesianProductExec]))
      // one production-shaped relaxation round: labels (1 origin row,
      // checkpointed like the real loop) against the UN-checkpointed
      // legs pipeline, so a broadcast build that contains any join node
      // would mean the fact side was broadcast
      val labels0 = GtfsFixture.stops(spark).filter($"stop_id" === "S1")
        .select($"run_id", $"stop_id").distinct()
        .withColumn("best", org.apache.spark.sql.functions.lit(28800L))
        .localCheckpoint()
      val foot = GtfsFixture.transfers(spark)
        .filter($"transfer_type" =!= 3)
        .select($"run_id", $"from_stop_id".as("from_stop"),
          $"to_stop_id".as("to_stop"),
          org.apache.spark.sql.functions.coalesce($"min_transfer_time",
            org.apache.spark.sql.functions.lit(0)).cast("long").as("mtt"))
        .localCheckpoint()
      val round = ArrivalsQuery.relaxationRound(labels0, legs, foot)
      val roundNodes = allNodes(round)
      val bhj = roundNodes.collect { case b: BroadcastHashJoinExec => b }
      assert(bhj.nonEmpty, "the 1-row label frame should broadcast")
      bhj.foreach { b =>
        val build = b.buildSide match {
          case org.apache.spark.sql.catalyst.optimizer.BuildLeft => b.left
          case org.apache.spark.sql.catalyst.optimizer.BuildRight => b.right
        }
        val joinInBuild = build.collect {
          case j: SortMergeJoinExec => j
          case j: ShuffledHashJoinExec => j
          case j: BroadcastHashJoinExec => j
        }
        assert(joinInBuild.isEmpty,
          "a broadcast build containing the suffix join means the FACT " +
          "side was broadcast: " + b.toString.take(500))
      }
      // the round's output is stop-bounded: one row per (run, stop)
      assert(round.count() <= GtfsFixture.stops(spark).count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
  }

  test("scaled headwayRegularity: gap window and rollup share one hash " +
       "shuffle of the arrivals stream; dims still broadcast upstream") {
    import graft.gtfs.{ArrivalsQuery, GtfsFixture}
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (32 * 1024).toString)
    try {
      val mult = 2000
      val arrivals = ArrivalsQuery.arrivalsWithExceptions(
        GtfsFixture.calendar(spark), GtfsFixture.calendarDates(spark),
        GtfsFixture.scaledTrips(spark, mult),
        GtfsFixture.scaledStopTimes(spark, mult),
        GtfsFixture.stops(spark), "2019-02-18", "2019-02-25")
        .localCheckpoint() // isolate the audit to the headway pipeline
      val df = ArrivalsQuery.headwayRegularity(arrivals)
      val shuffles = allNodes(df).collect {
        case s: ShuffleExchangeExec => s.outputPartitioning
      }
      // lead window hash-partitions on (run, stop, day); the groupBy on
      // the same keys reuses it — the only other exchange is the final
      // presentation sort's range partitioning
      val dataShuffles = shuffles.filterNot(_.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.physical.RangePartitioning])
      assert(dataShuffles.size <= 1,
        s"headway pipeline must shuffle the arrivals stream once: $shuffles")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
  }

  test("rhoLearnability: model counts broadcast against one bigram " +
       "scan; the excess-xent ranking never single-partitions") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
      CartesianProductExec, SortMergeJoinExec}
    // the scoring stage (pre-ranking): one bigram scan, every model
    // join a broadcast, nothing corpus-sized shuffles
    val score = allNodes(TextOps.rhoPerDocScores(spark, sf, 5000L))
    assert(score.count(_.isInstanceOf[BroadcastHashJoinExec]) >= 4,
      "all four model-count joins must broadcast (vocab-bounded state)")
    assert(!score.exists(_.isInstanceOf[CartesianProductExec]))
    assert(!score.exists(_.isInstanceOf[SortMergeJoinExec]),
      "no corpus-sized shuffle join anywhere in the scoring pass")
    // the public op's ranking rides globalRowNumber: the only
    // unpartitioned window orders the numParts-row offsets frame (the
    // documented exception); the data-sized rank window is partitioned
    val nodes = allNodes(TextOps.rhoLearnability(spark, sf))
    assert(!nodes.exists(_.isInstanceOf[CartesianProductExec]))
    val windows = nodes.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.exists(_.partitionSpec.nonEmpty),
      "the data-sized rank must ride a partitioned window")
  }

  test("datasetCartography: five step scores fold into one scan — no " +
       "data shuffle beyond the presentation sort") {
    val df = TextOps.datasetCartography(spark, sf)
    val shuffles = allNodes(df).collect {
      case s: ShuffleExchangeExec => s.outputPartitioning
    }
    val dataShuffles = shuffles.filterNot(_.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.physical.RangePartitioning])
    assert(dataShuffles.isEmpty,
      s"cartography must be scan-speed over the feature checkpoint: $shuffles")
  }

  test("shared-chunk self-join reuses one exchange for both sides") {
    // the df-cap window shuffles on ch — the same key the self-join
    // needs — so the expensive chunking pass must be computed once and
    // its exchange reused, not duplicated per join side
    val df = Chunker.sharedChunkPairs(spark, sf)
    val plan = planString(df)
    assert(plan.contains("ReusedExchange") || plan.contains("TableCacheQueryStage"),
      plan.take(3000))
  }

  test("token co-occurrence broadcasts the capped vocabulary and doc total") {
    val nodes = allNodes(TextOps.tokenCooccurrence(spark, sf))
    val bhj = nodes.count(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec])
    assert(bhj >= 1, "vocab join must broadcast, never shuffle the token stream")
    assert(!nodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.CartesianProductExec]))
    // pairs generate in-row from the per-doc vocab array: the vocab-hit
    // stream must NOT self-join (no sort-merge join anywhere in the plan)
    assert(!nodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.SortMergeJoinExec]),
      "vocab-hit self-join crept back in")
  }

  test("shape length pipeline: one exchange feeds both window and rollup") {
    // the lag window hash-partitions on shape_id; the per-shape groupBy
    // must reuse that partitioning, so the whole pipeline shuffles the
    // point stream exactly once (plus nothing for the final sort's AQE
    // read) — the single-exchange promise in the operator's scaladoc
    val df = Relational.shapePolylineLengths(spark, sf)
    val shuffles = allNodes(df).collect {
      case s: ShuffleExchangeExec => s.outputPartitioning
    }
    val dataShuffles = shuffles.filterNot(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.RangePartitioning])
    assert(dataShuffles.size === 1, s"expected 1 hash shuffle, got: $shuffles")
  }

  test("SCD2 scans customer and orders exactly once each") {
    // the generator shape, not union-of-two-joins: column pruning would
    // specialize union branches and plan the orders aggregation twice
    val df = Relational.scd2Customers(spark, sf)
    df.collect()
    val scans = allNodes(df)
      .collect { case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.rootPaths.mkString }
    assert(scans.count(_.contains("orders")) === 1, scans)
    assert(scans.count(_.contains("customer")) === 1, scans)
    assert(allNodes(df).exists(_.isInstanceOf[
      org.apache.spark.sql.execution.GenerateExec]),
      "versions come from one generator pass")
  }

  test("sourceReconciliation pre-aggregates both sides before the outer join") {
    val df = Relational.sourceReconciliation(spark, sf)
    df.collect()
    val nodes = allNodes(df)
    val join = nodes.collectFirst {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }
    assert(join.isDefined, "expected a shuffled outer join on day")
    // every join input contains a final aggregate below it: the join sees
    // day-grain rows, never raw orders/events
    join.get.children.foreach { side =>
      assert(side.collectFirst {
        case h: org.apache.spark.sql.execution.aggregate.HashAggregateExec => h
        case o: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => o
        case s: org.apache.spark.sql.execution.aggregate.SortAggregateExec => s
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec
          if q.plan.collectFirst {
            case h: org.apache.spark.sql.execution.aggregate.HashAggregateExec => h
          }.isDefined => q.plan
      }.isDefined, s"join input not pre-aggregated:\n${side.toString.take(1500)}")
    }
  }

  test("keywordSearch: term filter above the generator, agg reuses the fan-out") {
    val df = TextOps.keywordSearch(spark, sf)
    df.collect()
    val nodes = allNodes(df)
    // the term filter prunes the token stream immediately above the
    // tokenizing generator, before any aggregation work
    val gen = nodes.collectFirst {
      case g: org.apache.spark.sql.execution.GenerateExec => g }
    assert(gen.isDefined, "expected an explode generator")
    assert(nodes.exists {
      case f: org.apache.spark.sql.execution.FilterExec =>
        f.condition.toString.contains("tok") &&
          f.collectFirst {
            case g: org.apache.spark.sql.execution.GenerateExec => g }.isDefined
      case _ => false
    }, "term filter must sit directly above the generator")
    // the doc_id aggregation reuses the docsFanned hash partitioning:
    // the pinned fan-out is the ONLY exchange in the whole plan
    assert(nodes.count(_.isInstanceOf[ShuffleExchangeExec]) === 1,
      "post-explode aggregation must not re-shuffle")
  }

  test("trainingOrder never reads the payload: doc_id-only scan, bounded shuffles") {
    // the permutation is computed from doc_id alone — a scan that drags
    // the text column through the window shuffle would move the whole
    // corpus payload to order a key stream
    val df = TextOps.trainingOrder(spark, sf)
    val plan = planString(df)
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && !readSchema.contains("text"), readSchema)
    // shard-window hash shuffle + presentation range sort, nothing else
    assert(countShuffles(df) <= 2, plan.take(3000))
  }

  test("hardNegatives broadcasts the probes; corpus shuffles only at the rank window") {
    val df = Similarity.hardNegatives(spark, sf)
    df.collect()
    val nodes = allNodes(df)
    // label =!= qlabel is non-equi by design: the probe set is tiny and
    // must be the broadcast side of a nested-loop join — the corpus scan
    // side must never sort-merge or cartesian
    assert(nodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]),
      "probe join must broadcast the probe set")
    assert(!nodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.SortMergeJoinExec]) &&
      !nodes.exists(_.isInstanceOf[
        org.apache.spark.sql.execution.joins.CartesianProductExec]))
    // rank window partitioned by query_id + final presentation sort
    assert(countShuffles(df) <= 2, planString(df).take(3000))
  }

  test("boilerplateScores: df agg partial-combines; occurrence join stays equi") {
    val df = TextOps.boilerplateScores(spark, sf)
    df.collect()
    val nodes = allNodes(df)
    assert(!nodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.CartesianProductExec]) &&
      !nodes.exists(_.isInstanceOf[
        org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]),
      "shingle-occurrence join must stay an equi-join on sh")
    val aggs = nodes.collect {
      case h: org.apache.spark.sql.execution.aggregate.HashAggregateExec => h }
    assert(aggs.exists(_.aggregateExpressions.exists(_.mode.toString == "Partial")),
      "document-frequency count must map-side combine before the shuffle")
  }

  test("incremental embedding probe joins the index on (band, sig) equi keys") {
    val df = Similarity.incrementalEmbeddingPairs(spark, sf)
    df.collect()
    val nodes = allNodes(df)
    assert(!nodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.CartesianProductExec]) &&
      !nodes.exists(_.isInstanceOf[
        org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]),
      "candidate generation must stay an equi-join on (band, sig)")
  }

  test("sourceOverlap attribute joins stay equi on doc ids") {
    val df = Dedup.sourceOverlap(spark, sf)
    df.collect()
    val nodes = allNodes(df)
    assert(!nodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.CartesianProductExec]) &&
      !nodes.exists(_.isInstanceOf[
        org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]),
      "source attribution must ride doc_id equi-joins over the LSH pair set")
  }

  test("filterCascade folds to one partial-combined reduce: fan-out + final agg only") {
    val df = TextOps.filterCascade(spark, sf)
    df.collect()
    val nodes = allNodes(df)
    // deliberate regex fan-out scatter + the single-row aggregation
    // exchange — nothing else moves document rows
    assert(countShuffles(df) <= 2, planString(df).take(3000))
    val aggs = nodes.collect {
      case h: org.apache.spark.sql.execution.aggregate.HashAggregateExec => h }
    assert(aggs.exists(_.aggregateExpressions.exists(_.mode.toString == "Partial")),
      "cascade counters must map-side combine before the exchange")
  }

  test("mixtureSample broadcasts the rate table over the corpus scan") {
    val df = TextOps.mixtureSample(spark, sf)
    df.collect()
    val nodes = allNodes(df)
    assert(nodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      "per-source rates must broadcast, never shuffle the documents to join")
    assert(!nodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.SortMergeJoinExec]) &&
      !nodes.exists(_.isInstanceOf[
        org.apache.spark.sql.execution.joins.CartesianProductExec]))
  }

  test("dedupBest argmax is a partial-combined groupBy, quality join stays equi") {
    val df = Dedup.dedupBest(spark, sf)
    df.collect()
    val nodes = allNodes(df)
    assert(!nodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.CartesianProductExec]) &&
      !nodes.exists(_.isInstanceOf[
        org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]),
      "quality attribution must ride a doc_id equi-join")
    // a struct-valued max buffer can't live in HashAggregate's flat
    // UnsafeRow — Spark plans it as ObjectHash/SortAggregate; what
    // matters for the viral-cluster guarantee is a Partial max BELOW the
    // exchange, whatever the exec flavor
    val aggExprs = nodes.flatMap {
      case h: org.apache.spark.sql.execution.aggregate.HashAggregateExec =>
        h.aggregateExpressions
      case o: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec =>
        o.aggregateExpressions
      case s: org.apache.spark.sql.execution.aggregate.SortAggregateExec =>
        s.aggregateExpressions
      case _ => Nil
    }
    assert(aggExprs.exists(e => e.mode.toString == "Partial" &&
      e.aggregateFunction.toString.startsWith("max")),
      s"cluster argmax must map-side combine (the viral-cluster guarantee): " +
        aggExprs.map(e => (e.mode, e.aggregateFunction)).toString)
  }

  test("corpusSnapshotDiff: one equi full-outer join, fingerprints only in the exchange") {
    val df = Relational.corpusSnapshotDiff(spark, sf)
    df.collect()
    val nodes = allNodes(df)
    val joins = nodes.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }
    assert(joins.size === 1, s"expected exactly one shuffled join, got ${joins.size}")
    assert(!nodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.CartesianProductExec]))
    // the payload must not ride the shuffle: only doc_id, fingerprint
    // and the presence markers may appear in the exchange schemas
    nodes.collect { case s: ShuffleExchangeExec => s }.foreach { ex =>
      assert(!ex.child.output.exists(_.name == "text"),
        s"document payload entered the exchange: ${ex.child.output.map(_.name)}")
    }
  }

  test("repeatedSpans top-k plans as TakeOrdered, never a global sort") {
    val df = TextOps.repeatedSpans(spark, sf)
    df.collect()
    val nodes = allNodes(df)
    assert(nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.TakeOrderedAndProjectExec]),
      "the bounded cut must be per-partition heads + merge")
    // no RangePartitioning exchange: a global sort of the span table
    // would shuffle the whole shingle aggregate to rank 25 rows
    val range = allNodes(df).collect {
      case s: ShuffleExchangeExec if s.outputPartitioning.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.physical.RangePartitioning] => s }
    assert(range.isEmpty, "global sort crept into the top-k")
  }

  test("knnLabelAgreement and bitextMine never FORCE a corpus broadcast: " +
       "with auto-broadcast off, zero broadcast joins plan") {
    // round-9 verdict: both ops broadcast the full embeddings table
    // (all-pairs). Now candidates ride the banded bucket equi-join; with
    // the threshold at -1 (AQE small-frame broadcasts disabled) NOTHING
    // in either plan may still demand a broadcast — proving no explicit
    // corpus-sized broadcast() hint survives for a 100 TB run to hit.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Seq(Similarity.knnLabelAgreement(spark, sf),
          Similarity.bitextMine(spark, sf)).foreach { df =>
        df.collect()
        val nodes = allNodes(df)
        assert(!nodes.exists(_.isInstanceOf[
          org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]) &&
          !nodes.exists(_.isInstanceOf[
            org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]),
          planString(df).take(3000))
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("corpus/vocab/customer ranks run partitioned: the only unpartitioned " +
       "window is globalRowNumber's numParts-row offsets frame") {
    import org.apache.spark.sql.execution.window.WindowExec
    // each of these once ranked its full input through a bare
    // Window.orderBy (one task sorting the corpus / vocabulary /
    // customer dim); they now ride globalRowNumber's range-partitioned
    // two-pass, whose only global window orders the _gp offsets frame
    // (numParts rows, constant in data size)
    val targets = Seq(
      "linkageWeights" -> Dedup.linkageWeights(spark, sf),
      "zipfSlope" -> TextOps.zipfSlope(spark, sf),
      "rfmSegments" -> Relational.rfmSegments(spark, sf))
    targets.foreach { case (name, df) =>
      val unpart = allNodes(df)
        .collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
      unpart.foreach { w =>
        val orderRefs = w.orderSpec.flatMap(_.child.references.map(_.name))
        assert(orderRefs == Seq("_gp"),
          s"$name has a data-sized unpartitioned window (orders by " +
          s"${orderRefs.mkString(",")}):\n${w.toString.take(1200)}")
      }
    }
  }

  test("abc-xyz rides globalPrefixSum: the part rank never sorts on one task") {
    import org.apache.spark.sql.execution.window.WindowExec
    val df = Relational.xyzClassification(spark, sf)
    allNodes(df).collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }.foreach { w =>
      val orderRefs = w.orderSpec.flatMap(_.child.references.map(_.name))
      assert(orderRefs == Seq("_gp"),
        s"abc-xyz has a data-sized unpartitioned window (orders by " +
        s"${orderRefs.mkString(",")}):\n${w.toString.take(1200)}")
    }
  }

  test("hits propagation partial-aggregates each half-step before its shuffle") {
    val df = Stats.hitsSupplierCustomer(spark, sf)
    df.collect()
    val aggs = allNodes(df).collect {
      case h: org.apache.spark.sql.execution.aggregate.HashAggregateExec => h }
    assert(aggs.exists(_.aggregateExpressions.exists(_.mode.toString == "Partial")),
      "per-node score sums must partial-aggregate before the exchange")
    // the max-normalizers are broadcast scalars, never a shuffled join
    assert(allNodes(df).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]),
      "per-round max must broadcast back, not shuffle")
  }

  test("link prediction caps wedge centers before the 2-hop self-join") {
    // the fanout filter must sit UNDER the wedge join (a post-join
    // filter would re-admit the quadratic hub blowup the cap exists
    // to prevent) — assert by plan string ordering on the filter
    val df = Stats.linkPrediction(spark, sf)
    df.collect()
    val plan = df.queryExecution.optimizedPlan.toString
    val fi = plan.indexOf("<= 64")
    assert(fi >= 0, "fanout cap must appear in the optimized plan")
  }

  test("kmeansStep assignment broadcasts centroids; update is map-side combined") {
    val df = Similarity.kmeansStep(spark, sf)
    df.collect()
    val nodes = allNodes(df)
    assert(nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec])
      || nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec]),
      "centroid assignment must broadcast, not shuffle the vectors")
    val aggs = nodes.collect {
      case h: org.apache.spark.sql.execution.aggregate.HashAggregateExec => h }
    assert(aggs.exists(_.aggregateExpressions.exists(_.mode.toString == "Partial")),
      "per-(cluster,dim) sums must partial-aggregate before the exchange")
  }
}
