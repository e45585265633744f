package graft.gtfs

import graft.functions.dates
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's flagship query, Spark-first: expand the GTFS service
  * calendar into concrete per-stop arrival events over a requested window.
  *
  * Reference lifecycle (GtfsArrivalsProducer + GtfsDAO in
  * XComp/vbb-data-pipeline, streaming/.../data/GtfsDAO.java:36-122): a
  * 4-way JDBC join (calendar⋈trips⋈stop_times⋈stops), then CLIENT-SIDE
  * nested loops expand weekday buckets into dates. Here the whole thing is
  * one declarative plan: the join chain shuffles once per composite key,
  * the date expansion is a generator (`explode(sequence(...))`) that runs
  * distributed, and the weekday/validity predicates sit in the plan where
  * Catalyst can push them below the final join.
  *
  * Documented divergences from reference bugs (SURVEY §2.3 P4, §2.10 F10):
  *  - validity filter uses the intended `start <= d <= end` (the reference's
  *    `dayInt >= recordStartInt || dayInt < recordEndInt` is a tautology);
  *  - the date walk is a real date sequence (the reference increments the
  *    yyyymmdd-encoded int, fabricating day 20190132 across month ends).
  */
object ArrivalsQuery {

  /** Weekday flags in Monday-first order (GTFS calendar columns). */
  private val weekdayFlags =
    Seq("monday", "tuesday", "wednesday", "thursday", "friday", "saturday", "sunday")

  /** Expand calendar service rows into (service row, service_date) pairs
    * for every date in [windowStart, windowEnd) whose weekday flag is set
    * and which falls inside the row's validity range.
    *
    * Input: calendar-shaped frame (weekday flags + start_date/end_date
    * yyyymmdd ints). The generator multiplies rows by window length before
    * filtering — at a 7-day window that's a bounded 7x, map-side, no
    * shuffle (J4 as explode(sequence), SURVEY §2.4).
    */
  def expandServiceDates(calendar: DataFrame, windowStart: String, windowEnd: String): DataFrame =
    calendar
      .withColumn("service_date",
        explode(sequence(
          to_date(lit(windowStart)),
          date_sub(to_date(lit(windowEnd)), 1), // [start, end)
          expr("interval 1 day"))))
      .filter(calendarActive)

  /** Whether the calendar row's weekly pattern runs on `service_date`:
    * P3 weekday flag (Monday=0 indexes the flag array, 1-based
    * element_at) and P4 intended record-validity semantics. NULL when
    * the row has no calendar columns.
    */
  private def calendarActive: Column =
    element_at(array(weekdayFlags.map(col): _*), dates.weekdayIndex(col("service_date")) + 1) &&
      dates.encodeDateInt(col("service_date")).between(col("start_date"), col("end_date"))

  /** Apply GTFS calendar_dates REMOVALS (exception_type=2) to an expanded
    * (service_id, run_id, service_date) frame — half of the fidelity gap
    * the reference leaves open (SURVEY §1.3: exception_type is stored but
    * never consulted, data/GtfsDAO.java:37-48). Additions (type=1) need
    * the pre-expansion service rows and live in [[arrivalsWithExceptions]].
    */
  def applyCalendarExceptions(expanded: DataFrame, calendarDates: DataFrame): DataFrame = {
    val removed = calendarDates.filter(col("exception_type") === 2)
      .select(col("run_id"), col("service_id"),
        dates.decodeDateInt(col("date")).as("service_date"))
    expanded.join(removed, Seq("run_id", "service_id", "service_date"), "left_anti")
  }

  /** The 3-way composite-key join over the fact (GtfsDAO.java:44-46):
    * trips ⋈ stop_times ⋈ stops, one row per stop call, keyed by
    * (run_id, service_id) for the join with an active-date set.
    */
  private def stopCalls(trips: DataFrame, stopTimes: DataFrame, stops: DataFrame): DataFrame =
    trips
      .join(stopTimes, Seq("run_id", "trip_id"))
      .join(stops, Seq("run_id", "stop_id"))
      .select(col("run_id"), col("service_id"), col("trip_id"), col("stop_id"),
        col("stop_name"), col("arrival_time"), col("stop_lat"), col("stop_lon"))

  /** (run_id, service_id, service_date) for every weekday-active date in
    * [windowStart, windowEnd) of the calendar rows that overlap the window
    * (P2 window-overlap pushdown, GtfsDAO.java:47 — it reaches the
    * calendar scan). One row per (calendar row, date), so a duplicated
    * calendar row still multiplies its arrivals as the 4-way join did.
    */
  private def weekdayDates(calendar: DataFrame, windowStart: String, windowEnd: String): DataFrame = {
    val startInt = windowStart.replace("-", "").toInt
    val endInt = windowEnd.replace("-", "").toInt
    expandServiceDates(
      calendar.filter(col("end_date") >= startInt && col("start_date") < endInt),
      windowStart, windowEnd)
      .select(col("run_id"), col("service_id"), col("service_date"))
  }

  /** Stop calls on their active dates, event-time materialised. The
    * active set is services × window days — dimension-sized at any feed
    * size — so it broadcasts, and the fact is scanned and joined once.
    */
  private def callsOn(active: DataFrame, trips: DataFrame, stopTimes: DataFrame,
                      stops: DataFrame): DataFrame =
    finishArrivals(stopCalls(trips, stopTimes, stops)
      .join(broadcast(active), Seq("run_id", "service_id")))

  /** Event-time materialisation + presentation columns. */
  private def finishArrivals(expanded: DataFrame): DataFrame =
    expanded
      .withColumn("event_ts",
        dates.gtfsEventTimestamp(col("service_date"), col("arrival_time")))
      .select(
        col("event_ts"), col("stop_name"), col("stop_lat"), col("stop_lon"),
        col("run_id"), col("service_id"), col("trip_id"), col("stop_id"),
        col("service_date"))
      .orderBy(col("event_ts"))

  /** The arrivals pipeline over warehouse tables: calendar ⋈ trips ⋈
    * stop_times ⋈ stops on composite keys (GtfsDAO.java:44-46), the
    * date-window pushdown predicate (`end_date >= start AND start_date <
    * end`, :47), calendar expansion, event-time materialisation with >24h
    * day-roll, ordered by event time.
    *
    * Join scale shape: the calendar is expanded into its active dates
    * BEFORE it meets the fact, so the generator runs over calendar rows,
    * not stop calls. trips and stops are small dims (AQE broadcasts stops
    * at real-world sizes); stop_times is the fact (VBB ~10^7 rows/feed),
    * scanned once and shuffled at most once, on its (run_id, trip_id) key
    * against trips; the active-date set broadcasts against the result.
    */
  def arrivals(calendar: DataFrame, trips: DataFrame, stopTimes: DataFrame,
               stops: DataFrame, windowStart: String, windowEnd: String): DataFrame =
    callsOn(weekdayDates(calendar, windowStart, windowEnd), trips, stopTimes, stops)

  /** Full-fidelity arrivals: [[arrivals]] plus BOTH calendar_dates
    * exception kinds (GTFS spec: 1=service added on that date, 2=service
    * removed) — closing the reference's open gap entirely.
    *
    * The exceptions act on the small active (run_id, service_id,
    * service_date) set, never on arrival rows: the weekday expansion
    * minus the type-2 removals, union the type-1 additions in the window
    * that the calendar does not already make active. That last test is
    * per added row (calendar row exists ∧ weekday flag set ∧ date within
    * validity) against the UNFILTERED calendar, since a type-1 date is
    * valid even outside its service's calendar range; a service with no
    * calendar row at all still emits on its added dates (calendar.txt is
    * conditionally optional in GTFS). Per the GTFS spec a (service_id,
    * date) pair appears at most once in calendar_dates, so type-1 and
    * type-2 never collide on a date. The set then joins the fact once:
    * trips ⋈ stop_times ⋈ stops is scanned and joined a single time for
    * both exception kinds, as in [[arrivals]].
    */
  def arrivalsWithExceptions(calendar: DataFrame, calendarDates: DataFrame,
                             trips: DataFrame, stopTimes: DataFrame, stops: DataFrame,
                             windowStart: String, windowEnd: String): DataFrame = {
    val startInt = windowStart.replace("-", "").toInt
    val endInt = windowEnd.replace("-", "").toInt
    val regular = applyCalendarExceptions(
      weekdayDates(calendar, windowStart, windowEnd), calendarDates)
    val added = calendarDates.filter(col("exception_type") === 1)
      .filter(col("date") >= startInt && col("date") < endInt)
      .select(col("run_id"), col("service_id"),
        dates.decodeDateInt(col("date")).as("service_date"))
      .join(calendar.select((Seq("run_id", "service_id", "start_date", "end_date")
          ++ weekdayFlags).map(col): _*),
        Seq("run_id", "service_id"), "left")
      // already active by the weekday expansion (coalesce: a missing
      // calendar row must read "not active", not filter the row out via 3VL)
      .filter(!coalesce(calendarActive, lit(false)))
      .select(col("run_id"), col("service_id"), col("service_date"))
    callsOn(regular.unionByName(added), trips, stopTimes, stops)
  }

  /** Materialize GTFS frequencies.txt (headway-based service) into
    * concrete trip instances — the LAST table the reference loads but
    * never queries (05-create-schema.sh:184-195; absent from
    * GtfsDAO.java:36-48), closing the remaining fidelity gap alongside
    * calendar_dates.
    *
    * GTFS semantics: a trip listed in frequencies repeats every
    * `headway_secs` with first departure at `start_time`, last strictly
    * before `end_time`; its stop_times rows are offset templates
    * (instance arrival = instance start + (arrival_time − first
    * departure of the template)). Trips not in frequencies pass through
    * unchanged.
    *
    * Scale shape: frequencies is a tiny dim — the instance-start
    * generator (`explode(sequence(...))`) runs over it and broadcasts,
    * as does the per-trip base offset (aggregated from the
    * frequency-trip subset only, never all of stop_times). The fact
    * table is touched by broadcast joins only — no shuffle at any
    * corpus size. Instance rows intentionally repeat (run_id, trip_id,
    * stop_sequence); `trip_start_secs` disambiguates instances.
    */
  def expandFrequencies(stopTimes: DataFrame, frequencies: DataFrame): DataFrame = {
    val freq = frequencies
      .select(col("run_id"), col("trip_id"),
        dates.gtfsTimeToSeconds(col("start_time")).as("freq_start"),
        dates.gtfsTimeToSeconds(col("end_time")).as("freq_end"),
        col("headway_secs").cast("long").as("headway"))
      .filter(col("headway") > 0 && col("freq_end") > col("freq_start"))
    val freqKeys = freq.select("run_id", "trip_id").distinct()
    val freqStopTimes = stopTimes
      .join(broadcast(freqKeys), Seq("run_id", "trip_id"))
    val base = freqStopTimes
      .groupBy(col("run_id"), col("trip_id"))
      .agg(min(col("departure_time")).as("trip_base"))
    val starts = freq
      .withColumn("trip_start_secs",
        explode(sequence(col("freq_start"), col("freq_end") - 1, col("headway"))))
      .select(col("run_id"), col("trip_id"), col("trip_start_secs"))
    val instances = freqStopTimes
      .join(broadcast(starts), Seq("run_id", "trip_id"))
      .join(broadcast(base), Seq("run_id", "trip_id"))
      .withColumn("arrival_time",
        col("trip_start_secs") + (col("arrival_time") - col("trip_base")))
      .withColumn("departure_time",
        col("trip_start_secs") + (col("departure_time") - col("trip_base")))
      .drop("trip_base")
    stopTimes
      .join(broadcast(freqKeys), Seq("run_id", "trip_id"), "left_anti")
      .withColumn("trip_start_secs", lit(null).cast("long"))
      .unionByName(instances)
  }

  /** Feasible transfer connections — closes the final loaded-but-never-
    * queried reference table (transfers, 05-create-schema.sh:163-182;
    * absent from GtfsDAO.java:36-48): for each expanded arrival at a
    * transfer's from_stop, the FIRST other-trip arrival event at its
    * to_stop departing at least `min_transfer_time` later (GTFS
    * transfer_type 2; types 0/1 = no minimum, type 3 = transfer
    * impossible) and within `maxWaitSecs`.
    *
    * Join shape: equi on (run_id, stop edge) — the transfer table
    * blocks the pair space exactly like the attribution range join
    * (Relational.attributionRangeJoin) — with the time window as a
    * residual predicate, then a per-arrival window picks the earliest
    * feasible departure. transfers is a dim (broadcasts); the
    * arrival×arrival volume is bounded by edges × per-stop events in
    * the wait window, never stops².
    */
  def feasibleConnections(arrivals: DataFrame, transfers: DataFrame,
                          maxWaitSecs: Long = 3600L): DataFrame = {
    val edges = transfers
      .filter(coalesce(col("transfer_type"), lit(0)) =!= 3)
      .filter(col("from_stop_id").isNotNull && col("to_stop_id").isNotNull)
      .select(col("run_id"), col("from_stop_id"), col("to_stop_id"),
        when(coalesce(col("transfer_type"), lit(0)) === 2,
          coalesce(col("min_transfer_time"), lit(0)).cast("long"))
          .otherwise(lit(0L)).as("min_xfer"))
    val a = arrivals.select(col("run_id"),
      col("trip_id").as("from_trip"), col("stop_id").as("from_stop_id"),
      col("event_ts").as("arr_ts"))
    val b = arrivals.select(col("run_id"),
      col("trip_id").as("to_trip"), col("stop_id").as("to_stop_id"),
      col("event_ts").as("dep_ts"))
    val firstFeasible = Window
      .partitionBy(col("run_id"), col("from_trip"), col("from_stop_id"),
        col("arr_ts"), col("to_stop_id"))
      .orderBy(col("dep_ts"), col("to_trip"))
    a.join(broadcast(edges), Seq("run_id", "from_stop_id"))
      .join(b, Seq("run_id", "to_stop_id"))
      .filter(col("to_trip") =!= col("from_trip"))
      .filter(unix_timestamp(col("dep_ts")) >=
        unix_timestamp(col("arr_ts")) + col("min_xfer"))
      .filter(unix_timestamp(col("dep_ts")) <=
        unix_timestamp(col("arr_ts")) + maxWaitSecs)
      .withColumn("rn", row_number().over(firstFeasible))
      .filter(col("rn") === 1)
      .select(col("run_id"), col("from_trip"), col("from_stop_id"),
        col("arr_ts"), col("to_trip"), col("to_stop_id"), col("dep_ts"),
        (unix_timestamp(col("dep_ts")) - unix_timestamp(col("arr_ts")))
          .as("wait_secs"))
  }

  /** Multi-leg earliest-arrival journey planning over one service day —
    * the query the reference's loaded-but-never-queried transfers table
    * exists to serve: from `originStop` at `departSecs`, the earliest
    * reachable time at EVERY stop, allowing any number of ride legs
    * (consecutive in-trip calls of trips active on `serviceDate`, board
    * when the label at the from-stop ≤ departure) and transfer legs
    * (transfers.txt edges, type 3 excluded, label + min_transfer_time).
    * Solved by `maxRounds` RAPTOR-style label-relaxation rounds — each
    * round is one join of the bounded label frame against the legs,
    * plus a min-rollup; a ride leg is a TRIP SUFFIX (board at call i,
    * alight at ANY later call j of the same trip), so one round relaxes
    * a whole ride no matter how many stations it passes, and
    * `maxRounds` bounds the number of JOURNEY legs (rides + walks),
    * not hops — 4 rounds covers 4-leg itineraries even on 50-stop
    * trips. All arithmetic is integer seconds; unreachable stops
    * report NULL.
    *
    * Scale: suffix legs are Σ_trip L·(L−1)/2 rows — bounded by
    * (max calls per trip)/2 × stop_times, a feed constant (≤ ~50×
    * for metro feeds) — built once as an equi-join on (run, trip)
    * with a seq inequality, checkpointed, and re-read every round;
    * the label frame is stop-bounded, so every round is a small-side
    * join against the materialized legs — never a re-expansion, never
    * a cartesian. Reference tables: transfers per
    * 05-create-schema.sh:163-182; activity semantics shared with
    * [[arrivalsWithExceptions]].
    */
  def earliestArrivals(calendar: DataFrame, calendarDates: DataFrame,
                       trips: DataFrame, stopTimes: DataFrame,
                       stops: DataFrame, transfers: DataFrame,
                       originStop: String, serviceDate: String,
                       departSecs: Long, maxRounds: Int = 4): DataFrame = {
    val labels = raptorRounds(calendar, calendarDates, trips, stopTimes,
      stops, transfers, originStop, serviceDate, departSecs, maxRounds).last
    stops.select(col("run_id"), col("stop_id"), col("stop_name"))
      .join(labels, Seq("run_id", "stop_id"), "left")
      .select(col("run_id"), col("stop_id"), col("stop_name"),
        col("best").as("arr_secs"),
        when(col("best").isNotNull, dates.gtfsLocalTimeString(
          dates.gtfsEventTimestamp(to_date(lit(serviceDate)), col("best"))))
          .as("arr_time"))
      .orderBy(col("run_id"), col("stop_id"))
  }

  /** The RAPTOR set-up [[earliestArrivals]] and [[earliestArrivalProfile]]
    * share, so the two cannot drift: the trips active on `serviceDate`,
    * their checkpointed [[suffixLegs]], the footpath edges (type 3
    * excluded) and the origin label, relaxed `maxRounds` times. Element
    * k is the checkpointed label frame after k rounds (0 = the origin).
    */
  private def raptorRounds(calendar: DataFrame, calendarDates: DataFrame,
                           trips: DataFrame, stopTimes: DataFrame,
                           stops: DataFrame, transfers: DataFrame,
                           originStop: String, serviceDate: String,
                           departSecs: Long, maxRounds: Int): Seq[DataFrame] = {
    val nextDay = java.time.LocalDate.parse(serviceDate).plusDays(1).toString
    val active = arrivalsWithExceptions(calendar, calendarDates, trips,
        stopTimes, stops, serviceDate, nextDay)
      .select(col("run_id"), col("trip_id")).distinct()
    val legs = suffixLegs(stopTimes, active)
      .localCheckpoint() // re-read every relaxation round
    val foot = transfers
      .filter(coalesce(col("transfer_type"), lit(0)) =!= 3)
      .select(col("run_id"), col("from_stop_id").as("from_stop"),
        col("to_stop_id").as("to_stop"),
        coalesce(col("min_transfer_time"), lit(0)).cast("long").as("mtt"))
      .localCheckpoint()
    val origin = stops.filter(col("stop_id") === originStop)
      .select(col("run_id"), col("stop_id")).distinct()
      .withColumn("best", lit(departSecs))
      .localCheckpoint()
    (1 to maxRounds).scanLeft(origin) { (labels, _) =>
      relaxationRound(labels, legs, foot).localCheckpoint()
    }
  }

  /** RAPTOR arrival PROFILE: earliest arrival at every reached stop
    * for each LEG BUDGET 1..maxRounds — the Pareto curve ("get there
    * by when, with how many boardings/walks") that round-based transit
    * routing exists to produce, not just the final relaxed label.
    * Row (stop, k) is the earliest arrival using AT MOST k legs; a
    * stop first reached in round j appears from k = j on (labels are
    * cumulative minima). Same legs/footpath machinery as
    * [[earliestArrivals]] — [[suffixLegs]] + [[relaxationRound]] —
    * so the two queries cannot drift; unreached (stop, k) cells are
    * absent rather than NULL.
    */
  def earliestArrivalProfile(calendar: DataFrame, calendarDates: DataFrame,
                             trips: DataFrame, stopTimes: DataFrame,
                             stops: DataFrame, transfers: DataFrame,
                             originStop: String, serviceDate: String,
                             departSecs: Long,
                             maxRounds: Int = 4): DataFrame =
    raptorRounds(calendar, calendarDates, trips, stopTimes, stops,
        transfers, originStop, serviceDate, departSecs, maxRounds)
      .zipWithIndex.tail
      .map { case (labels, k) => labels.withColumn("n_legs", lit(k.toLong)) }
      .reduce(_ unionAll _)
      .join(stops.select(col("run_id"), col("stop_id"), col("stop_name")),
        Seq("run_id", "stop_id"))
      .select(col("run_id"), col("stop_id"), col("stop_name"),
        col("n_legs"), col("best").as("arr_secs"))
      .orderBy(col("run_id"), col("stop_id"), col("n_legs"))

  /** Isochrone audit over the [[earliestArrivals]] labels: for each
    * time budget, how many stops are reachable from the origin within
    * budget seconds of departure — the service-coverage number a
    * network planner reads per stop ("what does 15/30/60 minutes buy
    * from here"). One row per (run, budget): reachable count against
    * the total stop count. Cost on top of the relaxation rounds: one
    * broadcast of the |budgets|-row frame against the stop-bounded
    * label frame and a map-side-combined rollup.
    */
  def isochroneCounts(calendar: DataFrame, calendarDates: DataFrame,
                      trips: DataFrame, stopTimes: DataFrame,
                      stops: DataFrame, transfers: DataFrame,
                      originStop: String, serviceDate: String,
                      departSecs: Long,
                      budgets: Seq[Long] = Seq(900L, 1800L, 3600L),
                      maxRounds: Int = 4): DataFrame = {
    val s = stopTimes.sparkSession
    import s.implicits._
    val arr = earliestArrivals(calendar, calendarDates, trips, stopTimes,
      stops, transfers, originStop, serviceDate, departSecs, maxRounds)
      .select(col("run_id"), col("arr_secs"))
    arr.crossJoin(broadcast(budgets.toDF("budget_secs")))
      .groupBy(col("run_id"), col("budget_secs"))
      .agg(sum(when(col("arr_secs") <= lit(departSecs) + col("budget_secs"),
          1L).otherwise(0L)).as("n_stops"),
        count(lit(1)).as("n_total"))
      .orderBy(col("run_id"), col("budget_secs"))
  }

  /** Trip-suffix ride legs: every (board call i, alight call j>i) pair
    * of each active trip, via a seq-inequality self-join on the
    * (run_id, trip_id) equi-keys. Package-private (graft) so PlanSpec audits
    * the exact production join shape at a scaled fixture.
    */
  private[graft] def suffixLegs(stopTimes: DataFrame,
                               active: DataFrame): DataFrame = {
    val wTrip = Window.partitionBy(col("run_id"), col("trip_id"))
      .orderBy(col("arrival_time"), col("stop_id"))
    val calls = stopTimes.join(active, Seq("run_id", "trip_id"))
      .withColumn("seq", row_number().over(wTrip))
      .select(col("run_id"), col("trip_id"), col("seq"), col("stop_id"),
        col("arrival_time").cast("long").as("arr_t"),
        col("departure_time").cast("long").as("dep_t"))
      .localCheckpoint() // both sides of the suffix self-join read it
    calls.alias("bd")
      .join(calls.alias("al"),
        col("bd.run_id") === col("al.run_id") &&
          col("bd.trip_id") === col("al.trip_id") &&
          col("bd.seq") < col("al.seq"))
      .select(col("bd.run_id").as("run_id"),
        col("bd.stop_id").as("from_stop"), col("bd.dep_t").as("dep"),
        col("al.stop_id").as("to_stop"), col("al.arr_t").as("arr"))
  }

  /** One RAPTOR relaxation round: the stop-bounded label frame joins
    * the materialized ride legs (board when label ≤ departure) and the
    * footpath edges, then min-rolls back to one row per (run, stop) —
    * so the frame entering the next round is again ≤ |stops| rows.
    * Package-private for the same PlanSpec audit.
    */
  private[graft] def relaxationRound(labels: DataFrame, legs: DataFrame,
                                    foot: DataFrame): DataFrame = {
    val ride = labels
      .join(legs, labels("run_id") === legs("run_id") &&
        labels("stop_id") === legs("from_stop") && col("best") <= col("dep"))
      .select(legs("run_id"), col("to_stop").as("stop_id"),
        col("arr").as("cand"))
    val walk = labels
      .join(foot, labels("run_id") === foot("run_id") &&
        labels("stop_id") === foot("from_stop"))
      .select(foot("run_id"), col("to_stop").as("stop_id"),
        (col("best") + col("mtt")).as("cand"))
    labels.select(col("run_id"), col("stop_id"), col("best").as("cand"))
      .unionAll(ride).unionAll(walk)
      .groupBy(col("run_id"), col("stop_id"))
      .agg(min(col("cand")).as("best"))
  }

  /** Trip-pattern mining: the distinct ordered stop sequences (route
    * variants) hiding in stop_times, with how many trips share each —
    * the first question route analysis asks of a feed the reference
    * loads but never aggregates (stop_times per
    * 05-create-schema.sh:144-160). Calls order by (arrival_time,
    * stop_id) — the same total order every consumer here uses — via
    * sort_array over structs, so the pattern string is deterministic
    * at any partitioning. One groupBy per trip, one per pattern; the
    * per-trip call list is trip-length-bounded, never corpus-sized.
    */
  def tripPatterns(stopTimes: DataFrame): DataFrame =
    stopTimes
      .groupBy(col("run_id"), col("trip_id"))
      .agg(sort_array(collect_list(
        struct(col("arrival_time"), col("stop_id")))).as("calls"))
      .select(col("run_id"), col("trip_id"),
        array_join(transform(col("calls"), c => c("stop_id")), ">")
          .as("pattern"),
        size(col("calls")).cast("long").as("n_stops"))
      .groupBy(col("run_id"), col("pattern"), col("n_stops"))
      .agg(count(lit(1)).as("n_trips"), min(col("trip_id")).as("first_trip"))
      .orderBy(col("run_id"), col("pattern"))

  /** Headway regularity per (stop, service day) — the bunching audit a
    * transit feed is judged by: inter-arrival gaps at each stop, their
    * exact integer sums, and the coefficient of variation in milli
    * (σ/μ via the population identity n·Σg²−S² — one fixed-shape
    * sqrt + divide, everything before it exact longs). CV ≈ 0 is
    * clockwork service; CV ≥ ~500 milli flags irregular/bunched
    * arrivals (two buses at once, then nothing). Scale: gaps are one
    * lead window partitioned by (run, stop, day) — the arrivals
    * expansion's own clustering — then a per-key rollup.
    */
  def headwayRegularity(arrivals: DataFrame): DataFrame = {
    val byStopDay = Window
      .partitionBy(col("run_id"), col("stop_id"), col("service_date"))
      .orderBy(col("event_ts"), col("trip_id"))
    arrivals
      .withColumn("next_ts", lead(col("event_ts"), 1).over(byStopDay))
      .filter(col("next_ts").isNotNull)
      .select(col("run_id"), col("stop_id"), col("service_date"),
        (unix_timestamp(col("next_ts")) - unix_timestamp(col("event_ts")))
          .as("gap"))
      .groupBy(col("run_id"), col("stop_id"), col("service_date"))
      .agg(count(lit(1)).as("n_gaps"), sum(col("gap")).as("gap_sum"),
        sum(col("gap") * col("gap")).as("gap_sq_sum"))
      .withColumn("mean_gap_secs", expr("gap_sum div n_gaps"))
      .withColumn("cv_milli", when(col("gap_sum") > 0, round(
        sqrt((col("n_gaps") * col("gap_sq_sum") - col("gap_sum") * col("gap_sum"))
          .cast("double")) / col("gap_sum").cast("double") * 1000)
        .cast("long")))
      .withColumn("irregular",
        coalesce(col("cv_milli") > 500L, lit(false)))
      .select(col("run_id"), col("stop_id"), col("service_date"),
        col("n_gaps"), col("gap_sum"), col("gap_sq_sum"),
        col("mean_gap_secs"), col("cv_milli"), col("irregular"))
      .orderBy(col("run_id"), col("stop_id"), col("service_date"))
  }

  /** Kafka-ready JSON shaping with the reference's exact field names and
    * 7-fractional-digit local-time (domain/GtfsArrival.java:20-36).
    */
  def toArrivalJson(arrivals: DataFrame): DataFrame =
    arrivals.select(to_json(struct(
      dates.gtfsLocalTimeString(col("event_ts")).as("local-time"),
      col("stop_name").as("name"),
      col("stop_lat").as("latitude"),
      col("stop_lon").as("longitude"))).as("value"))

  /** Geo-radius post-filter (GeoPredicate semantics, utils/
    * GeoPredicate.java:29-51).
    */
  def withinRadius(arrivals: DataFrame, centerLat: Double, centerLon: Double,
                   radiusMeters: Double): DataFrame =
    arrivals.filter(graft.functions.geo.withinRadius(
      col("stop_lat"), col("stop_lon"), centerLat, centerLon, radiusMeters))

  /** Cumulative distance along each GTFS shape polyline: per point, the
    * haversine leg from the previous point (by `shape_pt_sequence`) and
    * the running distance from the shape's start. The reference loads
    * shapes.txt but never queries it (05-create-schema.sh:108-119 in
    * XComp/vbb-data-pipeline) — this is the distance-along-shape operator
    * a consumer of that table actually wants (e.g. to place a vehicle on
    * its polyline).
    *
    * Legs quantize to millimetre longs before summing: integer running
    * sums are associative, so the cumulative column is bit-identical at
    * any partition count (and engine — the SQL twin sums the same longs),
    * unlike a double running sum whose last bits depend on merge order.
    *
    * Scale shape: one hash shuffle on shape_id for the lag window; the
    * downstream per-shape rollup ([[shapeLengths]]) reuses that
    * partitioning, so the whole pipeline is a single exchange. Input
    * frame needs columns (shape_id, shape_pt_sequence, shape_pt_lat,
    * shape_pt_lon).
    */
  def distanceAlongShape(shapes: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("shape_id")).orderBy(col("shape_pt_sequence"))
    val legM = graft.functions.geo.haversineMeters(
      lag(col("shape_pt_lat"), 1).over(w), lag(col("shape_pt_lon"), 1).over(w),
      col("shape_pt_lat"), col("shape_pt_lon"))
    shapes
      .select(col("shape_id"), col("shape_pt_sequence"),
        col("shape_pt_lat"), col("shape_pt_lon"),
        // first point of a shape has no predecessor: leg 0
        coalesce(round(legM * 1000).cast("long"), lit(0L)).as("leg_mm"))
      .withColumn("cum_mm", sum(col("leg_mm")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Per-shape polyline rollup over [[distanceAlongShape]]: point count
    * and total length. No extra shuffle — the groupBy key matches the
    * window's hash partitioning.
    */
  def shapeLengths(shapes: DataFrame): DataFrame =
    distanceAlongShape(shapes)
      .groupBy(col("shape_id"))
      .agg(count(lit(1)).as("n_points"), max(col("cum_mm")).as("length_mm"))
}
