package graft.gtfs

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Self-contained deterministic GTFS fixture for the DuckDB oracle gate —
  * the FIXTURES.md §A synthetic feed (same services, trips, stop_times
  * and stops the GtfsLoadSpec golden tests load from zip), restated as
  * literal frames so `q_gtfs_arrivals` can cross-check the flagship
  * arrivals expansion against an oracle that states the same VALUES
  * (the driver's testdata has no GTFS-shaped tables, so the fixture IS
  * the table). Covers every semantic the expansion owns: weekday flags,
  * validity ranges, type-1/type-2 calendar_dates exceptions (including
  * a redundant type-1 on an already-active weekday, which must NOT
  * double-emit, and a type-1 for a service with NO calendar row), and
  * the >24:00:00 post-midnight day-roll.
  *
  * Reference shape: calendar/trips/stop_times/stops per
  * `airflow/script/dbinit/05-create-schema.sh:93-160`; the arrivals
  * join chain per `streaming/.../data/GtfsDAO.java:36-48`.
  */
object GtfsFixture {

  def calendar(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      (1L, "WD", 1, 1, 1, 1, 1, 0, 0, 20190201, 20190331),
      (1L, "WE", 0, 0, 0, 0, 0, 1, 1, 20190201, 20190331),
      (1L, "EXP", 1, 1, 1, 1, 1, 1, 1, 20190201, 20190218),
    ).toDF("run_id", "service_id", "monday", "tuesday", "wednesday",
      "thursday", "friday", "saturday", "sunday", "start_date", "end_date")
      .selectExpr("run_id", "service_id",
        "monday = 1 AS monday", "tuesday = 1 AS tuesday",
        "wednesday = 1 AS wednesday", "thursday = 1 AS thursday",
        "friday = 1 AS friday", "saturday = 1 AS saturday",
        "sunday = 1 AS sunday", "start_date", "end_date")
  }

  def calendarDates(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      (1L, "WD", 20190220, 2),   // weekday service removed on a Wednesday
      (1L, "WE", 20190220, 1),   // weekend service added mid-week
      (1L, "WD", 20190219, 1),   // redundant add on an active weekday
      (1L, "XTRA", 20190221, 1), // service defined ONLY by its added date
    ).toDF("run_id", "service_id", "date", "exception_type")
  }

  /** (run_id, service_id, trip_id) */
  private val tripRows = Seq(
    (1L, "WD", "T1"), (1L, "WE", "T2"), (1L, "EXP", "T3"),
    (1L, "XTRA", "T4"))

  /** (run_id, trip_id, arrival_time, stop_id): arrival_time in seconds
    * past midnight (may exceed 86400 — the 25:10:00 row exercises the
    * day-roll).
    */
  private val stopTimeRows = Seq(
    (1L, "T1", 8L * 3600 + 30 * 60 + 15, "S1"),
    (1L, "T1", 25L * 3600 + 10 * 60, "S2"),
    (1L, "T2", 10L * 3600, "S1"),
    (1L, "T2", 10L * 3600 + 10 * 60, "S2"),
    (1L, "T3", 9L * 3600, "S3"),
    (1L, "T3", 9L * 3600 + 30 * 60, "S1"),
    // T4's S2 call makes the S1→S2 timed transfer FEASIBLE on the
    // XTRA added date (T1 arr 08:30:15 + 300 s ≤ 09:00 ≤ + 1 h)
    (1L, "T4", 9L * 3600, "S2"),
    (1L, "T4", 11L * 3600, "S1"))

  def trips(s: SparkSession): DataFrame = {
    import s.implicits._
    tripRows.toDF("run_id", "service_id", "trip_id")
  }

  /** Departure = arrival + 60 s. */
  def stopTimes(s: SparkSession): DataFrame = {
    import s.implicits._
    stopTimeRows.map { case (r, t, at, stop) => (r, t, at, stop, at + 60) }
      .toDF("run_id", "trip_id", "arrival_time", "stop_id", "departure_time")
  }

  /** Headway expansion fixture: T2 repeats 10:00–11:00 every 20 min
    * (instances at 36000/37200/38400); every other trip passes through
    * [[ArrivalsQuery.expandFrequencies]] untouched.
    */
  def frequencies(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq((1L, "T2", "10:00:00", "11:00:00", 1200L))
      .toDF("run_id", "trip_id", "start_time", "end_time", "headway_secs")
  }

  /** Transfer edges: S1→S2 timed (type 2, 300 s minimum), S2→S1 open
    * (type 0 — no minimum), S1→S3 impossible (type 3 — excluded).
    */
  def transfers(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      (1L, "S1", "S2", 2, Some(300)),
      (1L, "S2", "S1", 0, None),
      (1L, "S1", "S3", 3, Some(0)),
    ).toDF("run_id", "from_stop_id", "to_stop_id", "transfer_type",
      "min_transfer_time")
  }

  def stops(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      (1L, "S1", "Alexanderplatz", 52.52437, 13.41053),
      (1L, "S2", "Potsdam Hbf", 52.39886, 13.06566),
      (1L, "S3", "Outer Rim", 48.13743, 11.57549),
    ).toDF("run_id", "stop_id", "stop_name", "stop_lat", "stop_lon")
  }

  /** ScaleUp-style multiplied feed, trips side: every fixture trip
    * cloned `mult` times with a suffixed id — the shape a real feed
    * takes at metro scale (stop_times is the fact, calendar/stops stay
    * dim-sized). Built as a literal local relation so plan audits see
    * accurate size stats: big enough that the fact join must
    * sort-merge under a realistic broadcast threshold while
    * calendar/stops still broadcast.
    */
  def scaledTrips(s: SparkSession, mult: Int): DataFrame = {
    import s.implicits._
    (0 until mult).flatMap { i =>
      tripRows.map { case (r, svc, t) => (r, svc, s"${t}_$i") }
    }.toDF("run_id", "service_id", "trip_id")
  }

  /** Multiplied stop_times matching [[scaledTrips]]: each clone keeps
    * its template's calls with a deterministic ≤59 s second offset
    * (never enough to cross a service-day boundary), so the scaled
    * arrivals row count is exactly `mult` × the base fixture's.
    */
  def scaledStopTimes(s: SparkSession, mult: Int): DataFrame = {
    import s.implicits._
    (0 until mult).flatMap { i =>
      stopTimeRows.map { case (r, t, at, stop) =>
        (r, s"${t}_$i", at + i % 60, stop, at + i % 60 + 60)
      }
    }.toDF("run_id", "trip_id", "arrival_time", "stop_id", "departure_time")
  }

  /** The flagship query over the fixture: full-fidelity arrivals
    * (weekday expansion + both calendar_dates exception kinds) for the
    * window Mon 2019-02-18 .. Mon 2019-02-25 (exclusive), event time
    * rendered in the reference's 7-fractional-digit JSON format (F11)
    * so the oracle compares exact strings, no timezone seam.
    */
  def arrivalsOracleQuery(s: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions._
    ArrivalsQuery.arrivalsWithExceptions(
      calendar(s), calendarDates(s), trips(s), stopTimes(s), stops(s),
      "2019-02-18", "2019-02-25")
      .select(
        graft.functions.dates.gtfsLocalTimeString(col("event_ts"))
          .as("event_time"),
        col("stop_name"), col("stop_lat"), col("stop_lon"), col("run_id"),
        col("service_id"), col("trip_id"), col("stop_id"),
        col("service_date"))
  }

  /** Multi-leg earliest arrivals over the fixture — oracle twin of
    * [[ArrivalsQuery.earliestArrivals]]: from S1 at 08:00 on Thursday
    * 2019-02-21 (WD weekday service active, XTRA added by its type-1
    * date), the S1→S2 timed transfer (300 s) beats T1's post-midnight
    * ride, T4 rides S2→S1 without improving the origin, and S3 stays
    * NULL (its only caller T3 expired 02-18; the S1→S3 edge is type 3).
    */
  def earliestArrivalOracleQuery(s: SparkSession): DataFrame =
    ArrivalsQuery.earliestArrivals(
      calendar(s), calendarDates(s), trips(s), stopTimes(s), stops(s),
      transfers(s), "S1", "2019-02-21", 8L * 3600)

  /** RAPTOR arrival profile over the fixture — oracle twin of
    * [[ArrivalsQuery.earliestArrivalProfile]]: same origin/day as the
    * earliest-arrival query, one row per (reached stop, leg budget).
    */
  def earliestArrivalProfileOracleQuery(s: SparkSession): DataFrame =
    ArrivalsQuery.earliestArrivalProfile(
      calendar(s), calendarDates(s), trips(s), stopTimes(s), stops(s),
      transfers(s), "S1", "2019-02-21", 8L * 3600)

  /** Isochrone counts over the fixture — oracle twin of
    * [[ArrivalsQuery.isochroneCounts]]: same origin/day/departure as
    * the earliest-arrival query, one row per time budget.
    */
  def isochroneOracleQuery(s: SparkSession): DataFrame =
    ArrivalsQuery.isochroneCounts(
      calendar(s), calendarDates(s), trips(s), stopTimes(s), stops(s),
      transfers(s), "S1", "2019-02-21", 8L * 3600)

  /** Trip patterns over the fixture stop_times — oracle twin of
    * [[ArrivalsQuery.tripPatterns]].
    */
  def tripPatternsOracleQuery(s: SparkSession): DataFrame =
    ArrivalsQuery.tripPatterns(stopTimes(s))

  /** Headway-regularity audit over the fixture's expanded arrivals —
    * oracle twin of [[ArrivalsQuery.headwayRegularity]].
    */
  def headwayOracleQuery(s: SparkSession): DataFrame =
    ArrivalsQuery.headwayRegularity(
      ArrivalsQuery.arrivalsWithExceptions(
        calendar(s), calendarDates(s), trips(s), stopTimes(s), stops(s),
        "2019-02-18", "2019-02-25"))

  /** Headway materialisation over the fixture — oracle twin of
    * [[ArrivalsQuery.expandFrequencies]]: T2's three 20-minute
    * instances with template-offset arithmetic, everything else
    * passing through with a null trip_start_secs.
    */
  def frequenciesOracleQuery(s: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions._
    ArrivalsQuery.expandFrequencies(stopTimes(s), frequencies(s))
      .select(col("run_id"), col("trip_id"), col("stop_id"),
        col("trip_start_secs"), col("arrival_time"),
        col("departure_time"))
  }

  /** Feasible transfer connections over the expanded fixture arrivals —
    * oracle twin of [[ArrivalsQuery.feasibleConnections]]: per arrival
    * at a transfer edge's from-stop, the FIRST other-trip event at its
    * to-stop departing ≥ min_transfer_time and ≤ 1 h later.
    */
  def connectionsOracleQuery(s: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions._
    val arr = ArrivalsQuery.arrivalsWithExceptions(
      calendar(s), calendarDates(s), trips(s), stopTimes(s), stops(s),
      "2019-02-18", "2019-02-25")
    ArrivalsQuery.feasibleConnections(arr, transfers(s))
      .select(col("run_id"), col("from_trip"), col("from_stop_id"),
        graft.functions.dates.gtfsLocalTimeString(col("arr_ts"))
          .as("arr_time"),
        col("to_trip"), col("to_stop_id"),
        graft.functions.dates.gtfsLocalTimeString(col("dep_ts"))
          .as("dep_time"),
        col("wait_secs"))
  }
}
