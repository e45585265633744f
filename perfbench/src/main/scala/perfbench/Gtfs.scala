package perfbench

import graft.gtfs.{ArrivalsQuery, GtfsLoad}
import graft.streaming.{Replay, Streams}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.time.LocalDate
import java.util.SplittableRandom
import java.util.zip.{ZipEntry, ZipOutputStream}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One generated VBB-shaped feed archive and what plain Scala expects the
  * engine to compute from it.
  */
final case class Feed(runDate: String, zip: Path, windowStart: LocalDate,
                      csvBytes: Long, rows: Long, expectedArrivals: Long,
                      expectedGeoKept: Long, insideByCoord: Map[(Double, Double), Boolean])

/** Seeded GTFS feed generator with an independent oracle.
  *
  * Each feed has weekday, weekend, date-limited, mid-window-starting and
  * calendar-less (exception-only) services, `calendar_dates` of both
  * exception types (including no-op removals and additions on already
  * active dates), trips running past midnight (arrival times above
  * 24:00:00) and a few CHECK-violating stop_times rows the loader
  * quarantines. The oracle expands the calendar over the 7-day window
  * with plain date arithmetic and counts arrivals, and arrivals at stops
  * within the geo radius, straight from the generator's own tables.
  */
object FeedGen {
  val CenterLat = 52.52437
  val CenterLon = 13.41053
  val RadiusM = 15000.0
  final case class Size(stops: Int, trips: Int, minStops: Int, maxStops: Int)

  private final case class Service(id: String, days: Set[Int], start: LocalDate, end: LocalDate)

  def haversineM(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
    val dLat = math.toRadians(lat2 - lat1); val dLon = math.toRadians(lon2 - lon1)
    val a = math.pow(math.sin(dLat / 2), 2) +
      math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) * math.pow(math.sin(dLon / 2), 2)
    2 * 6371000.0 * math.atan2(math.sqrt(a), math.sqrt(1 - a))
  }

  private def ymd(d: LocalDate): String = f"${d.getYear}%04d${d.getMonthValue}%02d${d.getDayOfMonth}%02d"
  private def hms(secs: Int): String = f"${secs / 3600}%02d:${secs / 60 % 60}%02d:${secs % 60}%02d"

  /** Feed `idx` of the workload seed; its window starts on a Monday. */
  def generate(seed: Long, idx: Int, dir: Path, size: Size): Feed = {
    val r = new SplittableRandom(seed * 7919L + idx)
    val runDay = LocalDate.of(2019, 1, 7).plusWeeks(idx.toLong)
    val ws = runDay.plusDays(7)
    val window = (0 until 7).map(i => ws.plusDays(i.toLong))

    // stops: kept at least 5 m away from the radius edge so that no
    // floating-point rounding can flip a stop between inside and outside
    val stops = (0 until size.stops).map { i =>
      var lat, lon = 0.0
      while ({
        lat = 52.30 + r.nextDouble() * 0.45; lon = 13.00 + r.nextDouble() * 0.85
        math.abs(haversineM(CenterLat, CenterLon, lat, lon) - RadiusM) < 5.0
      }) ()
      (s"st${idx}_$i", f"Stop $i%d of feed $idx%d", lat, lon)
    }
    val inside = stops.map(s => haversineM(CenterLat, CenterLon, s._3, s._4) <= RadiusM)

    val far = ws.minusDays(40); val late = ws.plusDays(60)
    val services = Seq(
      Service("WD", Set(0, 1, 2, 3, 4), far, late),
      Service("WE", Set(5, 6), far, late),
      Service("DL", (0 to 6).toSet, ws.plusDays(1), ws.plusDays(3)), // expires mid-window
      Service("WL", Set(0, 1, 2, 3, 4), ws.plusDays(3), late),       // starts mid-window
      Service("SA", Set(5), far, ws.plusDays(1)))                    // ends before its day
    val calendarLess = "XO"
    // (service, date) -> exception type; unique per pair as GTFS requires
    val exceptions = mutable.LinkedHashMap[(String, LocalDate), Int](
      ("WD", ws.plusDays(2)) -> 2, ("WD", ws.plusDays(5)) -> 1,
      ("WE", ws.plusDays(6)) -> 2, ("WE", ws) -> 1,
      ("DL", ws.plusDays(2)) -> 1, ("DL", ws.plusDays(5)) -> 2,
      ("XO", ws.plusDays(1)) -> 1, ("XO", ws.plusDays(4)) -> 1,
      ("WD", ws.minusDays(3)) -> 2, ("WL", ws.plusDays(9)) -> 1)
    (0 until 4).foreach { _ =>
      val sid = Seq("WD", "WE", "WL", "SA", "XO")(r.nextInt(5))
      val d = ws.plusDays(r.nextInt(7).toLong)
      if (!exceptions.contains((sid, d))) exceptions((sid, d)) = 1 + r.nextInt(2)
    }

    def active(sid: String, d: LocalDate): Boolean = {
      val wd = d.getDayOfWeek.getValue - 1
      val regular = services.find(_.id == sid)
        .exists(s => s.days(wd) && !d.isBefore(s.start) && !d.isAfter(s.end))
      exceptions.get((sid, d)) match {
        case Some(2) => false
        case Some(1) => true
        case _ => regular
      }
    }
    val serviceIds = services.map(_.id) :+ calendarLess
    val activeDays = serviceIds.map(s => s -> window.count(active(s, _)).toLong).toMap

    val routes = (0 until math.max(1, size.trips / 50)).map(i => s"r${idx}_$i")
    val stopTimes = new StringBuilder("trip_id,arrival_time,departure_time,stop_id,stop_sequence,pickup_type,drop_off_type\n")
    val trips = new StringBuilder("route_id,service_id,trip_id,trip_headsign,direction_id\n")
    var rows = 0L; var arrivals = 0L; var kept = 0L
    (0 until size.trips).foreach { t =>
      val sid = serviceIds(Seq(0, 0, 0, 0, 1, 1, 2, 3, 4, 5)(r.nextInt(10)))
      val tid = s"t${idx}_$t"
      trips.append(s"${routes(t % routes.length)},$sid,$tid,Headsign $t,${t % 2}\n")
      val n = size.minStops + r.nextInt(size.maxStops - size.minStops + 1)
      val first = r.nextInt(size.stops)
      // 04:00 to 25:30, so roughly one trip in eleven runs past midnight
      var secs = 4 * 3600 + r.nextInt(21 * 3600 + 1800)
      (0 until n).foreach { k =>
        val si = (first + k * 7) % size.stops
        val bad = r.nextInt(500) == 0 // CHECK violation: quarantined at load
        stopTimes.append(s"$tid,${hms(secs)},${hms(secs + 30)},${stops(si)._1},${k + 1},${if (bad) 4 else 0},0\n")
        if (!bad) {
          rows += 1
          arrivals += activeDays(sid)
          if (inside(si)) kept += activeDays(sid)
        }
        secs += 90 + r.nextInt(150)
      }
    }

    val members = Seq(
      "agency.txt" -> s"agency_id,agency_name,agency_url,agency_timezone\nvbb$idx,VBB feed $idx,https://example.org,Europe/Berlin\n",
      "stops.txt" -> ("stop_id,stop_name,stop_lat,stop_lon,location_type\n" +
        stops.map(s => s"${s._1},${s._2},${s._3},${s._4},0").mkString("", "\n", "\n")),
      "routes.txt" -> ("route_id,agency_id,route_short_name,route_type\n" +
        routes.map(rt => s"$rt,vbb$idx,${rt.toUpperCase},3").mkString("", "\n", "\n")),
      "calendar.txt" -> ("service_id,monday,tuesday,wednesday,thursday,friday,saturday,sunday,start_date,end_date\n" +
        services.map(s => (s.id +: (0 to 6).map(d => if (s.days(d)) "1" else "0") :+ ymd(s.start) :+ ymd(s.end))
          .mkString(",")).mkString("", "\n", "\n")),
      "calendar_dates.txt" -> ("service_id,date,exception_type\n" +
        exceptions.map { case ((s, d), t) => s"$s,${ymd(d)},$t" }.mkString("", "\n", "\n")),
      "trips.txt" -> trips.toString,
      "stop_times.txt" -> stopTimes.toString)

    Files.createDirectories(dir)
    val zip = dir.resolve(s"feed$idx-${runDay}.zip")
    val out = new ZipOutputStream(Files.newOutputStream(zip))
    try members.foreach { case (name, text) =>
      out.putNextEntry(new ZipEntry(name)); out.write(text.getBytes(StandardCharsets.UTF_8)); out.closeEntry()
    } finally out.close()
    Feed(runDay.toString, zip, ws, members.map(_._2.getBytes(StandardCharsets.UTF_8).length.toLong).sum,
      rows, arrivals, kept,
      stops.indices.map(i => (stops(i)._3, stops(i)._4) -> inside(i)).toMap)
  }
}

/** The paper's pipeline end to end: load distinct feeds into a fresh
  * warehouse, re-load one (a no-op), expand a 7-day window per feed,
  * geo-filter and serialize, then push arrivals through the streaming
  * geo filter twice — a closed-loop drain of a fixed backlog and an
  * open-loop replay at a fixed rate.
  */
final class GtfsWorkload extends Workload {
  val nFeeds = 2
  val size = FeedGen.Size(stops = 400, trips = 1000, minStops = 8, maxStops = 16)
  val drainRecords = 4000
  val drainChunk = 1000
  // Replay paces in whole milliseconds, so the rate keeps the mean gap
  // between records well above one; it is far below the drain rate
  val replayRecords = 120
  val replayRate = 125.0
  private var feeds: Seq[Feed] = Nil
  // the steps whose latency a user of the pipeline sees: a new feed's
  // load, a window expansion, the geo step, the drain of a backlog (the
  // open-loop replay lasts as long as its pacing, and the no-op reload
  // has nothing to wait for)
  val userOps = Set("load_first", "load_append", "window", "geo", "stream_drain")
  val nominalPassSeconds = 12.0

  def inputs(env: Env): Unit = {
    val dir = env.work.resolve("feeds").resolve(s"seed${env.seed}-${size.productIterator.mkString("-")}")
    Util.deleteTree(dir)
    feeds = (0 until nFeeds).map(i => FeedGen.generate(env.seed, i, dir, size))
  }

  /** None: the first timed pass runs in the cold JVM, as a batch job that
    * ingests a newly published feed does. A warm-up pass would cost about
    * twice a timed pass (the cold load and append paths), more than the
    * benchmark's run budget allows.
    */
  def warmup(env: Env): Unit = ()

  def pass(env: Env, p: Pass): Unit = runPass(env, p)

  private def within(m: Map[(Double, Double), Boolean], json: String): Boolean = {
    def field(k: String) = ("\"" + k + "\":([-0-9.Ee]+)").r.findFirstMatchIn(json).map(_.group(1).toDouble)
    (for (la <- field("latitude"); lo <- field("longitude")) yield m.getOrElse((la, lo), false)).getOrElse(false)
  }

  private def runPass(env: Env, p: Pass): Unit = {
    val spark = env.spark
    val t = env.tracer
    val wh = env.work.resolve(s"warehouse-${p.idx + 1}")
    Util.deleteTree(wh)
    val loader = new GtfsLoad(spark, wh.toString)
    def op[A](kind: String, name: String)(body: => (A, Boolean)): Option[A] = {
      var res: Option[A] = None
      var secs = 0.0
      val ok = env.attempt(s"$kind $name") {
        t.span(name, "op", "kind" -> kind) {
          val ((a, good), s) = Util.time(body)
          secs = s; res = Some(a); good
        }
      }
      p.ops += Op(kind, name, secs, ok)
      res
    }

    // loads: the first creates the warehouse, the rest append
    val runIds = feeds.zipWithIndex.map { case (f, i) =>
      val kind = if (i == 0) "load_first" else "load_append"
      op(kind, s"loadArchive ${f.runDate}") {
        val counts = loader.loadArchive("vbb", f.runDate, f.zip.toString)
        (counts, counts.exists(_.getOrElse("stop_times", -1L) == f.rows))
      }
      i + 1
    }
    op("load_noop", s"loadArchive ${feeds.head.runDate} (again)") {
      val counts = loader.loadArchive("vbb", feeds.head.runDate, feeds.head.zip.toString)
      ((), counts.isEmpty)
    }
    val loadOps = p.ops.filter(_.kind.startsWith("load_"))
    def secsOf(k: String) = loadOps.filter(_.kind == k).map(_.secs)
    p.stats("gtfs_load.first_s") = secsOf("load_first").sum
    p.stats("gtfs_load.append_s") = Util.median(secsOf("load_append"))
    p.stats("gtfs_load.noop_reload_s") = secsOf("load_noop").sum
    val loadSecs = secsOf("load_first").sum + secsOf("load_append").sum
    p.stats("feed_load_s") = Util.median(secsOf("load_first") ++ secsOf("load_append"))
    p.stats("gtfs_load.rows_per_s") = feeds.map(_.rows).sum / math.max(1e-9, loadSecs)
    p.stats("gtfs_load.write_amp") = Util.treeBytes(wh) / math.max(1.0, feeds.map(_.csvBytes).sum.toDouble)

    // one 7-day window per loaded run
    def windowOf(i: Int) = {
      def tbl(n: String) = loader.table(n).filter(col("run_id") === runIds(i))
      val f = feeds(i)
      ArrivalsQuery.arrivalsWithExceptions(tbl("calendar"), tbl("calendar_dates"), tbl("trips"),
        tbl("stop_times"), tbl("stops"), f.windowStart.toString, f.windowStart.plusDays(7).toString)
    }
    var windowRows = 0L
    feeds.indices.foreach { i =>
      op("window", s"arrivals window ${feeds(i).windowStart}") {
        val n = windowOf(i).count()
        windowRows += n
        ((), n == feeds(i).expectedArrivals)
      }
    }
    val winSecs = p.ops.filter(_.kind == "window").map(_.secs)
    p.stats("arrivals.expand_s") = Util.median(winSecs)
    p.stats("arrivals_window_s") = Util.median(winSecs)
    p.stats("arrivals.rows_per_s") = windowRows / math.max(1e-9, winSecs.sum)

    val geoKept = op("geo", "withinRadius + toArrivalJson") {
      val n = ArrivalsQuery.toArrivalJson(ArrivalsQuery.withinRadius(windowOf(0),
        FeedGen.CenterLat, FeedGen.CenterLon, FeedGen.RadiusM)).count()
      (n, n == feeds.head.expectedGeoKept)
    }
    p.stats("arrivals.geo_json_s") = p.ops.filter(_.kind == "geo").map(_.secs).sum
    p.stats("arrivals.geo_kept_share") = geoKept.getOrElse(0L).toDouble / math.max(1L, feeds.head.expectedArrivals)

    // stream inputs: the window's arrivals in event-time order, as wire JSON
    val localTime = "\"local-time\":\"([^\"]+)\"".r
    val records = ArrivalsQuery.toArrivalJson(windowOf(0))
      .limit(drainRecords + replayRecords).collect().map { r =>
        val v = r.getString(0)
        (Timestamp.valueOf(localTime.findFirstMatchIn(v).get.group(1)), v)
      }.toSeq
    val inside = feeds.head.insideByCoord
    val (drainSet, rest) = records.splitAt(math.min(drainRecords, records.length / 2))
    val drained = streamDrain(env, p, drainSet, inside)
    streamReplay(env, p, rest.take(replayRecords), inside, drained)
    Util.deleteTree(wh)
  }

  private def startGeoStream(env: Env, name: String): (MemoryStream[String], StreamingQuery) = {
    val spark = env.spark
    import spark.implicits._
    // one partition per core, not one per addData call
    val src = MemoryStream[String](spark, env.cores)
    val q = Streams.toArrivalValue(Streams.geoFilter(Streams.parseArrivals(src.toDF()),
        FeedGen.CenterLat, FeedGen.CenterLon, FeedGen.RadiusM))
      .writeStream.format("memory").queryName(name).outputMode(OutputMode.Append).start()
    (src, q)
  }

  /** (end offset, start ms, end ms, addBatch ms, input rows) of one micro-batch. */
  private type Batch = (Long, Double, Double, Double, Long)

  /** Micro-batch spans and per-batch figures from the query's recent progress. */
  private def batches(env: Env, p: Pass, q: StreamingQuery): Seq[Batch] = {
    val bs = q.recentProgress.filter(_.numInputRows > 0).map { pr =>
      val start = java.time.Instant.parse(pr.timestamp).toEpochMilli.toDouble
      val d = pr.durationMs.asScala.map { case (k, v) => k -> v.longValue() }
      val end = pr.sources.headOption.map(_.endOffset.trim.toLong).getOrElse(-1L)
      (end, start, start + d.getOrElse("triggerExecution", 0L), d.getOrElse("addBatch", 0L).toDouble,
        pr.numInputRows)
    }.toSeq
    val parent = env.tracer.spans.lastOption.filter(_ => p.traced).map(_.id).getOrElse(0)
    if (p.traced) bs.foreach { case (end, s, e, _, n) =>
      env.tracer.add(s"micro-batch to offset $end", "batch", parent, s, e, "rows" -> n)
    }
    bs
  }

  private def recordBatches(p: Pass, bs: Seq[Batch]): Unit = {
    p.stats("streams.batch_ms") = Util.median(bs.map(b => b._3 - b._2))
    p.stats("streams.add_batch_ms") = Util.median(bs.map(_._4))
    p.stats("streams.rows_per_batch") = Util.median(bs.map(_._5.toDouble))
  }

  /** Closed loop: add a chunk, wait for it to be processed, repeat. */
  private def streamDrain(env: Env, p: Pass, recs: Seq[(Timestamp, String)],
                          inside: Map[(Double, Double), Boolean]): Seq[Batch] = {
    val name = s"pb_drain_${p.idx + 1}"
    val (src, q) = startGeoStream(env, name)
    try {
      var secs = 0.0
      var bs: Seq[Batch] = Nil
      val ok = env.attempt("stream drain") {
        env.tracer.span("stream drain", "op", "records" -> recs.length) {
          val (_, s) = Util.time(recs.grouped(drainChunk).foreach { c =>
            src.addData(c.map(_._2)); q.processAllAvailable()
          })
          secs = s
          bs = batches(env, p, q)
        }
        val expected = recs.count(r => within(inside, r._2))
        env.spark.table(name).count() == expected
      }
      p.ops += Op("stream_drain", "stream drain", secs, ok)
      p.stats("stream_records_per_s") = recs.length / math.max(1e-9, secs)
      bs
    } finally q.stop()
  }

  /** Open loop: `Replay.replay` paces the records at a fixed rate; each
    * record is timed from when it was due (or sent, if earlier) until its
    * micro-batch committed.
    */
  private def streamReplay(env: Env, p: Pass, recs: Seq[(Timestamp, String)],
                           inside: Map[(Double, Double), Boolean], drained: Seq[Batch]): Unit = {
    val name = s"pb_replay_${p.idx + 1}"
    val (src, q) = startGeoStream(env, name)
    try {
      val first = recs.head._1.getTime
      val span = math.max(1L, recs.last._1.getTime - first).toDouble
      val speedup = span / (recs.length / replayRate * 1000.0)
      val offsets = new Array[Long](recs.length)
      val lag = new Array[Double](recs.length)
      val start = new Array[Double](recs.length)
      var secs = 0.0
      var bs: Seq[Batch] = Nil
      val ok = env.attempt("stream replay") {
        env.tracer.span("stream replay", "op", "records" -> recs.length, "rate" -> replayRate) {
          val t0 = env.tracer.nowMs
          var i = 0
          val (_, s) = Util.time {
            Replay.replay[String](recs.iterator, { case (ts, v) =>
              val due = t0 + (ts.getTime - first) / speedup
              start(i) = math.min(due, env.tracer.nowMs)
              offsets(i) = src.addData(Seq(v)).json.trim.toLong
              lag(i) = env.tracer.nowMs - due
              i += 1
            }, speedup = speedup)
            q.processAllAvailable()
          }
          secs = s
          bs = batches(env, p, q)
        }
        val expected = recs.count(r => within(inside, r._2))
        env.spark.table(name).count() == expected
      }
      // commit time of a record = end of the first batch whose end offset
      // covers it; its clock starts when it was due, so time the generator
      // ran late (replay.gen_lag_ms) counts against the latency, or when it
      // was sent if that was earlier (Replay rounds each gap down to whole
      // milliseconds, so it can run ahead)
      val commits = bs.sortBy(_._1)
      val lat = offsets.indices.flatMap { i => commits.find(_._1 >= offsets(i)).map(_._3 - start(i)) }
      val (tailV, _) = Util.tail(lat)
      p.ops += Op("stream_replay", "stream replay", secs, ok)
      p.stats("stream_latency_p50_ms") = Util.median(lat)
      p.stats("stream_latency_tail_ms") = tailV
      p.stats("replay.gen_lag_ms") = Util.median(lag.toSeq)
      recordBatches(p, drained ++ bs)
    } finally q.stop()
  }

  override def summary(passes: Seq[Pass]): Seq[(String, Double, String)] =
    Seq("feed_load_s" -> "s", "arrivals_window_s" -> "s", "stream_records_per_s" -> "1/s",
      "stream_latency_p50_ms" -> "ms", "stream_latency_tail_ms" -> "ms").map { case (k, u) =>
      (k, Util.median(passes.map(_.stats(k))), u)
    }
}
