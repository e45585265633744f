package graft.gtfs

import graft.SparkSpec
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

import java.io.{File, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}
import scala.jdk.CollectionConverters._

/** End-to-end loader + arrivals golden tests on the FIXTURES.md synthetic
  * feed: dirty headers, ""->NULL, unknown members, checksum dedup,
  * double-load idempotency, CHECK quarantine, 25:10 day-roll.
  */
class GtfsLoadSpec extends SparkSpec {
  import spark.implicits._

  private def writeZip(path: File, members: Map[String, String]): Unit = {
    val out = new ZipOutputStream(new FileOutputStream(path))
    members.foreach { case (name, content) =>
      out.putNextEntry(new ZipEntry(name))
      out.write(content.getBytes(StandardCharsets.UTF_8))
      out.closeEntry()
    }
    out.close()
  }

  /** The fixture feed (FIXTURES.md §A): 3 stops incl. the Spock geo pair,
    * weekday + weekend services, a 25:10:00 post-midnight arrival and a
    * pickup_type=4 CHECK violation, junk chars in the stops header (KVV),
    * empty strings, and an unknown member.
    */
  private val feedMembers = Map(
    "agency.txt" ->
      """agency_id,agency_name,agency_url,agency_timezone
        |vbb1,VBB Fixture,https://example.org,Europe/Berlin""".stripMargin,
    // header carries junk chars to exercise sanitize (operators.py:160-162)
    "stops.txt" ->
      """stop_id ;,stop_code,stop_name,stop_desc,stop_lat,stop_lon
        |S1,,Alexanderplatz,,52.52437,13.41053
        |S2,,Potsdam Hbf,,52.39886,13.06566
        |S3,,Outer Rim,,48.13743,11.57549""".stripMargin,
    "routes.txt" ->
      """route_id,agency_id,route_short_name,route_type
        |R1,vbb1,U2,400""".stripMargin,
    "calendar.txt" ->
      """service_id,monday,tuesday,wednesday,thursday,friday,saturday,sunday,start_date,end_date
        |WD,1,1,1,1,1,0,0,20190201,20190331
        |WE,0,0,0,0,0,1,1,20190201,20190331
        |EXP,1,1,1,1,1,1,1,20190201,20190218""".stripMargin,
    "calendar_dates.txt" ->
      """service_id,date,exception_type
        |WD,20190220,2
        |WE,20190220,1
        |WD,20190219,1
        |XTRA,20190221,1""".stripMargin,
    "trips.txt" ->
      """route_id,service_id,trip_id,trip_headsign
        |R1,WD,T1,Pankow
        |R1,WE,T2,Ruhleben
        |R1,EXP,T3,Depot
        |R1,XTRA,T4,Sonderfahrt""".stripMargin,
    "stop_times.txt" ->
      """trip_id,arrival_time,departure_time,stop_id,stop_sequence,pickup_type,drop_off_type
        |T1,08:30:15,08:31:00,S1,1,0,0
        |T1,25:10:00,25:11:00,S2,2,0,0
        |T2,10:00:00,10:01:00,S1,1,0,0
        |T3,09:00:00,09:01:00,S3,1,0,0
        |T3,09:30:00,09:31:00,S1,2,4,0
        |T4,11:00:00,11:01:00,S1,1,0,0""".stripMargin,
    "fare_rules.txt" -> "fare_id,route_id\nF1,R1", // unknown member -> skipped
  )

  private def freshLoader(): (GtfsLoad, File) = {
    val wh = Files.createTempDirectory("gtfs_wh").toFile
    (new GtfsLoad(spark, wh.getAbsolutePath), wh)
  }

  private def zipOf(members: Map[String, String], name: String = "2019-02-21.zip"): File = {
    val f = new File(Files.createTempDirectory("gtfs_zip").toFile, name)
    writeZip(f, members)
    f
  }

  private def fixtureZip(name: String = "2019-02-21.zip"): File = zipOf(feedMembers, name)

  test("load conforms dirty input: sanitized headers, nulls, skipped members, quarantine") {
    val (loader, _) = freshLoader()
    val counts = loader.loadArchive("vbb", "2019-02-21", fixtureZip().getAbsolutePath).get
    assert(counts("stops") === 3) // junk header sanitized to stop_id
    assert(counts("calendar") === 3)
    assert(counts("stop_times") === 5) // pickup_type=4 quarantined
    assert(!counts.contains("fare_rules"))
    val st = loader.table("stop_times")
    assert(st.filter($"pickup_type" === 4).count() === 0)
    assert(loader.table("stop_times_rejects").count() === 1)
    // "" -> NULL
    assert(loader.table("stops").filter($"stop_code".isNull).count() === 3)
    // GTFS >24h time preserved as seconds
    assert(st.filter($"arrival_time" === (25 * 3600 + 10 * 60)).count() === 1)
    // FK audit: fixture is referentially intact
    assert(loader.fkOrphans("stop_times").values.forall(_ == 0L))
  }

  test("double load is idempotent; duplicate-content archive is dropped") {
    val (loader, _) = freshLoader()
    val zip = fixtureZip()
    assert(loader.loadArchive("vbb", "2019-02-21", zip.getAbsolutePath).isDefined)
    // same (provider, run_date) -> run-level short-circuit
    assert(loader.loadArchive("vbb", "2019-02-21", zip.getAbsolutePath).isEmpty)
    // same content, new run_date -> checksum dedup
    val dup = fixtureZip("2019-02-22.zip")
    assert(loader.loadArchive("vbb", "2019-02-22", dup.getAbsolutePath).isEmpty)
    assert(loader.table("stops").count() === 3)
    assert(loader.table("run").count() === 1)
  }

  /** Every stored row of a table, as sorted strings (order-free compare). */
  private def storedRows(loader: GtfsLoad, table: String): Seq[String] =
    loader.table(table).collect().map(_.toString).sorted.toSeq

  test("a retry after a partial load appends no duplicates") {
    val (clean, _) = freshLoader()
    clean.loadArchive("vbb", "2019-02-21", fixtureZip().getAbsolutePath)
    // a failed first attempt at run 1 landed agency, stop_times (with its
    // reject), calendar_dates and part of stops before it died, so the run
    // row was never written
    val (retried, _) = freshLoader()
    val partial = Files.createTempDirectory("gtfs_partial").toFile
    retried.registerProvider("vbb")
    Seq(
      "agency" -> feedMembers("agency.txt"),
      "stops" -> feedMembers("stops.txt").linesIterator.take(2).mkString("\n"),
      "stop_times" -> feedMembers("stop_times.txt"),
      "calendar_dates" -> feedMembers("calendar_dates.txt"),
    ).foreach { case (t, content) =>
      val f = new File(partial, s"$t.txt")
      Files.write(f.toPath, content.getBytes(StandardCharsets.UTF_8))
      retried.appendTable(t, retried.conform(f.getAbsolutePath, t), 1, "vbb")
    }
    val counts = retried.loadArchive("vbb", "2019-02-21", fixtureZip().getAbsolutePath).get
    assert(counts("agency") === 0 && counts("stop_times") === 0 &&
      counts("calendar_dates") === 0)
    assert(counts("stops") === 2 && counts("trips") === 4)
    // stop_times rows carry NULLs (stop_headsign, ...): only a null-safe
    // all-column compare recognizes them as already stored
    for (t <- GtfsSchemas.feedTables.keys.toSeq.sorted :+ "stop_times_rejects")
      assert(storedRows(retried, t) === storedRows(clean, t), t)
  }

  test("a retry member whose rows are all stored or rejected lands nothing") {
    val (loader, _) = freshLoader()
    val dir = Files.createTempDirectory("gtfs_members").toFile
    def append(name: String, content: String): (Long, Long) = {
      val f = new File(dir, name)
      Files.write(f.toPath, content.getBytes(StandardCharsets.UTF_8))
      loader.appendTable("stop_times", loader.conform(f.getAbsolutePath, "stop_times"), 1, "vbb")
    }
    val st = feedMembers("stop_times.txt")
    assert(append("full.txt", st) === ((5L, 1L)))
    // run 1's partitions now exist, so every later append goes through
    // the anti-join, with an empty or fully stored input
    assert(append("header.txt", st.linesIterator.next()) === ((0L, 0L)))
    assert(append("rejected.txt", "trip_id,pickup_type\nX,9") === ((0L, 1L)))
    assert(append("again.txt", st) === ((0L, 1L)))
    assert(loader.table("stop_times").count() === 5)
    assert(loader.table("stop_times_rejects").count() === 2)
  }

  test("a failed load leaves no run row and no extracted files; its retry completes it") {
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    def extracts() = tmp.listFiles().map(_.getName).filter(_.startsWith("gtfs_extract")).toSet
    val before = extracts()
    val (loader, _) = freshLoader()
    // a duplicated column makes stops fail to conform while the other
    // members of its wave load
    val broken = feedMembers.updated("stops.txt",
      feedMembers("stops.txt").replaceFirst("stop_code", "stop_id"))
    intercept[org.apache.spark.sql.AnalysisException](
      loader.loadArchive("vbb", "2019-02-21", zipOf(broken).getAbsolutePath))
    assert(extracts() -- before === Set.empty)
    assert(loader.table("run").isEmpty && loader.table("stops").isEmpty)
    assert(loader.table("agency").count() === 1)

    val counts = loader.loadArchive("vbb", "2019-02-21", fixtureZip().getAbsolutePath).get
    assert(counts("agency") === 0 && counts("stops") === 3)
    assert(extracts() -- before === Set.empty)
    val (clean, _) = freshLoader()
    clean.loadArchive("vbb", "2019-02-21", fixtureZip().getAbsolutePath)
    for (t <- GtfsSchemas.feedTables.keys.toSeq.sorted)
      assert(storedRows(loader, t) === storedRows(clean, t), t)
  }

  test("a header-only member loads no rows and reads back with its schema") {
    val (loader, wh) = freshLoader()
    val members = feedMembers.updated("calendar_dates.txt", "service_id,date,exception_type\n")
    val counts = loader.loadArchive("vbb", "2019-02-21", zipOf(members).getAbsolutePath).get
    assert(counts("calendar_dates") === 0)
    assert(!new File(wh, "calendar_dates").exists())
    val cd = loader.table("calendar_dates")
    assert(cd.count() === 0)
    assert(cd.schema.fieldNames.toSeq ===
      Seq("service_id", "date", "exception_type", "provider_id", "run_id"))
  }

  test("a quoted header conforms like an unquoted one") {
    val (plain, _) = freshLoader()
    plain.loadArchive("vbb", "2019-02-21", fixtureZip().getAbsolutePath)
    val (quoted, _) = freshLoader()
    val header :: rows = feedMembers("stops.txt").linesIterator.toList
    val quotedStops = (header.split(",").map(c => "\"" + c + "\"").mkString(",") :: rows).mkString("\n")
    quoted.loadArchive("vbb", "2019-02-21",
      zipOf(feedMembers.updated("stops.txt", quotedStops)).getAbsolutePath)
    assert(storedRows(quoted, "stops").size === 3)
    assert(storedRows(quoted, "stops") === storedRows(plain, "stops"))
  }

  test("a numeric-looking provider id reads back as the string it was loaded under") {
    val (loader, _) = freshLoader()
    assert(loader.loadArchive("0815", "2019-02-21", fixtureZip().getAbsolutePath).isDefined)
    val stops = loader.table("stops")
    assert(stops.schema("provider_id").dataType === StringType)
    assert(stops.select($"provider_id").distinct().as[String].collect().toSeq === Seq("0815"))
    val second = zipOf(feedMembers.updated("stops.txt",
      feedMembers("stops.txt") + "\nS4,,Neu Stop,,52.1,13.1"), "2019-03-01.zip")
    assert(loader.loadArchive("0815", "2019-03-01", second.getAbsolutePath).isDefined)
    assert(loader.table("run").filter($"run_date" === "2019-03-01")
      .select($"run_id").as[Int].collect().toSeq === Seq(2))
    assert(loader.table("stops").filter($"provider_id" === "0815" && $"run_id" === 2)
      .count() === 4)
  }

  /** The fixture feed dated 2019-03-0`n`, with `n` extra stops so that
    * every such archive is distinct content.
    */
  private def nthFeed(n: Int): (String, String) = {
    val stops = feedMembers("stops.txt") + (1 to n).map(i => s"\nX$i,,Extra $i,,52.$i,13.$i").mkString
    (s"2019-03-0$n", zipOf(feedMembers.updated("stops.txt", stops), s"2019-03-0$n.zip").getAbsolutePath)
  }

  private def loadRuns(loader: GtfsLoad, runs: Int*): Unit = runs.foreach { n =>
    val (date, zip) = nthFeed(n)
    assert(loader.loadArchive("vbb", date, zip).isDefined, date)
  }

  test("a third run compiles no class: no run id reaches the load's generated code") {
    val (loader, _) = freshLoader()
    loadRuns(loader, 1, 2)
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    loadRuns(loader, 3)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before === 0)
    assert(loader.table("stops").filter($"run_id" === 3).count() === 6)
  }

  test("warehouse layout: one provider_id=/run_id= directory per landed run, " +
       "data files holding the feed columns only") {
    val (loader, wh) = freshLoader()
    loadRuns(loader, 1, 2)
    val dataFiles = Files.walk(wh.toPath).iterator().asScala.map(_.toFile)
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).toSeq
    def rel(dir: File) = wh.toPath.relativize(dir.toPath).toString
    val runTables = Seq("calendar", "calendar_dates", "routes", "stop_times",
      "stop_times_rejects", "stops", "trips")
    // run 2's agency row is already stored, so run 2 has no agency partition
    assert(dataFiles.map(f => rel(f.getParentFile)).toSet ===
      Set("agency/provider_id=vbb/run_id=1", "archive_manifest", "provider", "run") ++
        (for (t <- runTables; r <- 1 to 2) yield s"$t/provider_id=vbb/run_id=$r"))
    dataFiles.filter(f => rel(f).contains("/provider_id=")).foreach { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
        new HPath(f.toURI), spark.sparkContext.hadoopConfiguration))
      val (columns, rows) = try (reader.getFileMetaData.getSchema.getFields.asScala
        .map(_.getName).toSeq, reader.getRecordCount) finally reader.close()
      val table = rel(f).takeWhile(_ != '/').stripSuffix("_rejects")
      assert(columns === GtfsSchemas.feedTables(table).fieldNames.toSeq, rel(f))
      assert(rows > 0, s"${rel(f)} holds no row")
    }
  }

  test("table() starts no job and matches Spark's schema inference") {
    val (loader, wh) = freshLoader()
    loader.loadArchive("vbb", "2019-02-21", fixtureZip().getAbsolutePath)
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    val names = Seq("stops", "stop_times_rejects", "run", "provider", "archive_manifest")
    sc.addSparkListener(listener)
    val frames = try {
      sc.setJobGroup("gtfs-table-read", "build table() frames")
      val built = try names.map(n => n -> loader.table(n)) finally sc.clearJobGroup()
      // the listener bus delivers in order: once the fence job is seen,
      // every job started while the frames were built has been seen too
      sc.setJobGroup("gtfs-table-fence", "listener fence")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!groups.contains("gtfs-table-fence") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains("gtfs-table-fence"))
      built
    } finally sc.removeSparkListener(listener)
    assert(!groups.contains("gtfs-table-read"))
    frames.foreach { case (n, df) =>
      val dir = new File(wh, n)
      val inferred = spark.read.parquet(dir.getAbsolutePath).schema
      assert(df.schema.fieldNames.toSeq === inferred.fieldNames.toSeq, n)
      // inference types partition columns from the directory names
      val partitionCols =
        if (new File(dir, "provider_id=vbb").isDirectory) Set("provider_id", "run_id") else Set.empty[String]
      def types(s: StructType) = s.fields.filterNot(f => partitionCols(f.name))
        .map(f => f.name -> f.dataType).toSeq
      assert(types(df.schema) === types(inferred), n)
    }
  }

  test("driver-side header parse names columns as Spark's CSV inference does") {
    val dir = Files.createTempDirectory("gtfs_headers").toFile
    val (loader, _) = freshLoader()
    val headers = Seq(
      "stop_id ;,stop_code,stop_name\nS1,,A",
      "\"stop_id\",\"stop_name\"\nS1,A",
      "a,,c\n1,2,3",
      "a,b,\n1,2,3",
      "A,a,b\n1,2,3",
      "\n  \nstop_id,stop_name\nS1,A",
      "\uFEFFstop_id,stop_name\nS1,A",
      "stop_id,stop_name\r\nS1,A\r\n",
      " stop_id , stop_name \nS1,A",
      "\"stop,id\",name\nS1,A",
      "only_header")
    headers.zipWithIndex.foreach { case (content, i) =>
      val f = new File(dir, s"h$i.txt")
      Files.write(f.toPath, content.getBytes(StandardCharsets.UTF_8))
      val inferred = spark.read.option("header", true).csv(f.getAbsolutePath).columns.toSeq
      assert(loader.headerColumns(f.getAbsolutePath).toSeq === inferred, content)
    }
  }

  test("arrivals pipeline: expansion honors weekdays, validity, exceptions, day-roll") {
    val (loader, _) = freshLoader()
    loader.loadArchive("vbb", "2019-02-21", fixtureZip().getAbsolutePath)
    // window: Mon 2019-02-18 .. Mon 2019-02-25 (exclusive)
    val raw = ArrivalsQuery.arrivals(
      loader.table("calendar"), loader.table("trips"),
      loader.table("stop_times"), loader.table("stops"),
      "2019-02-18", "2019-02-25")
    val withExc = ArrivalsQuery.applyCalendarExceptions(
      raw, loader.table("calendar_dates"))

    val perTrip = raw.groupBy($"trip_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // WD (T1): Mon-Fri = 5 service days x 2 stops = 10
    assert(perTrip("T1") === 10)
    // WE (T2): Sat+Sun = 2 x 1 stop = 2
    assert(perTrip("T2") === 2)
    // EXP (T3): expires 02-18 -> only Monday survives validity
    assert(perTrip("T3") === 1)

    // calendar_dates removal: WD removed on 2019-02-20 -> T1 loses 2 rows
    val perTripExc = withExc.groupBy($"trip_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perTripExc("T1") === 8)

    // 25:10:00 on service day 02-18 rolls to 02-19 01:10:00
    val rolled = raw.filter($"service_date" === "2019-02-18" && $"stop_id" === "S2")
      .select($"event_ts".cast("string")).head().getString(0)
    assert(rolled === "2019-02-19 01:10:00")

    // full pipeline: type-1 additions too. WE added on Wed 02-20 (outside
    // its weekend pattern) -> T2 gains its 1 stop; WD's redundant type-1
    // on 02-19 (already weekday-active) must NOT double-emit; WD's type-2
    // removal on 02-20 still applies.
    val full = ArrivalsQuery.arrivalsWithExceptions(
      loader.table("calendar"), loader.table("calendar_dates"),
      loader.table("trips"), loader.table("stop_times"), loader.table("stops"),
      "2019-02-18", "2019-02-25")
    val perTripFull = full.groupBy($"trip_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perTripFull("T1") === 8)
    assert(perTripFull("T2") === 3)
    assert(perTripFull("T3") === 1)
    // XTRA (T4) exists ONLY in calendar_dates (calendar.txt is
    // conditionally optional in GTFS) — its added day must still emit
    assert(perTripFull("T4") === 1)
    // the added service day materialises real arrival rows on that date
    assert(full.filter($"trip_id" === "T2" && $"service_date" === "2019-02-20")
      .count() === 1)
    assert(full.filter($"trip_id" === "T4" && $"service_date" === "2019-02-21")
      .count() === 1)
  }

  test("per-run queries prune to their own warehouse partition") {
    val (loader, _) = freshLoader()
    loader.loadArchive("vbb", "2019-02-21", fixtureZip().getAbsolutePath)
    // second run with different content (extra stop) -> second partition
    val altMembers = feedMembers.updated("stops.txt",
      feedMembers("stops.txt") + "\nS4,,Neu Stop,,52.1,13.1")
    val dir2 = Files.createTempDirectory("gtfs_zip2").toFile
    val zip2 = new File(dir2, "2019-03-01.zip")
    writeZip(zip2, altMembers)
    loader.loadArchive("vbb", "2019-03-01", zip2.getAbsolutePath)

    val all = loader.table("stops")
    val one = all.filter($"run_id" === 1)
    assert(all.count() === 7 && one.count() === 3)
    // partition pruning: the run filter must reach the scan as a
    // PartitionFilter and the scan must read strictly fewer files
    def scanNumFiles(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      def walk(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(q.plan)
        case other => other +: other.children.flatMap(walk)
      }
      walk(df.queryExecution.executedPlan)
        .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numFiles").value }.getOrElse(-1L)
    }
    assert(one.queryExecution.executedPlan.toString.contains("PartitionFilters"))
    val (nOne, nAll) = (scanNumFiles(one), scanNumFiles(all))
    assert(nOne > 0 && nOne < nAll, s"pruned=$nOne total=$nAll")
  }

  test("arrival JSON golden shape: field names and 7-digit fraction") {
    val (loader, _) = freshLoader()
    loader.loadArchive("vbb", "2019-02-21", fixtureZip().getAbsolutePath)
    val js = ArrivalsQuery.toArrivalJson(
      ArrivalsQuery.arrivals(
        loader.table("calendar"), loader.table("trips"),
        loader.table("stop_times"), loader.table("stops"),
        "2019-02-18", "2019-02-19")
        .filter($"stop_id" === "S1" && $"trip_id" === "T1"))
      .head().getString(0)
    assert(js ===
      """{"local-time":"2019-02-18 08:30:15.0000000","name":"Alexanderplatz","latitude":52.52437,"longitude":13.41053}""")
  }

  test("geo filter matches the Spock table on real stops") {
    val (loader, _) = freshLoader()
    loader.loadArchive("vbb", "2019-02-21", fixtureZip().getAbsolutePath)
    val arr = ArrivalsQuery.arrivals(
      loader.table("calendar"), loader.table("trips"),
      loader.table("stop_times"), loader.table("stops"),
      "2019-02-18", "2019-02-25")
    val in30 = ArrivalsQuery.withinRadius(arr, 52.52437, 13.41053, 30000)
      .select($"stop_name").distinct().collect().map(_.getString(0)).toSet
    val in25 = ArrivalsQuery.withinRadius(arr, 52.52437, 13.41053, 25000)
      .select($"stop_name").distinct().collect().map(_.getString(0)).toSet
    assert(in30.contains("Potsdam Hbf")) // inside 30km (Spock row 4)
    assert(!in25.contains("Potsdam Hbf")) // outside 25km (Spock row 5)
    assert(!in30.contains("Outer Rim")) // Munich is far away
  }

  test("frequencies expansion materializes headway instances; plain trips pass through") {
    val st = Seq(
      (1, "T", "A", 1, 28800L, 28800L), // template: first departure 08:00:00
      (1, "T", "B", 2, 29100L, 29100L), // +300s offset
      (1, "U", "A", 1, 36000L, 36000L)) // not in frequencies
      .toDF("run_id", "trip_id", "stop_id", "stop_sequence",
        "arrival_time", "departure_time")
    val freq = Seq((1, "T", "08:00:00", "08:30:00", "600", "0"))
      .toDF("run_id", "trip_id", "start_time", "end_time",
        "headway_secs", "exact_times")
    val out = ArrivalsQuery.expandFrequencies(st, freq)
      .select($"trip_id", $"stop_id", $"arrival_time", $"trip_start_secs")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSet
    // starts at 08:00, 08:10, 08:20 — 08:30 is exclusive; U untouched
    val expected = Set(
      ("U", "A", 36000L, -1L),
      ("T", "A", 28800L, 28800L), ("T", "B", 29100L, 28800L),
      ("T", "A", 29400L, 29400L), ("T", "B", 29700L, 29400L),
      ("T", "A", 30000L, 30000L), ("T", "B", 30300L, 30000L))
    assert(out === expected)
    // zero/negative headway and empty windows expand to nothing
    val bad = Seq((1, "T", "08:00:00", "08:00:00", "0", "0"))
      .toDF("run_id", "trip_id", "start_time", "end_time",
        "headway_secs", "exact_times")
    assert(ArrivalsQuery.expandFrequencies(st, bad)
      .filter($"trip_start_secs".isNotNull).count() === 0)
  }

  test("feasible connections honor min transfer time, type 3, first departure") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val arrivals = Seq(
      (1, "T1", "A", t("2024-01-01 09:00:00")), // the incoming arrival
      (1, "T2", "B", t("2024-01-01 09:04:00")), // 240s < min 300s -> infeasible
      (1, "T3", "B", t("2024-01-01 09:10:00")), // first feasible
      (1, "T4", "B", t("2024-01-01 09:30:00")), // feasible but not first
      (1, "T5", "B", t("2024-01-01 11:30:00")), // beyond maxWait
      (1, "T6", "D", t("2024-01-01 09:15:00")), // reachable only via type-3 edge
      (1, "T1", "B", t("2024-01-01 09:20:00"))) // same trip: never a transfer
      .toDF("run_id", "trip_id", "stop_id", "event_ts")
    val transfers = Seq(
      (1, "A", "B", 2, 300),
      (1, "A", "D", 3, 0)) // type 3: transfer not possible
      .toDF("run_id", "from_stop_id", "to_stop_id",
        "transfer_type", "min_transfer_time")
    val got = ArrivalsQuery.feasibleConnections(arrivals, transfers)
      .select($"from_trip", $"to_trip", $"to_stop_id", $"wait_secs")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
    // T1@A -> first feasible departure at B is T3 (600s wait); D never
    // (type 3); T2 too soon; T4 not first; T5 outside the wait window.
    // Arrivals at B also probe edges FROM B — none exist, so nothing else.
    assert(got.toSeq === Seq(("T1", "T3", "B", 600L)))
    // with no minimum (type 0), the 240s connection becomes the first
    val t0 = Seq((1, "A", "B", 0, 0))
      .toDF("run_id", "from_stop_id", "to_stop_id",
        "transfer_type", "min_transfer_time")
    val relaxed = ArrivalsQuery.feasibleConnections(arrivals, t0)
      .select($"to_trip").collect().map(_.getString(0))
    assert(relaxed.toSeq === Seq("T2"))
  }

  test("earliestArrivals: a two-ride itinerary needs two relaxation " +
       "rounds; missed departures and type-3 edges never board") {
    // minimal chained feed: trip A rides X->Y (dep 100, arr 200), trip B
    // rides Y->Z (dep 300, arr 400) on an everyday service; no footpaths
    val cal = Seq((1L, "ALL", true, true, true, true, true, true, true,
        20240101, 20241231))
      .toDF("run_id", "service_id", "monday", "tuesday", "wednesday",
        "thursday", "friday", "saturday", "sunday", "start_date", "end_date")
    val cd = Seq.empty[(Long, String, Int, Int)]
      .toDF("run_id", "service_id", "date", "exception_type")
    val tr = Seq((1L, "ALL", "A"), (1L, "ALL", "B"))
      .toDF("run_id", "service_id", "trip_id")
    val st = Seq(
      (1L, "A", 50L, "X", 100L), (1L, "A", 200L, "Y", 260L),
      (1L, "B", 250L, "Y", 300L), (1L, "B", 400L, "Z", 460L))
      .toDF("run_id", "trip_id", "arrival_time", "stop_id", "departure_time")
    val sp = Seq((1L, "X", "Xst", 0.0, 0.0), (1L, "Y", "Yst", 0.0, 0.0),
        (1L, "Z", "Zst", 0.0, 0.0))
      .toDF("run_id", "stop_id", "stop_name", "stop_lat", "stop_lon")
    val tx = Seq((1L, "X", "Z", 3, 0)) // type 3: never usable
      .toDF("run_id", "from_stop_id", "to_stop_id", "transfer_type",
        "min_transfer_time")
    def run(rounds: Int, depart: Long) = ArrivalsQuery.earliestArrivals(
        cal, cd, tr, st, sp, tx, "X", "2024-06-03", depart, rounds)
      .collect().map(r => r.getString(1) ->
        Option(r.get(r.fieldIndex("arr_secs"))).map(_.asInstanceOf[Long]))
      .toMap
    // one round reaches Y (ride A) but not Z; two rounds chain onto B
    val one = run(1, 0L)
    assert(one("X") === Some(0L) && one("Y") === Some(200L)
      && one("Z") === None)
    val two = run(2, 0L)
    assert(two === Map("X" -> Some(0L), "Y" -> Some(200L),
      "Z" -> Some(400L)))
    // departing after trip A left (t=150 > dep 100): nothing boards —
    // the type-3 X->Z edge must not leak a transfer either
    val late = run(4, 150L)
    assert(late === Map("X" -> Some(150L), "Y" -> None, "Z" -> None))
  }

  test("isochroneCounts: budget buckets recount the earliest-arrival " +
       "labels; unreached stops count into the total only") {
    val cal = Seq((1L, "ALL", true, true, true, true, true, true, true,
        20240101, 20241231))
      .toDF("run_id", "service_id", "monday", "tuesday", "wednesday",
        "thursday", "friday", "saturday", "sunday", "start_date", "end_date")
    val cd = Seq.empty[(Long, String, Int, Int)]
      .toDF("run_id", "service_id", "date", "exception_type")
    val tr = Seq((1L, "ALL", "A"), (1L, "ALL", "B"))
      .toDF("run_id", "service_id", "trip_id")
    val st = Seq(
      (1L, "A", 50L, "X", 100L), (1L, "A", 200L, "Y", 260L),
      (1L, "B", 250L, "Y", 300L), (1L, "B", 400L, "Z", 460L))
      .toDF("run_id", "trip_id", "arrival_time", "stop_id", "departure_time")
    val sp = Seq((1L, "X", "Xst", 0.0, 0.0), (1L, "Y", "Yst", 0.0, 0.0),
        (1L, "Z", "Zst", 0.0, 0.0))
      .toDF("run_id", "stop_id", "stop_name", "stop_lat", "stop_lon")
    val tx = Seq((1L, "X", "Z", 3, 0))
      .toDF("run_id", "from_stop_id", "to_stop_id", "transfer_type",
        "min_transfer_time")
    // labels from the earliestArrivals fixture: X=0, Y=200, Z=400
    val rows = ArrivalsQuery.isochroneCounts(cal, cd, tr, st, sp, tx,
        "X", "2024-06-03", 0L, Seq(150L, 250L, 450L))
      .collect().map(r => r.getLong(r.fieldIndex("budget_secs")) ->
        ((r.getLong(r.fieldIndex("n_stops")),
          r.getLong(r.fieldIndex("n_total")))))
    assert(rows.toSeq === Seq(150L -> ((1L, 3L)), 250L -> ((2L, 3L)),
      450L -> ((3L, 3L))))
  }

  test("earliestArrivals: a round is a RIDE leg, not a hop — one trip " +
       "through 4 stations is fully reachable in ONE round") {
    // single trip P calling W(dep 100) -> X(arr 200) -> Y(arr 300) ->
    // Z(arr 400): trip-suffix relaxation must label X, Y AND Z after
    // one round; per-hop legs would need three.
    val cal = Seq((1L, "ALL", true, true, true, true, true, true, true,
        20240101, 20241231))
      .toDF("run_id", "service_id", "monday", "tuesday", "wednesday",
        "thursday", "friday", "saturday", "sunday", "start_date", "end_date")
    val cd = Seq.empty[(Long, String, Int, Int)]
      .toDF("run_id", "service_id", "date", "exception_type")
    val tr = Seq((1L, "ALL", "P")).toDF("run_id", "service_id", "trip_id")
    val st = Seq(
      (1L, "P", 50L, "W", 100L), (1L, "P", 200L, "X", 260L),
      (1L, "P", 300L, "Y", 360L), (1L, "P", 400L, "Z", 460L))
      .toDF("run_id", "trip_id", "arrival_time", "stop_id", "departure_time")
    val sp = Seq((1L, "W", "Wst", 0.0, 0.0), (1L, "X", "Xst", 0.0, 0.0),
        (1L, "Y", "Yst", 0.0, 0.0), (1L, "Z", "Zst", 0.0, 0.0))
      .toDF("run_id", "stop_id", "stop_name", "stop_lat", "stop_lon")
    val tx = Seq.empty[(Long, String, String, Int, Int)]
      .toDF("run_id", "from_stop_id", "to_stop_id", "transfer_type",
        "min_transfer_time")
    val one = ArrivalsQuery.earliestArrivals(
        cal, cd, tr, st, sp, tx, "W", "2024-06-03", 0L, maxRounds = 1)
      .collect().map(r => r.getString(1) ->
        Option(r.get(r.fieldIndex("arr_secs"))).map(_.asInstanceOf[Long]))
      .toMap
    assert(one === Map("W" -> Some(0L), "X" -> Some(200L),
      "Y" -> Some(300L), "Z" -> Some(400L)))
    // boarding mid-trip still honors the label <= departure bound:
    // from Y at t=500 (> dep 360) nothing boards
    val lateMid = ArrivalsQuery.earliestArrivals(
        cal, cd, tr, st, sp, tx, "Y", "2024-06-03", 500L, maxRounds = 2)
      .collect().map(r => r.getString(1) ->
        Option(r.get(r.fieldIndex("arr_secs"))).map(_.asInstanceOf[Long]))
      .toMap
    assert(lateMid === Map("W" -> None, "X" -> None,
      "Y" -> Some(500L), "Z" -> None))
    // the PROFILE is the cumulative Pareto curve: the whole trip is
    // reachable at leg budget 1, and budget 2 repeats the settled labels
    val prof = ArrivalsQuery.earliestArrivalProfile(
        cal, cd, tr, st, sp, tx, "W", "2024-06-03", 0L, maxRounds = 2)
      .collect().map(r => (r.getString(1), r.getAs[Long]("n_legs")) ->
        r.getAs[Long]("arr_secs")).toMap
    val oneLeg = Map("W" -> 0L, "X" -> 200L, "Y" -> 300L, "Z" -> 400L)
    assert(prof === (oneLeg.map { case (s0, t) => (s0, 1L) -> t } ++
      oneLeg.map { case (s0, t) => (s0, 2L) -> t }))
  }

  test("tripPatterns: variants partition the trip set; order is by " +
       "call time, not id") {
    import graft.gtfs.GtfsFixture
    val pats = ArrivalsQuery.tripPatterns(GtfsFixture.stopTimes(spark))
      .collect()
    // T1 and T2 share S1>S2; T4 rides the REVERSE S2>S1 (a different
    // variant); T3 is S3>S1
    val byPattern = pats.map(r => r.getAs[String]("pattern") ->
      (r.getAs[Long]("n_trips"), r.getAs[String]("first_trip"))).toMap
    assert(byPattern === Map(
      "S1>S2" -> (2L, "T1"), "S2>S1" -> (1L, "T4"), "S3>S1" -> (1L, "T3")))
    assert(pats.map(_.getAs[Long]("n_trips")).sum === 4L,
      "every trip belongs to exactly one pattern")
    assert(pats.forall(_.getAs[Long]("n_stops") === 2L))
  }

  test("earliestArrivalProfile: a stop needing two rides appears only " +
       "from leg budget 2 in the Pareto profile") {
    val cal = Seq((1L, "ALL", true, true, true, true, true, true, true,
        20240101, 20241231))
      .toDF("run_id", "service_id", "monday", "tuesday", "wednesday",
        "thursday", "friday", "saturday", "sunday", "start_date", "end_date")
    val cd = Seq.empty[(Long, String, Int, Int)]
      .toDF("run_id", "service_id", "date", "exception_type")
    val tr = Seq((1L, "ALL", "A"), (1L, "ALL", "B"))
      .toDF("run_id", "service_id", "trip_id")
    val st = Seq(
      (1L, "A", 50L, "X", 100L), (1L, "A", 200L, "Y", 260L),
      (1L, "B", 250L, "Y", 300L), (1L, "B", 400L, "Z", 460L))
      .toDF("run_id", "trip_id", "arrival_time", "stop_id", "departure_time")
    val sp = Seq((1L, "X", "Xst", 0.0, 0.0), (1L, "Y", "Yst", 0.0, 0.0),
        (1L, "Z", "Zst", 0.0, 0.0))
      .toDF("run_id", "stop_id", "stop_name", "stop_lat", "stop_lon")
    val tx = Seq.empty[(Long, String, String, Int, Int)]
      .toDF("run_id", "from_stop_id", "to_stop_id", "transfer_type",
        "min_transfer_time")
    val prof = ArrivalsQuery.earliestArrivalProfile(
        cal, cd, tr, st, sp, tx, "X", "2024-06-03", 0L, maxRounds = 2)
      .collect().map(r => (r.getString(1), r.getAs[Long]("n_legs")) ->
        r.getAs[Long]("arr_secs")).toMap
    assert(prof === Map(
      ("X", 1L) -> 0L, ("Y", 1L) -> 200L,
      ("X", 2L) -> 0L, ("Y", 2L) -> 200L, ("Z", 2L) -> 400L))
  }
}
