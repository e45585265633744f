package graft.gtfs

import com.univocity.parsers.csv.CsvParser
import graft.Sessions
import graft.functions.dates
import org.apache.spark.sql.{DataFrame, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.getPartitionPathString
import org.apache.spark.sql.catalyst.csv.{CSVExprUtils, CSVOptions}
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType, TimestampType}

import java.io.{BufferedReader, File, FileInputStream, FileOutputStream, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.time.Instant
import java.util.Comparator
import java.util.zip.ZipFile
import scala.jdk.CollectionConverters._

/** GTFS warehouse loader — the Spark re-expression of the reference's
  * `database_load` DAG (airflow/plugins/database_loader/operators.py:31-171
  * in XComp/vbb-data-pipeline).
  *
  * Warehouse layout: one parquet dataset per table under `warehouseDir/
  * <table>`, partitioned by (provider_id, run_id) — the provenance pair
  * the reference stamps on every row. Each append writes into its run's
  * partition directory (`provider_id=…/run_id=…`), so the data files
  * hold the feed columns only and the directory names carry the pair.
  * Partition pruning turns per-feed queries into single-partition scans
  * at any corpus size; appends of a new run never rewrite old partitions.
  *
  * Idempotency (reference ON CONFLICT DO NOTHING + run anti-join):
  *  - run level: candidate (provider_id, run_date) pairs are anti-joined
  *    against the run table (operators.py:68-90);
  *  - row level: within a re-loaded run, rows left_anti existing PKs
  *    before append (utils/__init__.py:55-56); keys compare null-safe,
  *    so the all-column keys of PK-less tables match rows holding NULLs;
  *  - archive level: CRC32-XOR content fingerprint dedup
  *    (data_provider/operators.py:145-152).
  *
  * Scale posture: the driver-side work is zip member extraction (one
  * pass per archive) and parsing each member's header line. Each member
  * then costs one distributed job: CSV scan, conform, CHECK split and the
  * write into the run's partition directory, with the appended and
  * quarantined counts observed on that write instead of recounted. No run
  * id reaches that job's generated code, so every run after the first
  * reuses the classes Spark compiled for it (see [[Sessions.local]]).
  * The PK anti-join runs only where rows can collide: for run-scoped keys
  * against this run's own partition, which exists only after a failed
  * earlier attempt; for `agency` against the provider's rows. The members
  * of one load wave load concurrently; the waves keep the reference's
  * member order.
  *
  * On the read side, `table()` reads every table with the schema it was
  * written with, so building a frame starts no job: no parquet schema
  * inference, and the partition columns keep their declared types. A
  * load's bookkeeping is one collect of the run ledger (the already-loaded
  * check and the next run_id are both answered from it on the driver;
  * none before the first run), one manifest and one provider lookup.
  */
class GtfsLoad(spark: SparkSession, warehouseDir: String) {
  import spark.implicits._

  private def tablePath(t: String) = s"$warehouseDir/$t"
  private def exists(t: String) = Files.exists(Paths.get(tablePath(t)))

  /** Canonical schema of a feed table plus the provenance pair. */
  private def storedSchema(feedTable: String): StructType =
    StructType(GtfsSchemas.feedTables(feedTable).fields :+
      StructField("provider_id", StringType) :+ StructField("run_id", IntegerType))

  /** The loader's bookkeeping tables, each declared once: [[table]] reads
    * them with these schemas and the commit-time rows are built from them.
    */
  private val runSchema = StructType(Seq(StructField("run_id", IntegerType, nullable = false),
    StructField("run_date", StringType), StructField("provider_id", StringType)))
  private val providerSchema = StructType(Seq(StructField("provider_id", StringType),
    StructField("created", TimestampType)))
  private val manifestSchema = StructType(Seq(StructField("provider_id", StringType),
    StructField("run_date", StringType), StructField("checksum", LongType, nullable = false)))

  /** Schema that table `name` is written with: a feed table and its
    * `_rejects` twin store the feed schema plus the provenance pair.
    */
  private def schemaOf(name: String): Option[StructType] = {
    val feed = name.stripSuffix("_rejects")
    if (GtfsSchemas.feedTables.contains(feed)) Some(storedSchema(feed))
    else Map("run" -> runSchema, "provider" -> providerSchema,
      "archive_manifest" -> manifestSchema).get(name)
  }

  private def rowsOf(schema: StructType, rows: Row*): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** Warehouse table, read with the schema it was written with: no
    * schema-inference job, and the partition columns keep their declared
    * types (inference would turn provider "0815" into the int 815). A
    * missing table yields an EMPTY frame with that schema, so downstream
    * joins still resolve (a feed may legitimately omit optional members
    * like calendar_dates).
    */
  def table(name: String): DataFrame = {
    val schema = schemaOf(name)
    if (exists(name)) schema.fold(spark.read)(spark.read.schema).parquet(tablePath(name))
    else schema.fold(spark.emptyDataFrame)(rowsOf(_))
  }

  // ---- run / provider dimensions ----------------------------------------

  /** The run table on the driver, one (provider_id, run_date, run_id) per
    * loaded run: one job, none when no run has been loaded yet.
    */
  private def runLedger(): Seq[(String, String, Int)] =
    if (!exists("run")) Nil
    else table("run").select($"provider_id", $"run_date", $"run_id")
      .as[(String, String, Int)].collect().toSeq

  /** run dimension: (run_id, run_date, provider_id). Surrogate run_id is
    * max+1 on the single-writer driver (deterministic under retry, unlike
    * monotonically_increasing_id — SURVEY §2.12 I1).
    */
  def nextRunId(): Int = nextRunId(runLedger())

  private def nextRunId(ledger: Seq[(String, String, Int)]): Int =
    ledger.map(_._3).maxOption.getOrElse(0) + 1

  def registerProvider(providerId: String): Unit = {
    val existing = if (exists("provider"))
      table("provider").filter($"provider_id" === providerId).count() else 0L
    if (existing == 0L)
      rowsOf(providerSchema, Row(providerId, Instant.now()))
        .write.mode(SaveMode.Append).parquet(tablePath("provider"))
  }

  /** New-data identification (J2): candidates minus already-loaded runs. */
  def identifyNewRuns(candidates: Seq[(String, String)]): Seq[(String, String)] =
    newRuns(candidates, runLedger())

  private def newRuns(candidates: Seq[(String, String)],
                      ledger: Seq[(String, String, Int)]): Seq[(String, String)] = {
    val loaded = ledger.map(r => (r._1, r._2)).toSet
    candidates.filterNot(loaded)
  }

  // ---- archive fingerprint (A2/J3/I4) -----------------------------------

  /** XOR-fold of member CRC32s — order-insensitive archive fingerprint
    * (reference data_provider/operators.py:145-152). CRCs come from the
    * zip central directory: no member decompression needed.
    */
  def archiveChecksum(zipPath: String): Long = {
    val zf = new ZipFile(zipPath)
    try zf.entries().asScala.foldLeft(0L)((acc, e) => acc ^ e.getCrc)
    finally zf.close()
  }

  // ---- CSV conform ------------------------------------------------------

  /** Header sanitize: strip every char outside [a-z_] (reference KVV fix,
    * database_loader/operators.py:160-162).
    */
  private[gtfs] def sanitizeHeader(name: String): String =
    name.toLowerCase.replaceAll("[^a-z_]", "")

  /** Column names of a CSV file as Spark's header inference names them,
    * parsed on the driver instead of by a schema-sniffing job: the first
    * non-blank line through Spark's univocity settings, then Spark's
    * `_c<i>` for an empty cell and index suffix for a duplicate name.
    */
  private[gtfs] def headerColumns(csvPath: String): Array[String] = {
    val opts = new CSVOptions(Map("header" -> "true"), true,
      spark.sessionState.conf.sessionLocalTimeZone)
    val in = new BufferedReader(new InputStreamReader(
      new FileInputStream(csvPath), StandardCharsets.UTF_8))
    try CSVExprUtils.extractHeader(in.lines().iterator().asScala, opts) match {
      case Some(line) =>
        // Hadoop's line reader drops a UTF-8 byte-order mark
        val cells = new CsvParser(opts.asParserSettings).parseLine(line.stripPrefix("\uFEFF"))
        CSVUtils.makeSafeHeader(cells, spark.sessionState.conf.caseSensitiveAnalysis, opts)
      case None => Array.empty
    } finally in.close()
  }

  /** Read one extracted CSV member and conform it to the canonical schema:
    * header sanitize, ""->NULL, type casts, GTFS time parse, missing
    * columns null-filled, unknown columns dropped.
    */
  private[gtfs] def conform(csvPath: String, tableName: String): DataFrame = {
    val target = GtfsSchemas.feedTables(tableName)
    val raw = spark.read
      .option("header", true).option("nullValue", "")
      // read everything as string first; casts below are explicit so a
      // malformed value becomes NULL, not a hard failure
      .schema(StructType(headerColumns(csvPath).map(StructField(_, StringType))))
      .csv(csvPath)
    val cleaned = raw.toDF(raw.columns.map(sanitizeHeader): _*)
    val timeCols = GtfsSchemas.gtfsTimeColumns.getOrElse(tableName, Nil)
    val cols = target.fields.map { f =>
      if (!cleaned.columns.contains(f.name)) lit(null).cast(f.dataType).as(f.name)
      else if (timeCols.contains(f.name)) dates.gtfsTimeToSeconds(col(f.name)).as(f.name)
      else if (f.dataType == org.apache.spark.sql.types.BooleanType)
        // GTFS encodes booleans as 0/1
        (col(f.name).cast("int") === 1).as(f.name)
      else col(f.name).cast(f.dataType).as(f.name)
    }
    cleaned.select(cols.toIndexedSeq: _*)
  }

  // ---- load -------------------------------------------------------------

  /** Extract zip members into `outDir`; returns member-stem -> file path.
    * Members with no schema entry are skipped (operators.py:144-147).
    */
  private def extractMembers(zipPath: String, outDir: File): Map[String, String] = {
    val zf = new ZipFile(zipPath)
    try {
      zf.entries().asScala.flatMap { e =>
        val stem = e.getName.stripSuffix(".txt")
        if (e.isDirectory || !GtfsSchemas.feedTables.contains(stem)) None
        else {
          val f = new File(outDir, e.getName)
          val in = zf.getInputStream(e)
          val out = new FileOutputStream(f)
          try in.transferTo(out) finally { in.close(); out.close() }
          Some(stem -> f.getAbsolutePath)
        }
      }.toMap
    } finally zf.close()
  }

  private def deleteTree(root: Path): Unit = if (Files.exists(root)) {
    val paths = Files.walk(root)
    try paths.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
    finally paths.close()
  }

  /** Appends the rows of `rows` whose key `pk` is not stored in table `t`
    * yet, in one write into this run's partition directory; returns how
    * many landed. The rows hold the feed columns only, so the write's
    * generated code is the same for every run. Keys compare null-safe; a
    * provenance column a key names is added as a literal for the
    * anti-join only. A key holding `run_id` can only collide inside this
    * run's partition, which exists only if a failed earlier attempt wrote
    * to it, so the anti-join reads that partition alone and is skipped
    * when it is absent; any other key is checked against the provider's
    * rows.
    */
  private def appendNew(t: String, rows: DataFrame, pk: Seq[String],
                        runId: Int, providerId: String): Long = {
    val root = Paths.get(tablePath(t))
    val providerDir = root.resolve(getPartitionPathString("provider_id", providerId))
    val part = providerDir.resolve(getPartitionPathString("run_id", runId.toString))
    // the outermost directory this write creates; None when the partition exists
    val created = Seq(root, providerDir, part).find(!Files.exists(_))
    val stored =
      if (pk.contains("run_id")) {
        if (created.isDefined) None
        else Some(spark.read.schema(schemaOf(t).get).option("basePath", root.toString)
          .parquet(part.toString))
      } else if (created.contains(root)) None
      else Some(table(t).filter($"provider_id" === providerId))
    val fresh = stored.fold(rows) { s =>
      val keyed = rows.withColumns(Map("provider_id" -> lit(providerId), "run_id" -> lit(runId))
        .filter { case (c, _) => pk.contains(c) })
      keyed.join(s, pk.map(c => keyed(c) <=> s(c)).reduce(_ && _), "left_anti")
        .select(rows.columns.toIndexedSeq.map(col): _*)
    }
    val before = if (created.isEmpty) entries(part) else Set.empty[Path]
    val landed = Observation()
    fresh.observe(landed, count(lit(1)).as("rows"))
      .write.mode(SaveMode.Append).parquet(part.toString)
    val n = landed.get("rows").asInstanceOf[Long]
    // a write of no rows still leaves a schema-only file: remove what it
    // added, so the partition directories stay those of the rows landed
    // and table() keeps returning the canonical empty frame for a table
    // that never landed a row
    if (n == 0) created match {
      case Some(dir) => deleteTree(dir)
      case None => (entries(part) -- before).foreach(p => Files.delete(p))
    }
    n
  }

  private def entries(dir: Path): Set[Path] = {
    val listing = Files.list(dir)
    try listing.iterator().asScala.toSet finally listing.close()
  }

  /** Idempotent per-table append: CHECK-split, PK anti-join against
    * existing rows, write into the run's partition directory. Returns
    * (appended, quarantined) row counts. One write job; a second one
    * lands the rejects only when the CHECK split quarantined rows.
    */
  def appendTable(tableName: String, conformed: DataFrame,
                  runId: Int, providerId: String): (Long, Long) = {
    val check = GtfsSchemas.checkConstraints.getOrElse(tableName, lit(true))
    val allColumns = "run_id" +: conformed.columns.toSeq
    val pk = GtfsSchemas.primaryKeys.getOrElse(tableName, allColumns)
    val split = Observation()
    val ok = conformed.observe(split, count_if(!check).as("rejected")).filter(check)
    val n = appendNew(tableName, ok, pk, runId, providerId)
    val qn = split.get("rejected").asInstanceOf[Long]
    if (qn > 0)
      appendNew(s"${tableName}_rejects", conformed.filter(!check), allColumns, runId, providerId)
    (n, qn)
  }

  /** Load one archive end-to-end in FK waves. Returns per-table appended
    * counts; None if the run was already loaded or the archive is a
    * content-duplicate.
    *
    * The members of one wave load concurrently; the next wave starts
    * only once every member of the previous one has landed, which keeps
    * the reference's member ranking (operators.py:136-141).
    *
    * Failure atomicity: the run row and checksum manifest are written
    * only AFTER every table appended successfully — a mid-load crash
    * leaves the run unregistered, so the retry re-enters (run anti-join
    * passes) and the PK anti-join appends skip whatever rows the failed
    * attempt already landed. Recording bookkeeping first would instead
    * permanently fence out the archive.
    */
  def loadArchive(providerId: String, runDate: String, zipPath: String): Option[Map[String, Long]] = {
    val ledger = runLedger()
    if (newRuns(Seq((providerId, runDate)), ledger).isEmpty) return None
    val checksum = archiveChecksum(zipPath)
    // the stored checksums are compared on the driver: a filter on this
    // archive's checksum would inline it into generated code, compiling a
    // new class for every archive
    if (exists("archive_manifest") &&
      table("archive_manifest").select($"checksum").as[Long].collect().contains(checksum))
      return None
    registerProvider(providerId)
    val runId = nextRunId(ledger)
    val extracted = Files.createTempDirectory("gtfs_extract")
    val counts = try {
      val members = extractMembers(zipPath, extracted.toFile)
      GtfsSchemas.loadWaves.flatMap { wave =>
        Sessions.inParallel(wave.flatMap(t => members.get(t).map { path =>
          () => t -> appendTable(t, conform(path, t), runId, providerId)._1
        }): _*)
      }.toMap
    } finally deleteTree(extracted)
    // commit point: run row + manifest only once all appends succeeded
    rowsOf(runSchema, Row(runId, runDate, providerId))
      .write.mode(SaveMode.Append).parquet(tablePath("run"))
    rowsOf(manifestSchema, Row(providerId, runDate, checksum))
      .write.mode(SaveMode.Append).parquet(tablePath("archive_manifest"))
    Some(counts)
  }

  /** Referential-integrity audit: orphan rows per declared FK edge. */
  def fkOrphans(childTable: String): Map[String, Long] =
    GtfsSchemas.foreignKeys.getOrElse(childTable, Nil).map { case (parent, keys) =>
      val child = table(childTable)
      val par = table(parent).select(keys.map(k => col(k._2)).toIndexedSeq: _*)
      val joined = child.join(par,
        keys.map { case (ck, pk) => child(ck) === par(pk) }.reduce(_ && _),
        "left_anti")
      parent -> joined.count()
    }.toMap
}
