package graft.gtfs

import com.univocity.parsers.csv.CsvParser
import graft.Sessions
import graft.functions.dates
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.getPartitionPathString
import org.apache.spark.sql.catalyst.csv.{CSVExprUtils, CSVOptions}
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

import java.io.{BufferedReader, File, FileInputStream, FileOutputStream, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.Comparator
import java.util.zip.ZipFile
import scala.jdk.CollectionConverters._

/** GTFS warehouse loader — the Spark re-expression of the reference's
  * `database_load` DAG (airflow/plugins/database_loader/operators.py:31-171
  * in XComp/vbb-data-pipeline).
  *
  * Warehouse layout: one parquet dataset per table under `warehouseDir/
  * <table>`, partitioned by (provider_id, run_id) — the provenance pair
  * the reference stamps on every row. Partition pruning turns per-feed
  * queries into single-partition scans at any corpus size; appends of a
  * new run never rewrite old partitions.
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
  * then costs one distributed job: CSV scan, conform, CHECK split and
  * partitioned write, with the appended and quarantined counts observed
  * on that write instead of recounted. The PK anti-join runs only where
  * rows can collide: for run-scoped keys against this run's own
  * partition, which exists only after a failed earlier attempt; for
  * `agency` against the provider's rows. The members of one load wave
  * load concurrently; the waves keep the reference's member order.
  */
class GtfsLoad(spark: SparkSession, warehouseDir: String) {
  import spark.implicits._

  private def tablePath(t: String) = s"$warehouseDir/$t"
  private def exists(t: String) = Files.exists(Paths.get(tablePath(t)))

  /** Canonical schema of a feed table plus the provenance pair. */
  private def storedSchema(feedTable: String): StructType =
    StructType(GtfsSchemas.feedTables(feedTable).fields :+
      StructField("provider_id", StringType) :+ StructField("run_id", IntegerType))

  /** Warehouse table; a missing feed table yields an EMPTY frame with the
    * canonical schema + provenance pair, so downstream joins still resolve
    * (a feed may legitimately omit optional members like calendar_dates).
    */
  def table(name: String): DataFrame =
    if (exists(name)) spark.read.parquet(tablePath(name))
    else if (GtfsSchemas.feedTables.contains(name))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], storedSchema(name))
    else spark.emptyDataFrame

  // ---- run / provider dimensions ----------------------------------------

  /** run dimension: (run_id, run_date, provider_id). Surrogate run_id is
    * max+1 on the single-writer driver (deterministic under retry, unlike
    * monotonically_increasing_id — SURVEY §2.12 I1).
    */
  def nextRunId(): Int =
    if (!exists("run")) 1
    else table("run").agg(coalesce(max($"run_id"), lit(0))).head().getInt(0) + 1

  def registerProvider(providerId: String): Unit = {
    val existing = if (exists("provider"))
      table("provider").filter($"provider_id" === providerId).count() else 0L
    if (existing == 0L) {
      Seq(providerId).toDF("provider_id")
        .withColumn("created", current_timestamp())
        .write.mode(SaveMode.Append).parquet(tablePath("provider"))
    }
  }

  /** New-data identification (J2): candidates minus already-loaded runs. */
  def identifyNewRuns(candidates: Seq[(String, String)]): Seq[(String, String)] = {
    val cand = candidates.toDF("provider_id", "run_date")
    val newOnes =
      if (!exists("run")) cand
      else cand.join(table("run"), Seq("provider_id", "run_date"), "left_anti")
    newOnes.collect().map(r => (r.getString(0), r.getString(1))).toSeq
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
    * yet, in one partitioned write; returns how many landed. Keys compare
    * null-safe. A key holding `run_id` can only collide inside this run's
    * partition, which exists only if a failed earlier attempt wrote to
    * it, so the anti-join reads that partition alone and is skipped when
    * it is absent; any other key is checked against the provider's rows.
    */
  private def appendNew(t: String, schema: StructType, rows: DataFrame, pk: Seq[String],
                        runId: Int, providerId: String): Long = {
    val createsTable = !exists(t)
    val stored =
      if (pk.contains("run_id")) {
        val part = Paths.get(tablePath(t), getPartitionPathString("provider_id", providerId),
          getPartitionPathString("run_id", runId.toString))
        if (!Files.exists(part)) None
        else Some(spark.read.schema(schema).option("basePath", tablePath(t)).parquet(part.toString))
      } else if (createsTable) None
      else Some(spark.read.schema(schema).parquet(tablePath(t)).filter($"provider_id" === providerId))
    val fresh = stored.fold(rows) { s =>
      rows.join(s, pk.map(c => rows(c) <=> s(c)).reduce(_ && _), "left_anti")
    }
    val landed = Observation()
    fresh.observe(landed, count(lit(1)).as("rows"))
      .write.mode(SaveMode.Append)
      .partitionBy("provider_id", "run_id")
      .parquet(tablePath(t))
    val n = landed.get("rows").asInstanceOf[Long]
    // a write of no rows leaves a directory with no schema to read back;
    // table() must keep returning the canonical empty frame instead
    if (n == 0 && createsTable) deleteTree(Paths.get(tablePath(t)))
    n
  }

  /** Idempotent per-table append: prepend provenance, CHECK-split, PK
    * anti-join against existing rows, partitioned write. Returns
    * (appended, quarantined) row counts. One write job; a second one
    * lands the rejects only when the CHECK split quarantined rows.
    */
  def appendTable(tableName: String, conformed: DataFrame,
                  runId: Int, providerId: String): (Long, Long) = {
    val withProv = conformed
      .withColumn("run_id", lit(runId))
      .withColumn("provider_id", lit(providerId))
    val check = GtfsSchemas.checkConstraints.getOrElse(tableName, lit(true))
    val allColumns = "run_id" +: conformed.columns.toSeq
    val pk = GtfsSchemas.primaryKeys.getOrElse(tableName, allColumns)
    val split = Observation()
    val ok = withProv.observe(split, count_if(!check).as("rejected")).filter(check)
    val n = appendNew(tableName, storedSchema(tableName), ok, pk, runId, providerId)
    val qn = split.get("rejected").asInstanceOf[Long]
    if (qn > 0)
      appendNew(s"${tableName}_rejects", storedSchema(tableName), withProv.filter(!check),
        allColumns, runId, providerId)
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
    if (identifyNewRuns(Seq((providerId, runDate))).isEmpty) return None
    val checksum = archiveChecksum(zipPath)
    if (exists("archive_manifest") &&
      table("archive_manifest").filter(col("checksum") === checksum).count() > 0)
      return None
    registerProvider(providerId)
    val runId = nextRunId()
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
    Seq((runId, runDate, providerId)).toDF("run_id", "run_date", "provider_id")
      .write.mode(SaveMode.Append).parquet(tablePath("run"))
    Seq((providerId, runDate, checksum)).toDF("provider_id", "run_date", "checksum")
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
