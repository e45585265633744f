package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Tables reader edge cases: dotted column names, nested-NTZ guard, the
  * UTC session-timezone precondition (ADVICE round-6 findings), and the
  * footer schema that lets a read start no schema-inference job.
  */
class TablesSpec extends SparkSpec {

  private def writeTable(dir: String, name: String)(df: org.apache.spark.sql.DataFrame): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

  test("dotted top-level column name survives NTZ normalization") {
    val dir = java.nio.file.Files.createTempDirectory("tables-dotted").toString
    val df = spark.range(3)
      .withColumn("evt.ts", lit("2024-05-01 12:34:56").cast(TimestampNTZType))
    writeTable(dir, "dotted")(df)

    val out = Tables(spark, dir, "dotted")
    val f = out.schema.fields.find(_.name == "evt.ts").get
    assert(f.dataType == TimestampType,
      "dotted NTZ column must be rebuilt as the literal top-level column")
    // wall-clock preserved bit-for-bit under the UTC session zone
    val v = out.select(col("`evt.ts`").cast("string")).distinct().collect()
    assert(v.map(_.getString(0)).toSeq == Seq("2024-05-01 12:34:56"))
  }

  test("nested TimestampNTZ is rejected loudly, not half-converted") {
    val dir = java.nio.file.Files.createTempDirectory("tables-nested").toString
    val df = spark.range(2).withColumn("payload",
      struct(lit("2024-05-01 00:00:00").cast(TimestampNTZType).as("inner")))
    writeTable(dir, "nested")(df)

    val e = intercept[IllegalArgumentException] { Tables(spark, dir, "nested") }
    assert(e.getMessage.contains("nested TimestampNTZ"))
  }

  test("non-UTC session timezone is rejected") {
    val dir = java.nio.file.Files.createTempDirectory("tables-tz").toString
    writeTable(dir, "plain")(spark.range(2).toDF("id"))
    val before = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "Europe/Berlin")
      val e = intercept[IllegalArgumentException] { Tables(spark, dir, "plain") }
      assert(e.getMessage.contains("UTC"))
    } finally spark.conf.set("spark.sql.session.timeZone", before)
  }

  /** `body`'s result and the number of jobs it started, counted by job
    * group behind a fence job, so the listener bus has delivered them all. */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("tables-read", "build Tables frames")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup("tables-fence", "listener fence")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!groups.contains("tables-fence") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains("tables-fence"))
      (out, groups.toArray.count(_ == "tables-read"))
    } finally sc.removeSparkListener(listener)
  }

  test("Tables starts no job and reads with the schema Spark's inference gives") {
    val dir = java.nio.file.Files.createTempDirectory("tables-footer").toString
    spark.range(30).select(col("id"), (col("id") % 7).cast("int").as("k"),
        concat(lit("s"), col("id").cast("string")).as("s"))
      .repartition(3).write.parquet(s"$dir/parts.parquet")
    writeTable(dir, "dotted")(spark.range(3)
      .withColumn("evt.ts", lit("2024-05-01 12:34:56").cast(TimestampNTZType)))
    // INT64 TIMESTAMP(NANOS), as the earlier generator wrote events.ts
    val nanos = MessageTypeParser.parseMessageType(
      "message m { required int64 id; required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter.builder(new Path(s"$dir/nanos.parquet"))
      .withType(nanos).withConf(spark.sparkContext.hadoopConfiguration).build()
    try Seq(1714566896123456789L, 1714566896999999999L).zipWithIndex.foreach {
      case (ns, i) => w.write(new SimpleGroupFactory(nanos).newGroup()
        .append("id", i.toLong).append("ts", ns))
    } finally w.close()
    val tables = Tables.all.map(sf -> _) ++
      Seq("parts", "dotted", "nanos").map(dir -> _)

    val (frames, jobs) = jobsDuring(tables.map { case (d, n) =>
      (d, n, Tables(spark, d, n), Tables.readParquet(spark, s"$d/$n.parquet"))
    })
    assert(jobs === 0, "jobs started while building frames")
    assert(new java.io.File(s"$dir/parts.parquet").listFiles()
      .count(_.getName.endsWith(".parquet")) === 3)
    frames.foreach { case (d, n, _, raw) =>
      assert(raw.schema === spark.read.parquet(s"$d/$n.parquet").schema, n)
    }
    val byName = frames.map { case (_, n, df, _) => n -> df }.toMap
    assert(byName("parts").count() === 30)
    assert(byName("dotted").schema("evt.ts").dataType === TimestampType)
    assert(byName("nanos").schema("ts").dataType === TimestampType)
    assert(byName("nanos").orderBy("id").select(col("ts").cast("string"))
      .collect().map(_.getString(0)).toSeq ===
      Seq("2024-05-01 12:34:56.123456", "2024-05-01 12:34:56.999999"))
  }

  test("Tables falls back to Spark's inference where no data file is at the top level") {
    val dir = java.nio.file.Files.createTempDirectory("tables-fallback").toString
    spark.range(6).withColumn("p", col("id") % 2)
      .write.partitionBy("p").parquet(s"$dir/parted.parquet")
    assert(Tables.footerSchema(spark, s"$dir/parted.parquet").isEmpty)
    assert(Tables(spark, dir, "parted").schema ===
      spark.read.parquet(s"$dir/parted.parquet").schema)

    // a directory holding only the commit marker
    val empty = new java.io.File(s"$dir/empty.parquet")
    assert(empty.mkdir() && new java.io.File(empty, "_SUCCESS").createNewFile())
    assert(Tables.footerSchema(spark, empty.getPath).isEmpty)
    val inferred = intercept[Exception](spark.read.parquet(empty.getPath))
    val ours = intercept[Exception](Tables(spark, dir, "empty"))
    assert(ours.getClass === inferred.getClass)
    assert(ours.getMessage === inferred.getMessage)
  }
}
