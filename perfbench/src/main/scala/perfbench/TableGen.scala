package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.util.SplittableRandom
import scala.jdk.CollectionConverters._

/** Generator for the TPC-H-shaped star schema plus the `events`,
  * `documents` and `embeddings` tables that `SparkEntry.queries` read
  * (schemas in FIXTURES.md §B). Value distributions follow the
  * repository's test tables: uniform keys and categories, 2-decimal money,
  * time-ordered events, random-word documents of which a share are
  * near-copies of an earlier document, unit-norm 64-d embeddings.
  *
  * The content is a pure function of (sizes, seed). The query workloads
  * use one fixed seed so that their recorded row counts and content hashes
  * (expected.tsv) stay valid; the workload seed only orders the queries.
  */
object TableGen {
  final case class Sizes(customers: Int, suppliers: Int, parts: Int,
                         orders: Int, lineitems: Int, events: Int, users: Int,
                         documents: Int, embeddings: Int) {
    def key: String =
      Seq(customers, suppliers, parts, orders, lineitems, events, users,
        documents, embeddings).mkString("-")
  }

  private val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val partTypes = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val adjectives = Array("small", "red", "blue", "hot", "old", "new", "cold", "large")
  private val nouns = Array("ring", "widget", "bolt", "gear", "anvil", "rod", "plate", "gizmo")
  private val regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val eventTypes = Array("click", "view", "purchase", "signup", "error")
  private val vocab = ("join hash row batch scan column customer filter small slow merge " +
    "order vector line table data agg value key stream window a spark part group big " +
    "sort query fast the").split(' ')
  private val langs = Array("en", "en", "en", "es", "zh", "de", "fr")

  private def money(x: Double): Double = math.round(x * 100) / 100.0
  private def day(epochDay: Long): Timestamp =
    Timestamp.valueOf(java.time.LocalDate.ofEpochDay(epochDay).atStartOfDay())
  private val day1995 = java.time.LocalDate.of(1995, 1, 1).toEpochDay

  /** Writes every table as `<dir>/<name>.parquet`; returns `dir`. */
  def write(spark: SparkSession, dir: Path, sz: Sizes, seed: Long): Unit = {
    val r = new SplittableRandom(seed)
    def save(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(dir.resolve(s"$name.parquet").toString)
    def f(n: String, t: DataType) = StructField(n, t)

    save("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      regions.indices.map(i => Row(i, regions(i))))
    save("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    save("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0 until sz.customers).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
        money(-999.99 + r.nextDouble() * 10999.98), segments(r.nextInt(segments.length)))))
    save("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (0 until sz.suppliers).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
        money(-999.99 + r.nextDouble() * 10999.98))))
    save("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))),
      (0 until sz.parts).map(i => Row(i.toLong,
        adjectives(r.nextInt(adjectives.length)) + " " + nouns(r.nextInt(nouns.length)),
        s"Brand#${1 + r.nextInt(25)}", partTypes(r.nextInt(partTypes.length)),
        1 + r.nextInt(50), money(900.0 + (i % 1000) * 0.1))))
    save("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
      f("o_orderdate", TimestampType), f("o_orderpriority", StringType))),
      (0 until sz.orders).map(i => Row(i.toLong, r.nextInt(sz.customers).toLong,
        "FOP".charAt(r.nextInt(3)).toString, money(1000.0 + r.nextDouble() * 499000.0),
        day(day1995 + r.nextInt(2405)), priorities(r.nextInt(priorities.length)))))
    save("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType),
      f("l_shipdate", TimestampType))),
      (0 until sz.lineitems).map { _ =>
        val q = 1 + r.nextInt(50)
        Row(r.nextInt(sz.orders).toLong, r.nextInt(sz.parts).toLong,
          r.nextInt(sz.suppliers).toLong, 1 + r.nextInt(7), q.toDouble,
          money(q * (900.0 + r.nextDouble() * 1200.0)), r.nextInt(11) / 100.0,
          r.nextInt(9) / 100.0, "ANR".charAt(r.nextInt(3)).toString,
          "FO".charAt(r.nextInt(2)).toString, day(day1995 + 1 + r.nextInt(2497)))
      })
    // events: time-ordered by id over 30 days of January 2024
    val ev0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime * 1000L
    val meanGapUs = 30L * 86400L * 1000000L / math.max(1, sz.events)
    var tUs = ev0
    save("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
      f("props", StringType))),
      (0 until sz.events).map { i =>
        tUs += (r.nextDouble() * 2 * meanGapUs).toLong
        val ts = new Timestamp(tUs / 1000L)
        ts.setNanos(((tUs % 1000000L) * 1000L).toInt)
        Row(i.toLong, ts, r.nextInt(sz.users).toLong,
          eventTypes(r.nextInt(eventTypes.length)),
          money(0.01 + -math.log(1.0 - r.nextDouble()) * 40.0),
          s"""{"k": ${r.nextInt(100)}}""")
      })
    // documents: random-word texts; ~5% near-copies of an earlier text
    // (suffix " dup") and ~0.5% exact copies, so the dedup operators find
    // clusters of realistic size
    val texts = new Array[String](sz.documents)
    save("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))),
      (0 until sz.documents).map { i =>
        val u = r.nextDouble()
        val t =
          if (i > 0 && u < 0.05) texts(r.nextInt(i)) + " dup"
          else if (i > 0 && u < 0.055) texts(r.nextInt(i))
          else Seq.fill(10 + r.nextInt(90))(vocab(r.nextInt(vocab.length))).mkString(" ")
        texts(i) = t
        Row(i.toLong, t, langs(r.nextInt(langs.length)), s"src${i % 20}", t.length.toLong)
      })
    // embeddings: unit-norm gaussian vectors; ~5% are small perturbations
    // of an earlier vector (near-duplicates for the LSH operators)
    val vecs = new Array[Array[Float]](sz.embeddings)
    save("embeddings", StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType)), f("label", IntegerType))),
      (0 until sz.embeddings).map { i =>
        val raw =
          if (i > 0 && r.nextDouble() < 0.05) {
            val b = vecs(r.nextInt(i)); Array.tabulate(64)(k => b(k) + gauss(r) * 0.02)
          } else Array.fill(64)(gauss(r))
        val n = math.sqrt(raw.map(x => x * x).sum)
        val v = raw.map(x => (x / n).toFloat)
        vecs(i) = v
        Row(i.toLong, v.toSeq, r.nextInt(10))
      })
  }

  private def gauss(r: SplittableRandom): Double = {
    // Box-Muller: SplittableRandom has no nextGaussian on JDK 17
    val u1 = 1.0 - r.nextDouble(); val u2 = r.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  /** Generates into a sibling temp dir and renames, so an interrupted
    * generation never leaves a half-written cache entry behind.
    */
  def cached(dir: Path)(make: Path => Unit): Path = {
    if (!Files.exists(dir.resolve("_READY"))) {
      val tmp = dir.resolveSibling(dir.getFileName.toString + ".tmp")
      Util.deleteTree(tmp)
      Files.createDirectories(tmp)
      make(tmp)
      Files.createFile(tmp.resolve("_READY"))
      Util.deleteTree(dir)
      Files.move(tmp, dir)
    }
    dir
  }
}
