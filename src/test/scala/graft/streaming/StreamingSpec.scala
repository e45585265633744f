package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import java.sql.Timestamp

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("arrival parse drops corrupt JSON, geo filter matches the Spock pair") {
    val input = MemoryStream[String](spark)
    val q = Streams.geoFilter(
        Streams.parseArrivals(input.toDF().withColumnRenamed("value", "value")),
        52.52437, 13.41053, 30000)
      .writeStream.format("memory").queryName("geo_out")
      .outputMode(OutputMode.Append).start()
    input.addData(
      """{"local-time":"2019-02-18 08:30:15.0000000","name":"Alexanderplatz","latitude":52.52437,"longitude":13.41053}""",
      """{"local-time":"2019-02-19 01:10:00.0000000","name":"Potsdam Hbf","latitude":52.39886,"longitude":13.06566}""",
      """{"local-time":"2019-02-19 02:00:00.0000000","name":"Outer Rim","latitude":48.13743,"longitude":11.57549}""",
      """not json at all""",
      """{"local-time":"2019-02-19 03:00:00.0000000","name":"no-coords"}""")
    q.processAllAvailable()
    val names = spark.table("geo_out").select($"name").collect().map(_.getString(0)).toSet
    q.stop()
    assert(names === Set("Alexanderplatz", "Potsdam Hbf"))
  }

  test("qualityGate stream equals the batch cascade stages on identical docs") {
    // real corpus rows through the stream: the gate must agree with the
    // batch operator on actual text, not fixture strings
    val docs = graft.Tables(spark, sf, "documents")
      .select($"doc_id", $"text", $"n_chars")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val input = MemoryStream[(Long, String, Long)](spark)
    val q = Streams.qualityGate(
        input.toDF().toDF("doc_id", "text", "n_chars"))
      .select($"doc_id")
      .writeStream.format("memory").queryName("gate_out")
      .outputMode(OutputMode.Append).start()
    input.addData(docs.take(docs.length / 2))
    q.processAllAvailable()
    input.addData(docs.drop(docs.length / 2))
    q.processAllAvailable()
    val streamed = spark.table("gate_out").collect().map(_.getLong(0)).toSet
    q.stop()
    val batch = Streams.qualityGate(
        graft.Tables(spark, sf, "documents").select($"doc_id", $"text", $"n_chars"))
      .collect().map(_.getLong(0)).toSet
    assert(streamed === batch)
    // the gate genuinely separates: some docs pass, some do not
    assert(batch.nonEmpty && batch.size < docs.length)
    // and it IS the cascade's stage-2 survivor set — the gate pins to
    // TextOps.filterCascade, not merely to itself
    val stage2 = graft.operators.TextOps.filterCascade(spark, sf).collect()
      .collectFirst { case r if r.getInt(0) == 2 => r.getLong(2) }.get
    assert(streamed.size.toLong === stage2)
  }

  test("classifierGate: streamed accepts equal batch scoring's accept set") {
    val w = graft.operators.TextOps.lrTrainCore(spark, sf, 5, 0.5)._2
    val docs = graft.Tables(spark, sf, "documents")
      .select($"doc_id", $"text", $"n_chars")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val input = MemoryStream[(Long, String, Long)](spark)
    val q = Streams.classifierGate(
        input.toDF().toDF("doc_id", "text", "n_chars"), w)
      .select($"doc_id", $"lr_p")
      .writeStream.format("memory").queryName("classifier_gate_out")
      .outputMode(OutputMode.Append).start()
    input.addData(docs.take(docs.length / 2))
    q.processAllAvailable()
    input.addData(docs.drop(docs.length / 2))
    q.processAllAvailable()
    val streamed = spark.table("classifier_gate_out").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    q.stop()
    // the gate's accept set is exactly batch inference's pred=true set,
    // with the identical probability per doc
    val scores = graft.operators.TextOps.qualityLrScores(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    val accepted = scores.filter(_._3)
    assert(streamed.keySet === accepted.map(_._1).toSet)
    accepted.foreach { case (id, pu, _) =>
      val exp = BigDecimal(streamed(id) * 1000000.0)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      assert(exp === pu, s"doc $id stream/batch probability drift")
    }
    // the gate separates: some docs pass, some do not
    assert(streamed.nonEmpty && streamed.size < docs.length)
  }

  test("dsirGate: streamed weights equal batch DSIR weights; threshold separates") {
    val llr = graft.operators.TextOps.dsirLlrTable(spark, sf)
    // batch truth: every scored doc's integer weight from the top-n op's
    // parent frame — recomputed here via the public top-n with n = corpus
    val nDocs = graft.Tables(spark, sf, "documents").count().toInt
    val batch = graft.operators.TextOps.dsirSelect(spark, sf, n = nDocs)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    val minW = batch.values.toSeq.sorted.apply(batch.size / 2) // median cut
    val docs = graft.Tables(spark, sf, "documents")
      .select($"doc_id", $"text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val input = MemoryStream[(Long, String)](spark)
    val q = Streams.dsirGate(
        input.toDF().toDF("doc_id", "text"), llr, minW)
      .select($"doc_id", $"weight_u")
      .writeStream.format("memory").queryName("dsir_gate_out")
      .outputMode(OutputMode.Append).start()
    input.addData(docs.take(docs.length / 2))
    q.processAllAvailable()
    input.addData(docs.drop(docs.length / 2))
    q.processAllAvailable()
    val streamed = spark.table("dsir_gate_out").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    q.stop()
    // admitted set = batch docs at/above the cut, with identical weights
    val expected = batch.filter { case (_, w) => w >= minW }
    assert(streamed === expected)
    // the gate separates: some docs pass, some do not
    assert(streamed.nonEmpty && streamed.size < docs.length)
  }

  test("decontaminationGate: streaming flags equal batch; exact pairs never missed") {
    val bloomBytes = graft.operators.TextOps.evalShingleBloom(spark, sf)
    val docs = graft.Tables(spark, sf, "documents")
      .select($"doc_id", $"text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val input = MemoryStream[(Long, String)](spark)
    val q = Streams.decontaminationGate(
        input.toDF().toDF("doc_id", "text"), bloomBytes)
      .select($"doc_id", $"contaminated")
      .writeStream.format("memory").queryName("decon_gate_out")
      .outputMode(OutputMode.Append).start()
    input.addData(docs.take(docs.length / 2))
    q.processAllAvailable()
    input.addData(docs.drop(docs.length / 2))
    q.processAllAvailable()
    val streamed = spark.table("decon_gate_out").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    q.stop()
    // stateless: the stream's per-doc decision equals the batch one
    val batch = Streams.decontaminationGate(
        graft.Tables(spark, sf, "documents").select($"doc_id", $"text"),
        bloomBytes)
      .collect().map(r => r.getLong(0) -> r.getBoolean(r.fieldIndex("contaminated"))).toMap
    assert(streamed === batch)
    assert(streamed.size === docs.length)
    // no false negatives: every train doc the EXACT operator pairs with
    // the eval split must flag (eval docs flag trivially - their own
    // shingles are in the bloom)
    val exactTrain = graft.operators.TextOps.decontamination(spark, sf)
      .select($"train_doc").collect().map(_.getLong(0)).toSet
    exactTrain.foreach { d =>
      assert(streamed(d), s"train doc $d shares an eval n-gram but did not flag")
    }
    // the gate separates: not everything flags
    assert(streamed.values.exists(v => !v))
  }

  test("mixtureFilter: per-micro-batch draws equal the batch draw over the union") {
    def src(i: Long) = if (i % 3 == 0) "a" else if (i % 3 == 1) "b" else "c"
    val rates = Seq(("a", 5000), ("b", 10000), ("c", 0)).toDF("source", "rate_bp")
    val input = MemoryStream[(Long, String)](spark)
    val q = Streams.mixtureFilter(input.toDF().toDF("doc_id", "source"), rates)
      .select($"doc_id", $"source")
      .writeStream.format("memory").queryName("mix_out")
      .outputMode(OutputMode.Append).start()
    // two micro-batches: the draw must not depend on batch boundaries
    input.addData((1L to 40L).map(i => (i, src(i))))
    q.processAllAvailable()
    input.addData((41L to 80L).map(i => (i, src(i))))
    q.processAllAvailable()
    val streamed = spark.table("mix_out").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    q.stop()
    val static = (1L to 80L).map(i => (i, src(i))).toDF("doc_id", "source")
    val batch = Streams.mixtureFilter(static, rates)
      .select($"doc_id", $"source").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(streamed === batch)
    // rate semantics: a saturated source passes whole, a zero source not at all
    assert(batch.filter(_._2 == "b").map(_._1) === (1L to 80L).filter(src(_) == "b").toSet)
    assert(!batch.exists(_._2 == "c"))
    // and the half-rate source is a strict, non-empty subset
    val aDrawn = batch.filter(_._2 == "a").map(_._1)
    val aAll = (1L to 80L).filter(src(_) == "a").toSet
    assert(aDrawn.nonEmpty && aDrawn.subsetOf(aAll) && aDrawn.size < aAll.size)
  }

  test("tokenize-pack-shard stream equals the batch export on identical docs") {
    val dst = java.nio.file.Files.createTempDirectory("pack-shards").toString
    val ckpt = java.nio.file.Files.createTempDirectory("pack-ckpt").toString
    val merges = graft.operators.TextOps.bpeMergeTable(spark, sf)
    val docs = graft.Tables(spark, sf, "documents")
      .select($"doc_id", $"lang", $"text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)
    val input = MemoryStream[(Long, String, String)](spark)
    val q = Streams.tokenizePackShardSink(
        input.toDF().toDF("doc_id", "lang", "text"), merges, dst)
      .option("checkpointLocation", ckpt).start()
    // append-only ingest in doc_id order, three micro-batches
    docs.grouped(math.max(docs.length / 3, 1)).foreach { g =>
      input.addData(g); q.processAllAvailable()
    }
    q.stop()
    // read the shards back: partition dirs carry (lang, bin), payload
    // carries the encoded doc
    val payload = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_tok",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("off",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ids",
        org.apache.spark.sql.types.StringType)))
    val shards = spark.read.text(dst)
      .select(col("lang"), col("bin"),
        from_json(col("value"), payload).as("p"))
      .select($"lang", $"bin".cast("long").as("bin"), $"p.doc_id", $"p.n_tok", $"p.ids")
    // bin rollup == the batch packing over the same encoded counts
    val gotBins = shards.groupBy($"lang", $"bin")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"),
        min($"doc_id").as("first_doc"), max($"doc_id").as("last_doc"))
      .orderBy($"lang", $"bin")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    val expBins = graft.operators.Packing.sequencePackingEncoded(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(gotBins === expBins)
    // per-doc token ids equal the batch encode (the tokenizer itself)
    val gotIds = shards.select($"doc_id", $"n_tok", $"ids").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sortBy(_._1).toSeq
    val expIds = graft.operators.TextOps.bpeEncode(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getString(3))).toSeq
    assert(gotIds === expIds)
    assert(gotBins.map(_._3).sum === docs.length.toLong)
  }

  test("index probe stream equals the batch incremental probe on identical docs") {
    val dst = java.nio.file.Files.createTempDirectory("probe-out").toString + "/pairs"
    val ckpt = java.nio.file.Files.createTempDirectory("probe-ckpt").toString
    val index = graft.operators.Dedup.bandIndexFor(spark, sf,
      col("doc_id") % 4 === 3, 3, 12, 3)
    val batchDocs = graft.Tables(spark, sf, "documents")
      .filter($"doc_id" % 4 === 3)
      .select($"doc_id", $"text")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val input = MemoryStream[(Long, String)](spark)
    val q = Streams.indexProbeSink(
        input.toDF().toDF("doc_id", "text"), index, dst)
      .option("checkpointLocation", ckpt).start()
    val groups = batchDocs.grouped(math.max(batchDocs.length / 2, 1)).toSeq
    groups.foreach { g =>
      input.addData(g); q.processAllAvailable()
    }
    val stored = spark.read.parquet(dst)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // replay: the first group again must leave the stored rows unchanged
    input.addData(groups.head); q.processAllAvailable()
    q.stop()
    val streamed = spark.read.parquet(dst)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(streamed === stored, "a replayed group changed the stored pairs")
    val batch = graft.operators.Dedup.incrementalLshPairs(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty, "degenerate test: no candidate pairs at this SF")
  }

  test("winnowIndexSink maintains the store incrementally: streamed index " +
       "== batch-built index, replays add nothing, probe stays servable") {
    val table = "winnow_maint_spec_idx"
    val ckpt = java.nio.file.Files.createTempDirectory("winnow-maint").toString
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val docs = graft.Tables(spark, sf, "documents")
      .select($"doc_id", $"text")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val input = MemoryStream[(Long, String)](spark)
    val q = Streams.winnowIndexSink(
        input.toDF().toDF("doc_id", "text"), table)
      .option("checkpointLocation", ckpt).start()
    val half = docs.length / 2
    input.addData(docs.take(half)); q.processAllAvailable()
    input.addData(docs.drop(half)); q.processAllAvailable()
    input.addData(docs.take(half)); q.processAllAvailable() // replay: no-op
    q.stop()
    val streamed = spark.table(table)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val batchTable = "winnow_maint_spec_batch"
    spark.sql(s"DROP TABLE IF EXISTS $batchTable")
    graft.operators.TextOps.writeWinnowIndexFrom(
      graft.Tables(spark, sf, "documents"), batchTable)
    val batch = spark.table(batchTable)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"DROP TABLE IF EXISTS $batchTable")
  }

  test("winnowIndexSink auto-compaction: store contents identical to the " +
       "uncompacted run, file count bounded") {
    val tA = "winnow_autocompact_idx"
    val tB = "winnow_nocompact_idx"
    Seq(tA, s"${tA}_compacting", tB).foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
    val docs = graft.Tables(spark, sf, "documents")
      .select($"doc_id", $"text")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val slices = (0 until 4).map(i => docs.filter(_._1 % 4 == i))
    def run(table: String, every: Int): Unit = {
      val ckpt = java.nio.file.Files
        .createTempDirectory(s"winnow-compact-$every").toString
      val input = MemoryStream[(Long, String)](spark)
      val q = Streams.winnowIndexSink(
          input.toDF().toDF("doc_id", "text"), table, compactEvery = every)
        .option("checkpointLocation", ckpt).start()
      // 4 micro-batches → ids 0..3; every=2 compacts after batch 2
      slices.foreach { g => input.addData(g); q.processAllAvailable() }
      q.stop()
    }
    run(tA, 2)
    run(tB, 0)
    def contents(t: String) = spark.table(t)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(contents(tA) === contents(tB))
    assert(contents(tA).nonEmpty)
    val fA = spark.table(tA).inputFiles.length
    val fB = spark.table(tB).inputFiles.length
    assert(fA < fB,
      s"compaction at batch 2 must shrink the file count ($fA vs $fB)")
    // one compacted file-set (≤ 8) + at most one post-compaction append
    assert(fA <= 16, s"file count unbounded after compaction: $fA")
    Seq(tA, tB).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("tokenizePackShardSink auto-compaction: shard contents identical " +
       "to the uncompacted run, file count bounded") {
    val merges = graft.operators.TextOps.bpeMergeTable(spark, sf)
    val docs = graft.Tables(spark, sf, "documents")
      .select($"doc_id", $"lang", $"text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)
    val slices = docs.grouped(math.max(docs.length / 4, 1)).toSeq
    def run(every: Int): String = {
      val dst = java.nio.file.Files
        .createTempDirectory(s"pack-compact-$every").toString
      val ckpt = java.nio.file.Files
        .createTempDirectory(s"pack-compact-ckpt-$every").toString
      val input = MemoryStream[(Long, String, String)](spark)
      val q = Streams.tokenizePackShardSink(
          input.toDF().toDF("doc_id", "lang", "text"), merges, dst,
          compactEvery = every)
        .option("checkpointLocation", ckpt).start()
      // micro-batch ids 0..; every=2 compacts after batch 2
      slices.foreach { g => input.addData(g); q.processAllAvailable() }
      q.stop()
      dst
    }
    val dA = run(2)
    val dB = run(0)
    def contents(d: String) = spark.read.text(d)
      .selectExpr("lang", "CAST(bin AS BIGINT) AS bin", "value")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .sorted.toSeq
    val cA = contents(dA)
    assert(cA === contents(dB))
    assert(cA.nonEmpty)
    val fA = spark.read.text(dA).inputFiles.length
    val fB = spark.read.text(dB).inputFiles.length
    assert(fA < fB,
      s"compaction at batch 2 must shrink the file count ($fA vs $fB)")
    // post-compaction: one file per partition plus at most one
    // appended file-set per later batch
    val nParts = cA.map(c => (c._1, c._2)).distinct.size
    assert(fA <= 2 * nParts, s"file count unbounded after compaction: $fA")
  }

  test("cdcApplySink retention: retainVersions keeps exactly the N " +
       "newest committed snapshots; replay-skip and resolution unchanged") {
    val dst = java.nio.file.Files.createTempDirectory("cdc-retain").toString
    val input = MemoryStream[(Long, String, String)](spark)
    val q = Streams.cdcApplySink(
      input.toDF().toDF("doc_id", "status", "fp"), dst,
      retainVersions = 2).start()
    input.addData((1L, "added", "a"), (2L, "added", "b"))
    q.processAllAvailable() // batch 0
    input.addData((2L, "modified", "b2"))
    q.processAllAvailable() // batch 1
    input.addData((3L, "added", "c"))
    q.processAllAvailable() // batch 2
    q.stop()
    val dirs = new java.io.File(dst).listFiles().filter(_.isDirectory)
      .map(_.getName).toSet
    assert(dirs.contains("snap_2") && dirs.contains("snap_1"),
      s"two newest versions must survive: $dirs")
    assert(!dirs.contains("snap_0") && !dirs.contains("_cdc_meta_0"),
      s"version 0 must be retired under retain=2: $dirs")
    // resolution is still max-id: the reader sees the newest fold
    val cur = Streams.readCdcSnapshot(spark, dst).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(cur === Set((1L, "a"), (2L, "b2"), (3L, "c")))
    // the retained PREVIOUS version is a complete readable snapshot —
    // the concurrent-reader guarantee the knob exists for
    val prev = spark.read.parquet(s"$dst/snap_1").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(prev === Set((1L, "a"), (2L, "b2")))
    // a redelivered batch (fresh query, id 0 <= committed 2) skips whole
    val replay = MemoryStream[(Long, String, String)](spark)
    val q2 = Streams.cdcApplySink(
      replay.toDF().toDF("doc_id", "status", "fp"), dst,
      retainVersions = 2).start()
    replay.addData((9L, "added", "x"))
    q2.processAllAvailable()
    q2.stop()
    assert(Streams.readCdcSnapshot(spark, dst).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet === cur,
      "stale batch mutated the committed snapshot")
  }

  test("psiDriftSink: full current half reproduces the batch PSI exactly; " +
       "a shifted batch trips the alarm") {
    val dst = java.nio.file.Files.createTempDirectory("psi-out").toString + "/psi"
    val ckpt = java.nio.file.Files.createTempDirectory("psi-ckpt").toString
    val ref = graft.operators.Events.psiReferenceCounts(spark, sf)
    val cur = graft.Tables(spark, sf, "events")
      .filter(dayofmonth($"ts") > 15)
      .select($"value").as[Double].collect().toSeq
    val input = MemoryStream[Double](spark)
    val q = Streams.psiDriftSink(input.toDF().toDF("value"), ref, dst)
      .option("checkpointLocation", ckpt).start()
    input.addData(cur); q.processAllAvailable()           // batch 0: stationary
    input.addData(Seq.fill(500)(490.0)); q.processAllAvailable() // batch 1: shifted
    q.stop()
    val rows = spark.read.parquet(dst)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    val batchPsi = graft.operators.Events.psiDrift(spark, sf)
      .select($"contrib").as[Long].collect().sum
    assert(rows(0L)._1 === cur.length.toLong)
    assert(rows(0L)._2 === batchPsi, "stream PSI != batch PSI on same data")
    assert(!rows(0L)._3, "stationary half must not alarm")
    assert(rows(1L)._3, "a mass-shifted batch must alarm")
  }

  test("neymanSampleGate: stream keeps exactly the batch-design rows; " +
       "realized rates track the allocation") {
    val design = graft.operators.Events.neymanAllocation(spark, sf).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("alloc"),
        r.getAs[Long]("n_h"))).toSeq
    val events = graft.Tables(spark, sf, "events")
      .select($"event_id", $"event_type")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val input = MemoryStream[(Long, String)](spark)
    val q = Streams.neymanSampleGate(
        input.toDF().toDF("event_id", "event_type"), design)
      .writeStream.format("memory").queryName("neyman_out")
      .outputMode(OutputMode.Append).start()
    events.grouped(math.max(events.length / 3, 1)).foreach { g =>
      input.addData(g); q.processAllAvailable()
    }
    val streamed = spark.table("neyman_out")
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    q.stop()
    // batch replay of the same frozen design over the same rows
    val batch = Streams.neymanSampleGate(
        events.toDF("event_id", "event_type"), design)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(streamed === batch)
    // realized per-type keep counts track the design (md5-uniform,
    // +-25%); a rate >= 1 keeps the whole stratum exactly
    val byType = events.groupBy(_._2)
    design.foreach { case (t, alloc, nh) =>
      val kept = byType(t).count(e => streamed(e._1)).toLong
      val target = math.min(alloc, nh)
      assert(math.abs(kept - target) <= target / 4 + 20,
        s"type $t kept $kept vs target $target")
      if (alloc >= nh) assert(kept === nh,
        s"rate >= 1 must keep all of $t")
    }
  }

  test("cusumMonitorSink: full history reproduces the batch CUSUM; " +
       "a revenue flood trips the alarm") {
    val dst = java.nio.file.Files.createTempDirectory("cu-out").toString + "/cu"
    val ckpt = java.nio.file.Files.createTempDirectory("cu-ckpt").toString
    val batchRows = graft.operators.Relational.cusumShift(spark, sf).collect()
    val mu = batchRows.head.getAs[Long]("mu")
    val orders = graft.Tables(spark, sf, "orders")
      .select($"o_orderdate".cast("date").cast("string"), $"o_totalprice")
      .as[(String, Double)].collect().toSeq
    val input = MemoryStream[(String, Double)](spark)
    val q = Streams.cusumMonitorSink(
        input.toDF().toDF("day", "amount"), mu, dst)
      .option("checkpointLocation", ckpt).start()
    input.addData(orders); q.processAllAvailable()  // batch 0: real history
    val lastDay = java.time.LocalDate.parse(orders.map(_._1).max)
    val flood = (1 to 3).map(i =>
      (lastDay.plusDays(i).toString, mu * 3 / 100.0))
    input.addData(flood); q.processAllAvailable()   // batch 1: level shift
    q.stop()
    val rows = spark.read.parquet(dst).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5)))).toMap
    val lastBatch = batchRows.last
    assert(rows(0L)._1 === batchRows.length.toLong)
    assert(rows(0L)._2 === lastBatch.getAs[Long]("s_hi"),
      "stream s_hi != batch s_hi on the same days")
    assert(rows(0L)._3 === lastBatch.getAs[Long]("s_lo"))
    assert(rows(0L)._4 === batchRows.count(r =>
      r.getAs[Boolean]("alarm_hi") || r.getAs[Boolean]("alarm_lo")).toLong)
    assert(rows(1L)._1 === batchRows.length.toLong + 3)
    assert(rows(1L)._5, "a sustained revenue shift must alarm")
  }

  test("holtSink: full history reproduces the batch Holt recursion; a " +
       "flood day raises the one-step forecast") {
    val dst = java.nio.file.Files.createTempDirectory("holt-out")
      .toString + "/holt"
    val ckpt = java.nio.file.Files.createTempDirectory("holt-ckpt").toString
    val batchRows = graft.operators.Relational.holtLinear(spark, sf).collect()
    val orders = graft.Tables(spark, sf, "orders")
      .select($"o_orderdate".cast("date").cast("string"), $"o_totalprice")
      .as[(String, Double)].collect().toSeq
    val input = MemoryStream[(String, Double)](spark)
    val q = Streams.holtSink(input.toDF().toDF("day", "amount"), dst)
      .option("checkpointLocation", ckpt).start()
    input.addData(orders); q.processAllAvailable() // batch 0: history
    val lastDay = java.time.LocalDate.parse(orders.map(_._1).max)
    val lb = batchRows.last
    val meanish = lb.getAs[Long]("level_u") / 1e6 / 100.0
    input.addData(Seq((lastDay.plusDays(1).toString, meanish * 4)))
    q.processAllAvailable() // batch 1: one 4x day
    q.stop()
    val rows = spark.read.parquet(dst).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(rows(0L)._1 === batchRows.length.toLong)
    assert(rows(0L)._2 === lb.getAs[Long]("level_u"),
      "stream level != batch level on the same days")
    assert(rows(0L)._3 === lb.getAs[Long]("trend_u"))
    assert(rows(0L)._4 === lb.getAs[Long]("level_u")
      + lb.getAs[Long]("trend_u"))
    assert(rows(0L)._5 === lb.getAs[Long]("err_u"))
    // a 4x day pulls the forecast up and leaves a large positive error
    assert(rows(1L)._1 === batchRows.length.toLong + 1)
    assert(rows(1L)._4 > rows(0L)._4, "flood day did not raise forecast")
    assert(rows(1L)._5 > 0L)
  }

  test("medianSink: exact grid-histogram median equals the batch operator " +
       "after any batch split") {
    val dst = java.nio.file.Files.createTempDirectory("med-out")
      .toString + "/med"
    val ckpt = java.nio.file.Files.createTempDirectory("med-ckpt").toString
    val batchRows = graft.operators.Events.medianValue(spark, sf).collect()
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Double]("median_value"), r.getAs[Long]("n_events"))))
      .toMap
    val events = graft.Tables(spark, sf, "events")
      .select($"event_type", $"value").as[(String, Double)].collect().toSeq
    val input = MemoryStream[(String, Double)](spark)
    val q = Streams.medianSink(input.toDF().toDF("event_type", "value"), dst)
      .option("checkpointLocation", ckpt).start()
    // split mid-stream: medians over a prefix differ, the complete-mode
    // histogram must still converge to the batch answer
    val (h1, h2) = events.splitAt(events.length / 3)
    input.addData(h1); q.processAllAvailable()
    input.addData(h2); q.processAllAvailable()
    q.stop()
    val last = spark.read.parquet(dst).collect()
      .filter(_.getAs[Long]("batch_id") == 1L)
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Double]("median_value"), r.getAs[Long]("n_events"))))
      .toMap
    assert(last.keySet === batchRows.keySet)
    last.foreach { case (tpe, (m, n)) =>
      assert(n === batchRows(tpe)._2, s"$tpe count")
      assert(m === batchRows(tpe)._1,
        s"$tpe: stream median $m != batch ${batchRows(tpe)._1}")
    }
  }

  test("histogram sinks fail fast with a remediation note when a " +
       "high-cardinality value column exceeds the driver-state cap") {
    val dst = java.nio.file.Files.createTempDirectory("med-cap-out")
      .toString + "/med"
    val ckpt = java.nio.file.Files.createTempDirectory("med-cap-ckpt")
      .toString
    val input = MemoryStream[(String, Double)](spark)
    // every value distinct on the 1e-4 grid: cells = rows, cap = 50
    val q = Streams.medianSink(input.toDF().toDF("event_type", "value"),
        dst, maxGridCells = 50)
      .option("checkpointLocation", ckpt).start()
    input.addData((1 to 200).map(i => ("t", i * 0.01)))
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    q.stop()
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("maxGridCells")),
      s"expected the cap's remediation note, got: ${messages(ex)}")
    // the batch-side reference helper carries the same explicit bound
    val ex2 = intercept[IllegalStateException] {
      graft.operators.Events.ksReferenceCounts(spark, sf, maxGridCells = 2)
    }
    assert(ex2.getMessage.contains("maxGridCells"))
    // and the fixture grid stays comfortably inside the default cap
    // (the positive stream ≡ batch pins run unchanged elsewhere)
    assert(graft.operators.Events.ksReferenceCounts(spark, sf).nonEmpty)
  }

  test("pChartSink: final emission is row-identical to the batch p-chart " +
       "across a mid-stream split") {
    val dst = java.nio.file.Files.createTempDirectory("pchart-out")
      .toString + "/pchart"
    val ckpt = java.nio.file.Files.createTempDirectory("pchart-ckpt")
      .toString
    val batchRows = graft.operators.Events.pChart(spark, sf).collect()
      .map(r => r.getAs[java.sql.Date]("day").toString ->
        ((r.getAs[Long]("n"), r.getAs[Long]("x"), r.getAs[Long]("p_bp"),
          r.getAs[Long]("ucl_bp"), r.getAs[Long]("lcl_bp"),
          r.getAs[Boolean]("ooc")))).toMap
    val events = graft.Tables(spark, sf, "events")
      .select($"ts".cast("date").cast("string"), $"event_type")
      .as[(String, String)].collect().toSeq
    val input = MemoryStream[(String, String)](spark)
    val q = Streams.pChartSink(
      input.toDF().toDF("day", "event_type"), dst)
      .option("checkpointLocation", ckpt).start()
    val (h1, h2) = events.splitAt(events.length / 2)
    input.addData(h1); q.processAllAvailable()
    input.addData(h2); q.processAllAvailable()
    q.stop()
    val last = spark.read.parquet(dst).collect()
      .filter(_.getAs[Long]("batch_id") == 1L)
      .map(r => r.getAs[java.sql.Date]("day").toString ->
        ((r.getAs[Long]("n"), r.getAs[Long]("x"), r.getAs[Long]("p_bp"),
          r.getAs[Long]("ucl_bp"), r.getAs[Long]("lcl_bp"),
          r.getAs[Boolean]("ooc")))).toMap
    assert(last === batchRows,
      "stream p-chart != batch p-chart on the same events")
  }

  test("holtWintersSink: full history reproduces the batch Holt-Winters " +
       "recursion including the rotating seasonal state") {
    val dst = java.nio.file.Files.createTempDirectory("hw-out")
      .toString + "/hw"
    val ckpt = java.nio.file.Files.createTempDirectory("hw-ckpt").toString
    val batchRows = graft.operators.Relational.holtWinters(spark, sf).collect()
    val orders = graft.Tables(spark, sf, "orders")
      .select($"o_orderdate".cast("date").cast("string"), $"o_totalprice")
      .as[(String, Double)].collect().toSeq
    val input = MemoryStream[(String, Double)](spark)
    val q = Streams.holtWintersSink(input.toDF().toDF("day", "amount"), dst)
      .option("checkpointLocation", ckpt).start()
    input.addData(orders); q.processAllAvailable()
    q.stop()
    val row = spark.read.parquet(dst).collect().head
    val lb = batchRows.last
    assert(row.getAs[Long]("n_days") === batchRows.length.toLong)
    assert(row.getAs[Long]("level_u") === lb.getAs[Long]("level_u"),
      "stream level != batch level on the same days")
    assert(row.getAs[Long]("trend_u") === lb.getAs[Long]("trend_u"))
    assert(row.getAs[Long]("last_err_u") === lb.getAs[Long]("err_u"))
    // next-step seasonal slot: replay the batch fold's rotation to the
    // same point — the forecast must carry the slot due NEXT, which the
    // per-day batch output exposes as the season of the day 6 steps back
    val season6Back = batchRows(batchRows.length - 7).getAs[Long]("season_u")
    assert(row.getAs[Long]("season_next_u") === season6Back,
      "seasonal slot due next diverges from the batch rotation")
    assert(row.getAs[Long]("forecast_next_u") ===
      lb.getAs[Long]("level_u") + lb.getAs[Long]("trend_u") + season6Back)
  }

  test("noveltyIndexSink: doc_id-ordered batches reproduce the batch " +
       "ngramNovelty exactly; replays are no-ops") {
    val table = "novelty_spec_idx"
    val dst = java.nio.file.Files.createTempDirectory("nov-out")
      .toString + "/nov"
    val ckpt = java.nio.file.Files.createTempDirectory("nov-ckpt").toString
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"DROP TABLE IF EXISTS ${table}_docs")
    val docs = graft.Tables(spark, sf, "documents")
      .select($"doc_id", $"text")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val input = MemoryStream[(Long, String)](spark)
    val q = Streams.noveltyIndexSink(
        input.toDF().toDF("doc_id", "text"), table, dst)
      .option("checkpointLocation", ckpt).start()
    val third = math.max(docs.length / 3, 1)
    docs.grouped(third).foreach { g =>
      input.addData(g); q.processAllAvailable()
    }
    val before = spark.read.parquet(dst).count()
    val storeBefore = spark.table(table).count()
    input.addData(docs.slice(third, 2 * third)) // replay batch 2
    q.processAllAvailable()
    q.stop()
    assert(spark.read.parquet(dst).count() === before, "replay re-scored")
    assert(spark.table(table).count() === storeBefore, "replay re-indexed")
    val streamed = spark.read.parquet(dst).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted.toSeq
    val batch = graft.operators.TextOps.ngramNovelty(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted.toSeq
    assert(streamed === batch,
      "in-order streaming novelty must equal the batch operator")
    assert(streamed.nonEmpty)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"DROP TABLE IF EXISTS ${table}_docs")
  }

  test("robustBaselineSink: full history reproduces the batch rolling " +
       "median/MAD alarms; a flood day trips the robust alarm") {
    val dst = java.nio.file.Files.createTempDirectory("rb-out")
      .toString + "/rb"
    val ckpt = java.nio.file.Files.createTempDirectory("rb-ckpt").toString
    val batchRows = graft.operators.Relational.rollingMedianMad(spark, sf)
      .collect()
    val orders = graft.Tables(spark, sf, "orders")
      .select($"o_orderdate".cast("date").cast("string"), $"o_totalprice")
      .as[(String, Double)].collect().toSeq
    val input = MemoryStream[(String, Double)](spark)
    val q = Streams.robustBaselineSink(
        input.toDF().toDF("day", "amount"), dst)
      .option("checkpointLocation", ckpt).start()
    input.addData(orders); q.processAllAvailable() // batch 0: history
    val lastDay = java.time.LocalDate.parse(orders.map(_._1).max)
    val med = batchRows.last.getAs[Long]("med2") / 2.0 / 100.0
    input.addData(Seq((lastDay.plusDays(1).toString, med * 10)))
    q.processAllAvailable() // batch 1: one flood day
    q.stop()
    val rows = spark.read.parquet(dst).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5)))).toMap
    // batch 0 == the batch operator on the same days, stat for stat
    val lb = batchRows.last
    assert(rows(0L)._1 === batchRows.length.toLong + 27) // warm-up days
    assert(rows(0L)._2 === lb.getAs[Long]("med2"))
    assert(rows(0L)._3 === lb.getAs[Long]("mad4"))
    assert(rows(0L)._4 ===
      batchRows.count(_.getAs[Boolean]("anomaly")).toLong)
    assert(rows(0L)._5 === lb.getAs[Boolean]("anomaly"))
    // the 10x-median flood day must alarm; the median barely moves
    assert(rows(1L)._5, "flood day did not trip the robust alarm")
    assert(math.abs(rows(1L)._2 - rows(0L)._2).toDouble
      <= rows(0L)._2 / 10.0, "one flood day shifted the median > 10%")
  }

  test("pageHinkleySink: full history reproduces the batch Page-Hinkley; " +
       "a revenue flood trips the self-baselined alarm") {
    val dst = java.nio.file.Files.createTempDirectory("ph-out").toString + "/ph"
    val ckpt = java.nio.file.Files.createTempDirectory("ph-ckpt").toString
    val batchRows = graft.operators.Relational.pageHinkley(spark, sf).collect()
    val orders = graft.Tables(spark, sf, "orders")
      .select($"o_orderdate".cast("date").cast("string"), $"o_totalprice")
      .as[(String, Double)].collect().toSeq
    val input = MemoryStream[(String, Double)](spark)
    val q = Streams.pageHinkleySink(input.toDF().toDF("day", "amount"), dst)
      .option("checkpointLocation", ckpt).start()
    input.addData(orders); q.processAllAvailable() // batch 0: real history
    val lastDay = java.time.LocalDate.parse(orders.map(_._1).max)
    val mbarCents = batchRows.last.getAs[Long]("mbar_u") / 1000000.0 / 100.0
    val flood = (1 to 5).map(i =>
      (lastDay.plusDays(i).toString, mbarCents * 4)) // 4x the mean level
    input.addData(flood); q.processAllAvailable()  // batch 1: level shift
    q.stop()
    val rows = spark.read.parquet(dst).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6)))).toMap
    val lastBatch = batchRows.last
    assert(rows(0L)._1 === batchRows.length.toLong)
    assert(rows(0L)._2 === lastBatch.getAs[Long]("ph_hi"),
      "stream ph_hi != batch ph_hi on the same days")
    assert(rows(0L)._3 === lastBatch.getAs[Long]("ph_lo"))
    assert(rows(0L)._4 === lastBatch.getAs[Long]("mbar_u"))
    assert(rows(0L)._5 === batchRows.count(r =>
      r.getAs[Boolean]("alarm_hi") || r.getAs[Boolean]("alarm_lo")).toLong)
    assert(rows(1L)._1 === batchRows.length.toLong + 5)
    assert(rows(1L)._6, "a sustained 4x level shift must alarm")
  }

  test("ksDriftSink: full late half reproduces the batch KS exactly; " +
       "a shifted batch trips the alarm") {
    val dst = java.nio.file.Files.createTempDirectory("ks-out").toString + "/ks"
    val ckpt = java.nio.file.Files.createTempDirectory("ks-ckpt").toString
    val ref = graft.operators.Events.ksReferenceCounts(spark, sf)
    val ev = graft.Tables(spark, sf, "events")
      .select(unix_micros($"ts"), $"value").as[(Long, Double)].collect()
    val mid = Math.floorDiv(ev.map(_._1).min + ev.map(_._1).max, 2L)
    val late = ev.filter(_._1 > mid).map(_._2).toSeq
    val input = MemoryStream[Double](spark)
    val q = Streams.ksDriftSink(input.toDF().toDF("value"), ref, dst)
      .option("checkpointLocation", ckpt).start()
    input.addData(late); q.processAllAvailable()      // batch 0: the real half
    input.addData(Seq.fill(2000)(499.99)); q.processAllAvailable() // batch 1
    q.stop()
    val rows = spark.read.parquet(dst).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(5)))).toMap
    val batchRow = graft.operators.Events.ksDrift(spark, sf).collect().head
    assert(rows(0L)._1 === late.length.toLong)
    assert(rows(0L)._2 === batchRow.getAs[Long]("d_num"),
      "stream KS != batch KS on the same halves")
    assert(rows(0L)._3 === batchRow.getAs[Boolean]("drifted"))
    // batch 1 proves state: the flood accumulates ON TOP of the real
    // half and drags the running ECDF far from the reference
    assert(rows(1L)._1 === late.length.toLong + 2000)
    assert(rows(1L)._3, "a mass-shifted batch must alarm")
  }

  test("energyDriftSink: full late half reproduces the batch energy " +
       "distance exactly; a shifted batch trips the alarm") {
    val dst = java.nio.file.Files.createTempDirectory("en-out")
      .toString + "/en"
    val ckpt = java.nio.file.Files.createTempDirectory("en-ckpt").toString
    val ref = graft.operators.Events.ksReferenceCounts(spark, sf)
    val ev = graft.Tables(spark, sf, "events")
      .select(unix_micros($"ts"), $"value").as[(Long, Double)].collect()
    val mid = Math.floorDiv(ev.map(_._1).min + ev.map(_._1).max, 2L)
    val late = ev.filter(_._1 > mid).map(_._2).toSeq
    val batchRow = graft.operators.Events.energyDistance(spark, sf)
      .collect().head
    val batchEnergy = batchRow.getAs[Long]("energy_u")
    val q = {
      val input = MemoryStream[Double](spark)
      val q0 = Streams.energyDriftSink(input.toDF().toDF("value"), ref,
          dst, batchEnergy + 1L)
        .option("checkpointLocation", ckpt).start()
      input.addData(late); q0.processAllAvailable() // batch 0: real half
      input.addData(Seq.fill(2000)(499.99)); q0.processAllAvailable()
      q0.stop(); q0
    }
    val rows = spark.read.parquet(dst).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6))))
      .toMap
    assert(rows(0L)._1 === late.length.toLong)
    assert(rows(0L)._2 === batchRow.getAs[Long]("a_u"),
      "stream a_u != batch a_u on the same halves")
    assert(rows(0L)._3 === batchRow.getAs[Long]("b_u"))
    assert(rows(0L)._4 === batchRow.getAs[Long]("c_u"))
    assert(rows(0L)._5 === batchEnergy)
    assert(!rows(0L)._6, "the real half must not beat its own energy + 1")
    // the flood shifts location AND collapses scale: energy explodes
    assert(rows(1L)._1 === late.length.toLong + 2000)
    assert(rows(1L)._6, "a mass-shifted batch must alarm")
  }

  test("benfordMonitorSink: running chi2 equals the batch audit after " +
       "one batch, state accumulates, and a skewed batch trips the alarm") {
    val dst = java.nio.file.Files.createTempDirectory("bf-out")
      .toString + "/bf"
    val ckpt = java.nio.file.Files.createTempDirectory("bf-ckpt").toString
    val prices = graft.Tables(spark, sf, "orders")
      .select($"o_totalprice").as[Double].collect().toSeq
    val batchChi2 = graft.operators.Relational.benfordAudit(spark, sf)
      .select($"chi2").as[Double].head()
    // threshold between the corpus's own chi2 and the skew we inject
    val thresholdU = java.math.BigDecimal.valueOf(batchChi2 * 1e6)
      .longValue * 2
    val input = MemoryStream[Double](spark)
    val q = Streams.benfordMonitorSink(input.toDF().toDF("amount"), dst,
        thresholdU)
      .option("checkpointLocation", ckpt).start()
    input.addData(prices); q.processAllAvailable()   // batch 0: the corpus
    input.addData(Seq.fill(2000)(90000.0)); q.processAllAvailable()
    q.stop()
    val rows = spark.read.parquet(dst)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    val n0 = prices.count(_ >= 1.0).toLong
    assert(rows(0L)._1 === n0)
    assert(java.math.BigDecimal.valueOf(rows(0L)._2 / 1e6)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue
      === batchChi2, "stream chi2 != batch chi2 on the same rows")
    assert(!rows(0L)._3, "the corpus itself must not alarm at 2x")
    // batch 1 proves STATE: counts accumulate across triggers
    assert(rows(1L)._1 === n0 + 2000)
    assert(rows(1L)._3, "an injected leading-9 flood must alarm")
  }

  test("complete-mode monitors on a first trigger whose aggregate is " +
       "empty: the idle audit row, or no output at all") {
    import org.apache.spark.sql.{DataFrame, Encoder, Row}
    import org.apache.spark.sql.streaming.DataStreamWriter
    type Sink = (DataFrame, String) => DataStreamWriter[Row]
    /** What one trigger over `feed` leaves in the sink's directory:
      * None when the directory was never created. */
    def firstTrigger[A: Encoder](feed: Seq[A], cols: String*)(
        sink: Sink): Option[Seq[Row]] = {
      val dst = java.nio.file.Files.createTempDirectory("idle-out")
        .toString + "/out"
      val ckpt = java.nio.file.Files.createTempDirectory("idle-ckpt")
        .toString
      val input = MemoryStream[A](spark)
      val q = sink(input.toDF().toDF(cols: _*), dst)
        .option("checkpointLocation", ckpt).start()
      try { input.addData(feed); q.processAllAvailable() } finally q.stop()
      if (new java.io.File(dst).exists)
        Some(spark.read.parquet(dst).collect().toSeq)
      else None
    }
    val ref = Seq((1000000L, 3L), (2000000L, 1L))
    def orders(sink: Sink) =
      firstTrigger(Seq.empty[(String, Double)], "day", "amount")(sink)
    def values(sink: Sink) =
      firstTrigger(Seq.empty[Double], "value")(sink)
    val cases: Seq[(String, () => Option[Seq[Row]], Option[Seq[Row]])] = Seq(
      ("holtSink", () => orders(Streams.holtSink), None),
      ("holtWintersSink", () => orders(Streams.holtWintersSink), None),
      ("medianSink", () => firstTrigger(Seq.empty[(String, Double)],
        "event_type", "value")(Streams.medianSink(_, _)), None),
      ("pChartSink", () => firstTrigger(Seq.empty[(String, String)],
        "day", "event_type")(Streams.pChartSink), None),
      ("cusumMonitorSink", () => orders(Streams.cusumMonitorSink(_, 1000L, _)),
        Some(Seq(Row(0L, 0L, 0L, 0L, 0L, false)))),
      ("pageHinkleySink", () => orders(Streams.pageHinkleySink),
        Some(Seq(Row(0L, 0L, 0L, 0L, 0L, 0L, false)))),
      ("robustBaselineSink", () => orders(Streams.robustBaselineSink(_, _)),
        Some(Seq(Row(0L, 0L, 0L, 0L, 0L, false)))),
      ("ksDriftSink", () => values(Streams.ksDriftSink(_, ref, _)),
        Some(Seq(Row(0L, 0L, 0L, 0L, Long.MaxValue, false)))),
      ("energyDriftSink", () => values(Streams.energyDriftSink(_, ref, _, 1L)),
        Some(Seq(Row(0L, 0L, 0L, 0L, 0L, 0L, false)))),
      // every amount below 1.0: no first digit, an empty histogram
      ("benfordMonitorSink", () => firstTrigger(Seq(0.5), "amount")(
        Streams.benfordMonitorSink(_, _, 1L)),
        Some(Seq(Row(0L, 0L, 0L, false)))))
    val wrong = cases.flatMap { case (name, run, want) =>
      val got = scala.util.Try(run())
      if (got.toOption.contains(want)) None else Some(s"$name: $got")
    }
    assert(wrong.isEmpty, "on an empty first trigger")
  }

  test("psiDriftSink bins like the batch PSI: a negative value falls " +
       "outside every bin and leaves psi_e10 unchanged") {
    val dst = java.nio.file.Files.createTempDirectory("psi-neg-out")
      .toString + "/psi"
    val ckpt = java.nio.file.Files.createTempDirectory("psi-neg-ckpt")
      .toString
    val ref = Seq((0L, 40L), (1L, 30L), (2L, 20L), (9L, 10L))
    val cur = Seq(10.0, 20.0, 60.0, 75.0, 130.0, 480.0, 495.0, 999.0)
    val input = MemoryStream[Double](spark)
    val q = Streams.psiDriftSink(input.toDF().toDF("value"), ref, dst)
      .option("checkpointLocation", ckpt).start()
    input.addData(cur); q.processAllAvailable()
    input.addData(cur :+ -5.0); q.processAllAvailable()
    q.stop()
    val rows = spark.read.parquet(dst).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rows(1L)._1 === rows(0L)._1 + 1, "n_events counts every row")
    assert(rows(1L)._2 === rows(0L)._2,
      "a value in no bin changed the PSI")
  }

  test("gopherGate streams bit-identical verdicts to the batch rule suite") {
    val words = Seq("the", "a")
    val input = MemoryStream[(Long, String)](spark)
    val q = Streams.gopherGate(input.toDF().toDF("doc_id", "text"), words)
      .select($"doc_id", $"keep")
      .writeStream.format("memory").queryName("gopher_out")
      .outputMode(OutputMode.Append).start()
    val docs = graft.Tables(spark, sf, "documents")
      .select($"doc_id", $"text")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    docs.grouped(math.max(docs.length / 3, 1)).foreach { g =>
      input.addData(g); q.processAllAvailable()
    }
    val streamed = spark.table("gopher_out")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    q.stop()
    val batch = graft.operators.TextOps.gopherRules(spark, sf, words)
      .select($"doc_id", $"keep")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(streamed === batch)
    assert(batch.values.exists(identity) && batch.values.exists(!_))
  }

  test("winnow probe stream equals the batch fingerprint join on identical docs") {
    val dst = java.nio.file.Files.createTempDirectory("winnow-out").toString + "/pairs"
    val ckpt = java.nio.file.Files.createTempDirectory("winnow-ckpt").toString
    // index = 3-of-4 of the corpus; stream = the held-out quarter
    val indexPred = col("doc_id") % 4 =!= 3
    val table = "winnow_probe_spec_idx"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    graft.operators.TextOps.writeWinnowIndexFrom(
      graft.Tables(spark, sf, "documents").filter(indexPred), table)
    val index = spark.table(table)
    val streamDocs = graft.Tables(spark, sf, "documents")
      .filter(!indexPred).select($"doc_id", $"text")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val input = MemoryStream[(Long, String)](spark)
    val q = Streams.winnowProbeSink(
        input.toDF().toDF("doc_id", "text"), index, dst)
      .option("checkpointLocation", ckpt).start()
    val groups = streamDocs.grouped(math.max(streamDocs.length / 2, 1)).toSeq
    groups.foreach { g =>
      input.addData(g); q.processAllAvailable()
    }
    val stored = spark.read.parquet(dst)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    // replay: the first group again must leave the stored rows unchanged
    input.addData(groups.head); q.processAllAvailable()
    q.stop()
    val streamed = spark.read.parquet(dst)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    assert(streamed === stored, "a replayed group changed the stored pairs")
    // batch reference: the same winnowed fingerprints joined batch-side
    val sel = graft.operators.TextOps
      .winnowSelectedFrom(graft.Tables(spark, sf, "documents"), 4, 4)
      .select($"doc_id", $"h").distinct()
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val isIdx = (id: Long) => id % 4 != 3
    // one row per (stream doc, index doc, shared fingerprint) → count ≥ 2
    val pairsAll: Seq[(Long, Long)] =
      sel.toSeq.groupBy(_._2).valuesIterator.flatMap { docs =>
        val ids = docs.map(_._1).distinct
        for (a <- ids if !isIdx(a); b <- ids if isIdx(b)) yield (a, b)
      }.toSeq
    val batchPairs = pairsAll.groupBy(identity).toSeq
      .map { case (p, g) => (p._1, p._2, g.size.toLong) }
      .filter(_._3 >= 2L).sorted
    assert(streamed === batchPairs)
    assert(streamed.nonEmpty, "degenerate test: no winnow matches at this SF")
    spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("round-trip: parse -> filter -> serialize preserves the wire shape") {
    val input = MemoryStream[String](spark)
    val q = Streams.toArrivalValue(Streams.parseArrivals(input.toDF()))
      .writeStream.format("memory").queryName("wire_out")
      .outputMode(OutputMode.Append).start()
    val wire = """{"local-time":"2019-02-18 08:30:15.0000000","name":"Alexanderplatz","latitude":52.52437,"longitude":13.41053}"""
    input.addData(wire)
    q.processAllAvailable()
    val got = spark.table("wire_out").head().getString(0)
    q.stop()
    assert(got === wire)
  }

  test("tumbling window with watermark aggregates per hour, late data dropped") {
    val input = MemoryStream[(Timestamp, String, Double)](spark)
    val events = input.toDF().toDF("ts", "event_type", "value")
    val q = Streams.hourlyTypeCounts(events, lateness = "30 minutes")
      .writeStream.format("memory").queryName("hourly_out")
      .outputMode(OutputMode.Append).start()
    input.addData(
      (ts("2024-01-01 10:05:00"), "click", 1.0),
      (ts("2024-01-01 10:55:00"), "click", 2.0),
      (ts("2024-01-01 11:10:00"), "view", 5.0))
    q.processAllAvailable()
    // advance watermark far: hour-10 window (ends 11:00) closes once
    // watermark (max 13:00 - 30min lateness = 12:30) passes it
    input.addData((ts("2024-01-01 13:00:00"), "view", 1.0))
    q.processAllAvailable()
    input.addData((ts("2024-01-01 10:30:00"), "click", 99.0)) // too late, dropped
    q.processAllAvailable()
    val rows = spark.table("hourly_out")
      .select($"window_start".cast("string"), $"event_type", $"n_events", $"sum_value")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    q.stop()
    assert(rows.contains(("2024-01-01 10:00:00", "click", 2L, 3.0)))
    assert(!rows.exists(_._4 == 99.0))
  }

  test("session_window merges events within gap") {
    val input = MemoryStream[(Timestamp, Long, Double)](spark)
    val events = input.toDF().toDF("ts", "user_id", "value")
    val q = Streams.userSessionWindows(events, gap = "30 minutes", lateness = "10 minutes")
      .writeStream.format("memory").queryName("sess_out")
      .outputMode(OutputMode.Append).start()
    input.addData(
      (ts("2024-01-01 10:00:00"), 1L, 1.0),
      (ts("2024-01-01 10:10:00"), 1L, 2.0), // same session
      (ts("2024-01-01 11:30:00"), 1L, 4.0)) // new session (80min gap)
    input.addData((ts("2024-01-01 14:00:00"), 2L, 0.0)) // advance watermark
    q.processAllAvailable()
    val rows = spark.table("sess_out")
      .filter($"user_id" === 1L)
      .select($"session_start".cast("string"), $"n_events", $"sum_value")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    q.stop()
    assert(rows === Set(
      ("2024-01-01 10:00:00", 2L, 3.0),
      ("2024-01-01 11:30:00", 1L, 4.0)))
  }

  test("flatMapGroupsWithState sessionization emits summaries on close") {
    import StatefulSessions._
    val input = MemoryStream[Event](spark)
    val q = sessionize(
        input.toDS().withWatermark("ts", "10 minutes"), gapMs = 30 * 60 * 1000)
      .writeStream.format("memory").queryName("state_out")
      .outputMode(OutputMode.Append).start()
    input.addData(
      Event(1L, ts("2024-01-01 10:00:00"), 1.0),
      Event(1L, ts("2024-01-01 10:10:00"), 2.0),
      Event(1L, ts("2024-01-01 11:30:00"), 4.0)) // in-batch gap: closes first session
    q.processAllAvailable()
    input.addData(Event(2L, ts("2024-01-01 14:00:00"), 0.0)) // watermark -> timeout
    q.processAllAvailable()
    input.addData(Event(2L, ts("2024-01-01 15:00:00"), 0.0)) // one more trigger
    q.processAllAvailable()
    val rows = spark.table("state_out")
      .filter($"user_id" === 1L)
      .select($"session_start".cast("string"), $"session_end".cast("string"),
        $"n_events", $"sum_value")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    q.stop()
    assert(rows.contains(("2024-01-01 10:00:00", "2024-01-01 10:10:00", 2L, 3.0)))
    assert(rows.contains(("2024-01-01 11:30:00", "2024-01-01 11:30:00", 1L, 4.0)))
  }

  test("stateful funnel finalizes exact stages under out-of-order arrival") {
    import StatefulFunnel._
    val input = MemoryStream[Event](spark)
    // 1-hour watermark: the straggler below must still be ABOVE the
    // watermark when it lands (stateful operators drop older rows)
    val q = funnel(
        input.toDS().withWatermark("ts", "1 hour"), quietMs = 30 * 60 * 1000)
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode(OutputMode.Append).start()
    // user 1: click arrives BEFORE any view; the straggler view@09:00
    // lands a batch later and retroactively validates it -> stage 3.
    // user 2: view then purchase but no click -> stage 1.
    // user 3: purchase only -> stage 0.
    input.addData(
      Event(1L, "click", ts("2024-01-01 09:30:00")),
      Event(1L, "purchase", ts("2024-01-01 09:45:00")),
      Event(2L, "view", ts("2024-01-01 09:10:00")),
      Event(2L, "purchase", ts("2024-01-01 09:20:00")),
      Event(3L, "purchase", ts("2024-01-01 09:15:00")))
    q.processAllAvailable()
    input.addData(Event(1L, "view", ts("2024-01-01 09:00:00"))) // straggler
    q.processAllAvailable()
    input.addData(Event(9L, "view", ts("2024-01-01 14:00:00"))) // watermark on
    q.processAllAvailable()
    input.addData(Event(9L, "view", ts("2024-01-01 15:00:00"))) // trigger timeouts
    q.processAllAvailable()
    val stages = spark.table("funnel_out").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    q.stop()
    assert(stages(1L) === 3)
    assert(stages(2L) === 1)
    assert(stages(3L) === 0)
    // cross-check against the batch operator's semantics on the same events
    assert(resolveStage(FunnelState(ts("2024-01-01 09:00:00").getTime,
      Vector(ts("2024-01-01 09:30:00").getTime),
      Vector(ts("2024-01-01 09:45:00").getTime), 0L)) === 3)
  }

  test("stream-stream interval join attributes clicks in the window only") {
    val purchases = MemoryStream[(Long, Long, Timestamp)](spark)
    val clicks = MemoryStream[(Long, Timestamp, Double)](spark)
    val q = Streams.attributionJoin(
        purchases.toDF().toDF("event_id", "user_id", "ts"),
        clicks.toDF().toDF("user_id", "ts", "value"),
        window = "30 minutes")
      .writeStream.format("memory").queryName("attrib_out")
      .outputMode(OutputMode.Append).start()
    clicks.addData(
      (1L, ts("2024-01-01 09:20:00"), 1.0), // too early, outside window
      (1L, ts("2024-01-01 10:00:00"), 2.0), // boundary: included (>=)
      (1L, ts("2024-01-01 10:20:00"), 3.0), // inside
      (2L, ts("2024-01-01 10:25:00"), 9.0)) // other user
    purchases.addData((100L, 1L, ts("2024-01-01 10:30:00")))
    q.processAllAvailable()
    val rows = spark.table("attrib_out")
      .select($"event_id", $"value").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    q.stop()
    assert(rows === Set((100L, 2.0), (100L, 3.0)))
  }

  test("streaming dedup drops duplicate event ids within the watermark") {
    val input = MemoryStream[(Long, Timestamp, Double)](spark)
    val events = input.toDF().toDF("event_id", "ts", "value")
    val q = Streams.dedupEvents(events, lateness = "10 minutes")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append).start()
    input.addData(
      (1L, ts("2024-01-01 10:00:00"), 1.0),
      (1L, ts("2024-01-01 10:00:30"), 1.0), // dup id
      (2L, ts("2024-01-01 10:01:00"), 2.0))
    q.processAllAvailable()
    input.addData((1L, ts("2024-01-01 10:02:00"), 9.0)) // still within watermark
    q.processAllAvailable()
    val ids = spark.table("dedup_out").select($"event_id")
      .collect().map(_.getLong(0)).toSeq.sorted
    q.stop()
    assert(ids === Seq(1L, 2L))
  }

  test("labelSuspectGate: streamed flags equal batch labelSuspects exactly") {
    val cents = graft.operators.Similarity.labelCentroids(spark, sf)
    val vecs = graft.Tables(spark, sf, "embeddings")
      .select($"vec_id", $"embedding", $"label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1), r.getInt(2)))
    val input = MemoryStream[(Long, Seq[Float], Int)](spark)
    val q = Streams.labelSuspectGate(
        input.toDF().toDF("vec_id", "embedding", "label"), cents)
      .writeStream.format("memory").queryName("suspect_gate_out")
      .outputMode(OutputMode.Append).start()
    input.addData(vecs.take(vecs.length / 2))
    q.processAllAvailable()
    input.addData(vecs.drop(vecs.length / 2))
    q.processAllAvailable()
    val streamed = spark.table("suspect_gate_out").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).sortBy(_._1)
    q.stop()
    val batch = graft.operators.Similarity.labelSuspects(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(streamed.toSeq === batch)
    assert(batch.nonEmpty && batch.length < vecs.length)
  }

  test("ivmAggSink: the maintained moment view equals a full recompute " +
       "after delete-bearing deltas; zeroed groups vanish; stale ids skip") {
    val dir = java.nio.file.Files.createTempDirectory("ivm-view").toString
    val rows = graft.Tables(spark, sf, "orders")
      .select($"o_orderkey", $"o_custkey",
        round($"o_totalprice" * 100).cast("long"),
        graft.operators.TextOps.hashBucket($"o_orderkey", "ivm:"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val base = rows.filter(_._4 < 90)
    val input = MemoryStream[(Long, Long, Int)](spark)
    val q = Streams.ivmAggSink(
      input.toDF().toDF("key", "cents", "sign"), dir).start()
    // batch 0: the initial load is itself just inserts (plus one
    // synthetic group the next delta will fully drain)
    input.addData(base.map(t => (t._2, t._3, 1)).toSeq :+ (-1L, 42L, 1))
    q.processAllAvailable()
    assert(Streams.readCdcSnapshot(spark, dir)
      .filter($"key" === -1L).count() === 1L)
    // batch 1: deletes + re-priced re-inserts + arriving rows — the
    // ivmAggApply delta, expressed as signed rows
    input.addData(
      base.filter(_._4 >= 80).map(t => (t._2, t._3, -1)).toSeq ++
      base.filter(t => t._4 >= 80 && t._4 < 85)
        .map(t => (t._2, t._3 + 1000L, 1)) ++
      rows.filter(_._4 >= 90).map(t => (t._2, t._3, 1)) :+ (-1L, 42L, -1))
    q.processAllAvailable()
    q.stop()
    val view = Streams.readCdcSnapshot(spark, dir).collect().map(r =>
      r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        BigInt(r.getDecimal(3).toBigInteger)))).toMap
    val post = base.filter(_._4 < 80).map(t => (t._2, t._3)) ++
      base.filter(t => t._4 >= 80 && t._4 < 85)
        .map(t => (t._2, t._3 + 1000L)) ++
      rows.filter(_._4 >= 90).map(t => (t._2, t._3))
    val expected = post.groupBy(_._1).map { case (k, v) =>
      k -> ((v.length.toLong, v.map(_._2).sum,
        v.map(x => BigInt(x._2) * x._2).sum)) }
    assert(view === expected)
    // the drained group is GONE, not lingering at n = 0
    assert(!view.contains(-1L), "zeroed group still present in the view")
    // a redelivered batch id <= committed must be skipped whole
    val replay = MemoryStream[(Long, Long, Int)](spark)
    val q2 = Streams.ivmAggSink(
      replay.toDF().toDF("key", "cents", "sign"), dir).start()
    replay.addData((1L, 999L, 1))
    q2.processAllAvailable()
    q2.stop()
    val after = Streams.readCdcSnapshot(spark, dir).collect().map(r =>
      r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        BigInt(r.getDecimal(3).toBigInteger)))).toMap
    assert(after === view, "stale batch mutated the committed view")
  }

  test("clusterMaintenanceSink: the view after every prefix of pair " +
       "batches equals batch CC over the pairs seen so far") {
    val dir = java.nio.file.Files.createTempDirectory("cc-view").toString
    val allPairs = graft.operators.Dedup.minhashLshPairs(spark, sf)
      .as[(Long, Long)].collect().toSeq
    assert(allPairs.nonEmpty)
    val input = MemoryStream[(Long, Long)](spark)
    val q = Streams.clusterMaintenanceSink(
      input.toDF().toDF("doc_a", "doc_b"), dir).start()
    val chunks = allPairs.grouped(math.max(allPairs.length / 3, 1)).toSeq
    var seen = Seq.empty[(Long, Long)]
    chunks.foreach { g =>
      input.addData(g); q.processAllAvailable()
      seen = seen ++ g
      val view = Streams.readCdcSnapshot(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val batchCc = graft.operators.Dedup.dedupClusters(
          seen.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(view === batchCc,
        s"view diverged from batch CC after ${seen.length} pairs")
    }
    // a delta whose pairs are all intra-cluster must be a no-op
    input.addData(Seq(allPairs.head)); q.processAllAvailable()
    q.stop()
    val after = Streams.readCdcSnapshot(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = graft.operators.Dedup.dedupClusters(
        allPairs.toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after === full)
    // a redelivered batch id <= committed (fresh query, batch id 0) must
    // be skipped whole — a pair that would add a doc leaves the view as is
    val replay = MemoryStream[(Long, Long)](spark)
    val q2 = Streams.clusterMaintenanceSink(
      replay.toDF().toDF("doc_a", "doc_b"), dir).start()
    replay.addData((allPairs.head._1, 1000000000L))
    q2.processAllAvailable()
    q2.stop()
    val replayed = Streams.readCdcSnapshot(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(replayed === after, "stale batch mutated the committed view")
  }

  test("cdcApplySink folds change batches into a snapshot; stale ids skip") {
    val dst = java.nio.file.Files.createTempDirectory("cdc-snap").toString
    val input = MemoryStream[(Long, String, String)](spark)
    val q = Streams.cdcApplySink(
      input.toDF().toDF("doc_id", "status", "fp"), dst).start()
    input.addData((1L, "added", "a"), (2L, "added", "b"), (3L, "added", "c"))
    q.processAllAvailable()
    input.addData((2L, "modified", "b2"), (3L, "removed", null),
      (4L, "added", "d"))
    q.processAllAvailable()
    q.stop()
    val snap = Streams.readCdcSnapshot(spark, dst).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(snap === Set((1L, "a"), (2L, "b2"), (4L, "d")))
    // a redelivered/stale micro-batch (fresh query, batch id 0 <= the
    // committed id 1) must be skipped whole — the snapshot is unchanged
    val replay = MemoryStream[(Long, String, String)](spark)
    val q2 = Streams.cdcApplySink(
      replay.toDF().toDF("doc_id", "status", "fp"), dst).start()
    replay.addData((1L, "removed", null), (9L, "added", "x"))
    q2.processAllAvailable()
    q2.stop()
    val after = Streams.readCdcSnapshot(spark, dst).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(after === snap, "stale batch mutated the committed snapshot")
  }

  test("idempotent merge sink survives batch replay without duplicates") {
    val target = java.nio.file.Files.createTempDirectory("merge_out").toString + "/t"
    val input = MemoryStream[(Long, Timestamp, Double)](spark)
    val stream = input.toDF().toDF("event_id", "ts", "value")
    val q = Streams.idempotentMergeSink(stream, target, "event_id")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("merge_ckpt").toString)
      .start()
    input.addData((1L, ts("2024-01-01 10:00:00"), 1.0),
      (2L, ts("2024-01-01 10:01:00"), 2.0))
    q.processAllAvailable()
    // simulate at-least-once replay: same key again, an intra-batch
    // duplicate pair, and one new key
    input.addData((1L, ts("2024-01-01 10:00:00"), 1.0),
      (3L, ts("2024-01-01 10:02:00"), 3.0),
      (3L, ts("2024-01-01 10:02:00"), 3.0))
    q.processAllAvailable()
    q.stop()
    val ids = spark.read.parquet(target).select($"event_id")
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(ids === Seq(1L, 2L, 3L)) // replayed key 1 not duplicated
  }

  test("checkpoint recovery: restarted query resumes without loss or duplication") {
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("ckpt_out").toString
    val input = MemoryStream[(Long, Timestamp, Double)](spark)
    def startQuery() = input.toDF().toDF("event_id", "ts", "value")
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).start()

    val q1 = startQuery()
    input.addData((1L, ts("2024-01-01 10:00:00"), 1.0),
      (2L, ts("2024-01-01 10:01:00"), 2.0))
    q1.processAllAvailable()
    q1.stop()

    val q2 = startQuery() // same source + checkpoint: resumes past batch 0
    input.addData((3L, ts("2024-01-01 10:02:00"), 3.0))
    q2.processAllAvailable()
    q2.stop()

    val ids = spark.read.parquet(outDir).select($"event_id")
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(ids === Seq(1L, 2L, 3L)) // no loss, no duplication
  }

  test("replay pacing: sleeps event-time deltas minus elapsed wall time") {
    var clock = 1000L
    val sleeps = collection.mutable.Buffer[Long]()
    val emitted = collection.mutable.Buffer[String]()
    val records = Iterator(
      (ts("2024-01-01 10:00:00"), "a"),
      (ts("2024-01-01 10:00:02"), "b"), // 2s after a
      (ts("2024-01-01 10:00:02"), "c"), // same ts -> immediate
      (ts("2024-01-01 10:00:05"), "d")) // 3s later
    Replay.replay[String](records,
      r => emitted += r._2,
      speedup = 1.0,
      nowMs = () => clock,
      sleep = d => { sleeps += d; clock += d })
    assert(emitted.toSeq === Seq("a", "b", "c", "d"))
    assert(sleeps.toSeq === Seq(2000L, 3000L)) // no sleep for same-ts pair
  }

  test("replay speedup divides the waits") {
    var clock = 0L
    val sleeps = collection.mutable.Buffer[Long]()
    Replay.replay[String](
      Iterator((ts("2024-01-01 10:00:00"), "a"), (ts("2024-01-01 10:00:10"), "b")),
      _ => (), speedup = 5.0, nowMs = () => clock,
      sleep = d => { sleeps += d; clock += d })
    assert(sleeps.toSeq === Seq(2000L))
  }

  test("streaming top items: sketch state merges exactly across micro-batches") {
    val input = MemoryStream[(String, String)](spark)
    val q = Streams.streamingTopItems(input.toDS(), capacity = 100, k = 2)
      .toDF("grp", "top")
      .writeStream.format("memory").queryName("topitems_out")
      .outputMode(OutputMode.Complete).start()
    input.addData(("en", "the"), ("en", "the"), ("en", "of"), ("de", "der"))
    q.processAllAvailable()
    input.addData(("en", "of"), ("en", "of"), ("de", "der"), ("de", "und"))
    q.processAllAvailable()
    val rows = spark.table("topitems_out")
      .selectExpr("grp", "top[0]._1", "top[0]._2", "top[1]._1", "top[1]._2")
      .collect().map(r =>
        r.getString(0) -> Seq(r.getString(1) -> r.getLong(2), r.getString(3) -> r.getLong(4)))
      .toMap
    q.stop()
    // capacity >> cardinality: the sketch is exact across both batches
    assert(rows("en") === Seq("of" -> 3L, "the" -> 2L))
    assert(rows("de") === Seq("der" -> 2L, "und" -> 1L))
  }

  test("stateful transitions: straggler rewrites adjacency, matches batch order") {
    import StatefulTransitions._
    val input = MemoryStream[Event](spark)
    val q = transitions(
        input.toDS().withWatermark("ts", "1 hour"), quietMs = 30 * 60 * 1000)
      .writeStream.format("memory").queryName("trans_out")
      .outputMode(OutputMode.Append).start()
    // user 1 sees view@9:00 then purchase@9:40; the straggler click@9:20
    // lands a batch later and must SPLIT view->purchase into
    // view->click + click->purchase — nothing emitted before finality
    input.addData(
      Event(1L, "view", ts("2024-01-01 09:00:00"), 1L),
      Event(1L, "purchase", ts("2024-01-01 09:40:00"), 2L),
      Event(2L, "view", ts("2024-01-01 09:10:00"), 3L),
      Event(2L, "view", ts("2024-01-01 09:12:00"), 4L))
    q.processAllAvailable()
    input.addData(Event(1L, "click", ts("2024-01-01 09:20:00"), 5L)) // straggler
    q.processAllAvailable()
    input.addData(Event(9L, "view", ts("2024-01-01 14:00:00"), 6L)) // move watermark
    q.processAllAvailable()
    input.addData(Event(9L, "view", ts("2024-01-01 15:00:00"), 7L)) // fire timeouts
    q.processAllAvailable()
    val rows = spark.table("trans_out").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    q.stop()
    assert(rows === Set(
      (1L, "view", "click", 1L),
      (1L, "click", "purchase", 1L),
      (2L, "view", "view", 1L)))
    // resolve() alone: same-timestamp ties fall back to event_id order,
    // exactly like the batch operator's (ts, event_id) window key
    val tied = resolve(5L, Vector(
      Ev(1000L, 2L, "b"), Ev(1000L, 1L, "a"), Ev(2000L, 3L, "c"))).toSet
    assert(tied === Set(
      Transition(5L, "a", "b", 1L), Transition(5L, "b", "c", 1L)))
  }

  test("conformalGate: streamed coverage on the test split reproduces the " +
       "batch calibration's n_covered exactly") {
    val calib = graft.operators.TextOps.conformalCalibration(spark, sf)
      .collect()(0)
    val aU = calib.getAs[Long]("a_u")
    val bU = calib.getAs[Long]("b_u")
    val qHat = calib.getAs[Long]("q_hat")
    val testDocs = graft.Tables(spark, sf, "documents")
      .withColumn("bucket", graft.operators.TextOps.hashBucketMod(
        $"doc_id", "split:", 100L))
      .filter($"bucket" >= 90)
      .select($"doc_id", $"text", $"n_chars")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val input = MemoryStream[(Long, String, Long)](spark)
    val q = Streams.conformalGate(
        input.toDF().toDF("doc_id", "text", "n_chars"), aU, bU, qHat)
      .writeStream.format("memory").queryName("conf_out")
      .outputMode(OutputMode.Append).start()
    testDocs.grouped(math.max(testDocs.length / 3, 1)).foreach { g =>
      input.addData(g); q.processAllAvailable()
    }
    val streamed = spark.table("conf_out")
      .collect().map(r => r.getAs[Long]("doc_id")
        -> r.getAs[Boolean]("covered")).toMap
    q.stop()
    // per-doc decisions are the batch decisions: covered count matches
    // the calibration row, and a batch replay of the same stateless gate
    // agrees doc by doc
    assert(streamed.size === calib.getAs[Long]("n_test").toInt)
    assert(streamed.values.count(identity).toLong ===
      calib.getAs[Long]("n_covered"))
    val batch = Streams.conformalGate(
        testDocs.toDF("doc_id", "text", "n_chars"), aU, bU, qHat)
      .collect().map(r => r.getAs[Long]("doc_id")
        -> r.getAs[Boolean]("covered")).toMap
    assert(streamed === batch)
  }

  test("Kafka endpoint config validates at construction, not mid-job") {
    // valid shapes pass
    Streams.KafkaEndpoint("broker1:9092", "gtfs-arrivals")
    Streams.KafkaEndpoint("b1:9092,b2:9093", "t", "earliest")
    Streams.KafkaEndpoint("b1:9092", "t", """{"t":{"0":23}}""")
    // the classic misconfigurations fail fast with a named option
    val bads = Seq(
      () => Streams.KafkaEndpoint("", "t"),
      () => Streams.KafkaEndpoint("broker-no-port", "t"),
      () => Streams.KafkaEndpoint("b:港", "t"), // non-numeric port
      () => Streams.KafkaEndpoint("b:9092", ""),
      () => Streams.KafkaEndpoint("b:9092", "has space"),
      () => Streams.KafkaEndpoint("b:9092", "t", "sometimes"))
    bads.foreach(b => intercept[IllegalArgumentException](b()))
  }

  test("Kafka source/sink fail with the classpath remedy when the connector is absent") {
    // this container ships no spark-sql-kafka jar: the probe must say so,
    // and the bindings must name the fix instead of failing provider
    // lookup deep inside Spark
    assert(!Streams.kafkaConnectorAvailable)
    val ep = Streams.KafkaEndpoint("broker:9092", "gtfs-arrivals")
    val e = intercept[IllegalStateException](Streams.kafkaSource(spark, ep))
    assert(e.getMessage.contains("spark-sql-kafka"))
    val df = Seq(("k", "v")).toDF("key", "value")
    val e2 = intercept[IllegalStateException](Streams.kafkaSink(df, ep, "/tmp/ck"))
    assert(e2.getMessage.contains("--packages"))
  }
}
