package graft.operators

import graft.{Sessions, Tables}
import graft.functions.text
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication suite for the LLM-data-pipeline surface: exact (hash
  * groupBy), n-gram Jaccard with blocking, MinHash+LSH, SimHash.
  *
  * Compute-bound stages (md5/xxhash per token) fan out with an explicit
  * partition count before the heavy work: AQE right-sizes partitions by
  * BYTES, and a few MB of tokens that cost seconds of hashing would
  * otherwise coalesce into one task. Scattering the token stream is
  * orders of magnitude cheaper than serializing the hash loop.
  *
  * Scale posture: every variant is shuffle-bounded by a *blocking key*
  * (content hash, (lang,n_chars) block, LSH band bucket, simhash band),
  * never an unblocked cross join — at 100 TB the candidate-pair space is
  * what kills you, so all pair generation happens inside hash buckets.
  */
object Dedup {

  /** Pinned-width repartition by key (AQE coalesces unpinned exchanges
    * by byte size, which under-parallelizes compute-heavy stages).
    */
  private def fanOut(df: DataFrame, key: String): DataFrame =
    df.repartition(df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
      col(key))

  /** Exact dedup: group by content hash, keep smallest doc_id.
    * At scale: a single hash-shuffle; the md5 key also serves as the
    * idempotent-append PK (reference K1 ON CONFLICT DO NOTHING).
    */
  def exact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir, "documents")
      .groupBy(md5($"text").as("content_hash"))
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy($"content_hash")
  }

  /** Token-set Jaccard similarity over candidate pairs blocked on
    * (lang, n_chars). Blocking keeps pairs ~linear in corpus size; the
    * unblocked alternative is quadratic and forbidden at scale.
    */
  def ngramJaccardPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = Tables(s, dir, "documents")
      .select($"doc_id", $"lang", $"n_chars", text.distinctTokens($"text").as("toks"))
    val a = d.alias("a")
    val b = d.alias("b")
    a.join(b,
        col("a.lang") === col("b.lang") &&
          col("a.n_chars") === col("b.n_chars") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        round(
          size(array_intersect(col("a.toks"), col("b.toks"))).cast("double") /
            size(array_union(col("a.toks"), col("b.toks"))),
          4).as("jaccard"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** Sorted-neighborhood blocking — the classic record-linkage
    * alternative to LSH banding (Hernández–Stolfo): sort the corpus by
    * a normalized blocking key (lowercased alphanumeric text prefix)
    * and emit every pair within `window` ranks, verified with exact
    * token-set Jaccard in integer ppm. Where MinHash banding recalls
    * pairs that SHARE SHINGLES anywhere, the sorted neighborhood
    * catches prefix-anchored families (boilerplate headers, templated
    * pages) at O(window·n) candidates — a complementary blocking pass
    * a linkage audit runs next to [[ngramJaccardPairs]]'s attribute
    * blocking and [[minhashLshPairs]]'s banding.
    *
    * The global sort rank comes from [[Relational.globalRowNumber]]
    * (range-partition + per-partition rank + numParts-row offset
    * broadcast — never a single-task corpus sort), and the neighbor
    * join is an EQUI-join on rank+gap (explode of 1..window), so the
    * whole operator is two bounded shuffles at any corpus size.
    */
  def sortedNeighborhoodPairs(s: SparkSession, dir: String,
                              window: Int = 3): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir, "documents")
      .select($"doc_id",
        substring(regexp_replace(lower($"text"), "[^a-z0-9]", ""), 1, 24)
          .as("bk"),
        text.distinctTokens($"text").as("toks"))
    val ranked = Relational
      .globalRowNumber(docs, Seq(col("bk"), col("doc_id")))
      .localCheckpoint() // both sides of the rank-gap join read it
    val a = ranked.select($"doc_id".as("doc_a"), $"toks".as("toks_a"), $"rk",
        explode(sequence(lit(1L), lit(window.toLong))).as("rank_gap"))
      .withColumn("rk_b", $"rk" + $"rank_gap")
    val b = ranked.select($"doc_id".as("doc_b"), $"toks".as("toks_b"),
      $"rk".as("rk_b"))
    a.join(b, "rk_b")
      .select($"doc_a", $"doc_b", $"rank_gap",
        expr("CAST(CAST(size(array_intersect(toks_a, toks_b)) AS BIGINT)" +
          " * 1000000 div nullif(CAST(size(array_union(toks_a, toks_b))" +
          " AS BIGINT), 0) AS BIGINT)").as("jaccard_ppm"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** LSH parameter planner — turns the banding S-curve into a decision:
    * for every (bands b, rows r) factorization of the `numHashes` budget,
    * the EXPECTED false-positive and false-negative candidate mass
    * against the corpus's own observed pair-similarity distribution
    * (the blocked [[ngramJaccardPairs]] frame), using the exact
    * P(collide | s) = 1 − (1 − s^r)^b. Powers are literal
    * multiplication chains (identical IEEE shape in the oracle — no
    * libm pow), contributions round to 1e-6 per pair then sum as longs
    * (order-free). The chosen row is the cost argmin — the number an
    * engine should feed its own banding defaults from, per corpus,
    * instead of hardcoding (b, r). Scale: one pair-frame scan per
    * config over the checkpointed sims, all |configs|-bounded after.
    */
  def lshPlanner(s: SparkSession, dir: String, numHashes: Int = 12,
                 thresholdMilli: Long = 700L): DataFrame = {
    import s.implicits._
    val sims = ngramJaccardPairs(s, dir)
      .select(round($"jaccard" * 1000).cast("long").as("s_milli"))
      .localCheckpoint() // one scan per (b, r) config
    lshPlannerFromSims(sims, numHashes, thresholdMilli)
  }

  /** Planner core over an explicit pair-similarity frame (one
    * `s_milli` column) — split out so specs can drive the decision
    * with a constructed distribution and so [[plannedLshPairs]] shares
    * the exact argmin the standalone planner reports.
    */
  private[graft] def lshPlannerFromSims(sims: DataFrame, numHashes: Int,
                                        thresholdMilli: Long): DataFrame = {
    val s = sims.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val configs = (1 to numHashes).filter(numHashes % _ == 0)
      .map(r => (numHashes / r, r))
    val perConfig = configs.map { case (b, r) =>
      val sD = $"s_milli".cast("double") / 1000.0
      val sr = (1 to r).map(_ => sD).reduce(_ * _)
      val om = lit(1.0) - sr
      val omb = (1 to b).map(_ => om).reduce(_ * _)
      val pc = lit(1.0) - omb
      sims.agg(
        count(lit(1)).as("n_pairs"),
        sum(when($"s_milli" < thresholdMilli,
          round(pc * 1000000.0).cast("long")).otherwise(0L)).as("fp_mass_u"),
        sum(when($"s_milli" >= thresholdMilli,
          round((lit(1.0) - pc) * 1000000.0).cast("long")).otherwise(0L))
          .as("fn_mass_u"))
        .select(lit(b).as("b"), lit(r).as("r"), $"n_pairs",
          $"fp_mass_u", $"fn_mass_u",
          ($"fp_mass_u" + $"fn_mass_u").as("cost_u"))
    }
    val byCost = Window.orderBy($"cost_u", $"b")
    perConfig.reduce(_ unionAll _)
      .withColumn("rank", row_number().over(byCost).cast("long"))
      .withColumn("chosen", $"rank" === 1L)
      .orderBy($"b")
  }

  /** Hub-removal robustness of the near-dup graph — targeted
    * percolation: recount connected components after deleting the
    * `topK` highest-degree documents (degree-desc, doc_id tie-break).
    * If the giant component shatters, the corpus's apparent duplication
    * structure hangs on a few template/boilerplate hubs — remove THOSE
    * documents and the dedup clusters dissolve, which changes both the
    * dedup rate a crawl report quotes and which canonical survivors a
    * release keeps. A graph whose largest component barely shrinks has
    * genuine pairwise duplication instead. Both CC passes ride
    * [[dedupClusters]]' pointer-jump loop; the hub cut is a bounded
    * TakeOrdered; everything after is component-rollup-sized.
    */
  def nearDupRobustness(s: SparkSession, dir: String,
                        topK: Int = 5): DataFrame = {
    import s.implicits._
    val pairs = minhashLshPairs(s, dir).select($"doc_a", $"doc_b")
      .localCheckpoint() // degree cut, both CC passes, edge counts
    val edges = pairs.unionAll(
      pairs.select($"doc_b".as("doc_a"), $"doc_a".as("doc_b")))
    val hubs = edges.groupBy($"doc_a".as("doc_id"))
      .agg(count(lit(1)).as("d"))
      .orderBy($"d".desc, $"doc_id").limit(topK)
      .localCheckpoint() // both anti-join sides read it
    val pruned = pairs
      .join(hubs.select($"doc_id".as("doc_a")), Seq("doc_a"), "left_anti")
      .join(hubs.select($"doc_id".as("doc_b")), Seq("doc_b"), "left_anti")
      .localCheckpoint() // CC pass + edge count read it
    def ccStats(p: DataFrame, tag: String): DataFrame = {
      val sizes =
        if (p.isEmpty) Seq.empty[(Long, Long)].toDF("canon_id", "sz")
        else dedupClusters(p).groupBy($"canon_id")
          .agg(count(lit(1)).as("sz"))
      sizes.agg(count(lit(1)).as(s"n_cc_$tag"),
        coalesce(max($"sz"), lit(0L)).as(s"max_cc_$tag"),
        coalesce(sum($"sz"), lit(0L)).as(s"n_docs_$tag"))
    }
    ccStats(pairs, "before")
      .crossJoin(ccStats(pruned, "after"))
      .crossJoin(pairs.agg(count(lit(1)).as("n_edges_before")))
      .crossJoin(pruned.agg(count(lit(1)).as("n_edges_after")))
      .select($"n_edges_before", $"n_docs_before", $"n_cc_before",
        $"max_cc_before", $"n_edges_after", $"n_docs_after",
        $"n_cc_after", $"max_cc_after",
        expr("""CASE WHEN max_cc_before > 0
          THEN (max_cc_before - max_cc_after) * 10000 div max_cc_before
          END""").as("largest_cc_drop_bp"))
  }

  /** MinHash signature matrix: md5-keyed min-hash per (doc, seed).
    * md5 (not xxhash64) so an external SQL oracle can reproduce it bit
    * for bit. numHashes seeds, lexicographic min of md5(seed ":" shingle).
    *
    * Shape: shingles explode once (never seeds — that would multiply the
    * shuffle by numHashes); all seed-mins ride one map-side-combined
    * groupBy as parallel agg columns, then unpivot to (doc, seed, mh).
    */
  /** Wide signature frame: one row per doc, numHashes min-hash columns
    * mh0..mhN — the single-shuffle core both the signature matrix and the
    * LSH banding read from.
    */
  /** Word-shingle stream (doc_id, sh) via posexplode + window lead:
    * every operator stays inside whole-stage codegen (an array-slicing
    * lambda would run interpreted and re-evaluate per element). The
    * window's hash partitioning on doc_id is exactly what a downstream
    * per-doc groupBy needs, so the pipeline shuffles the token stream
    * once.
    */
  private[graft] def shingleStream(docs: DataFrame, shingleSize: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val toks = fanOut(docs, "doc_id").select(col("doc_id"),
      posexplode(text.tokensLower(col("text"))).as(Seq("pos", "tok")))
    val shingleCols = Seq(col("doc_id"), col("tok")) ++ (1 until shingleSize).map(k =>
      lead(col("tok"), k).over(w).as(s"t$k"))
    toks
      .select(shingleCols: _*)
      .filter(col(s"t${shingleSize - 1}").isNotNull) // tail positions: no full shingle
      .select(col("doc_id"), concat_ws(" ",
        (col("tok") +: (1 until shingleSize).map(k => col(s"t$k"))): _*).as("sh"))
  }

  // Kept as explode + window + map-side-combined groupBy DELIBERATELY:
  // the zero-shuffle in-row alternative (12 × array_min(transform(sh,
  // md5…)), the scheme StatefulDedup.bandArray uses where streaming
  // statelessness demands it) measured 5-8× SLOWER here at sf0.1 —
  // higher-order-function lambdas run interpreted and the 12 seed
  // transforms get no common-subexpression elimination, while this
  // pipeline keeps every md5 inside whole-stage codegen and the shuffle
  // carries only the doc-partitioned token stream once.
  private[graft] def minhashMins(docs: DataFrame, shingleSize: Int,
                                 numHashes: Int): DataFrame = {
    val minCols = (0 until numHashes).map(i =>
      min(md5(concat(lit(s"$i:"), col("sh")))).as(s"mh$i"))
    shingleStream(docs, shingleSize)
      .groupBy(col("doc_id")).agg(minCols.head, minCols.tail: _*)
  }

  private[graft] def minhashSignatures(docs: DataFrame, shingleSize: Int,
                                       numHashes: Int): DataFrame =
    minhashMins(docs, shingleSize, numHashes)
      .select(col("doc_id"),
        posexplode(array((0 until numHashes).map(i => col(s"mh$i")): _*)))
      .withColumnRenamed("pos", "seed").withColumnRenamed("col", "mh")

  /** MinHash + LSH candidate pairs: band the signature (rowsPerBand
    * hashes per band), bucket-join on (band, band-signature). Docs
    * agreeing on any full band become a candidate pair — the classic
    * probability amplification; only bucket-mates are ever paired.
    */
  /** LSH candidate pairs from a wide mins frame. Band signatures are
    * concatenated straight off the wide columns — the zero-padded seed
    * prefixes make seed order = lexicographic order, so this equals
    * sorting "ss:md5" strings (and the SQL oracle's string_agg ORDER BY)
    * without another shuffle.
    */
  /** (doc_id, band, sig) band signatures off a wide mins frame — the
    * LSH bucket keys both the self-join pair generator and the
    * incremental batch-vs-index probe bucket on.
    */
  private def bandSignatures(mins: DataFrame, numHashes: Int,
                             rowsPerBand: Int): DataFrame = {
    val nBands = numHashes / rowsPerBand
    val bandStructs = (0 until nBands).map { b =>
      val sig = concat_ws(",", (0 until rowsPerBand).map { r =>
        val seed = b * rowsPerBand + r
        concat(lit(f"$seed%02d:"), col(s"mh$seed"))
      }: _*)
      struct(lit(b).as("band"), sig.as("sig"))
    }
    mins
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  private def lshPairsFromMins(mins: DataFrame, numHashes: Int,
                               rowsPerBand: Int): DataFrame = {
    val bands = bandSignatures(mins, numHashes, rowsPerBand)
    val a = bands.alias("a")
    val b = bands.alias("b")
    a.join(b,
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  def minhashLshPairs(s: SparkSession, dir: String,
                      shingleSize: Int = 3, numHashes: Int = 12,
                      rowsPerBand: Int = 3): DataFrame = {
    import s.implicits._
    val mins = minhashMins(Tables(s, dir, "documents"), shingleSize, numHashes)
    lshPairsFromMins(mins, numHashes, rowsPerBand).orderBy($"doc_a", $"doc_b")
  }

  /** Planner-driven LSH pairs — [[lshPlanner]]'s cost-argmin (b, r)
    * actually feeding the banding, instead of the hardcoded (4, 3)
    * default: run the planner against the corpus's own pair-similarity
    * distribution, take the chosen factorization of the `numHashes`
    * budget, band with it. The decision frame is |divisors(numHashes)|
    * rows, so the argmin collect is a bounded driver fold, not a data
    * scan; pair generation itself is the same single-shuffle banding
    * as [[minhashLshPairs]]. Output carries the chosen (b, r) so a
    * release manifest records WHICH scheme produced the candidate set.
    */
  def plannedLshPairs(s: SparkSession, dir: String, shingleSize: Int = 3,
                      numHashes: Int = 12,
                      thresholdMilli: Long = 700L): DataFrame = {
    import s.implicits._
    val pick = lshPlanner(s, dir, numHashes, thresholdMilli)
      .filter($"chosen").select($"b", $"r").head()
    val (b, r) = (pick.getInt(0), pick.getInt(1))
    minhashLshPairs(s, dir, shingleSize, numHashes, rowsPerBand = r)
      .select($"doc_a", $"doc_b", lit(b).as("b"), lit(r).as("r"))
  }

  /** Edit-distance-verified near-dup: the MinHash-LSH candidate set
    * re-scored by LEVENSHTEIN similarity — the character-level verify a
    * clone/plagiarism screen wants where token-set measures (Jaccard,
    * cosine) are blind to ordering and small in-word edits. Similarity
    * is integer basis points, 10000 − ⌊10000·lev/max(|a|,|b|)⌋, over a
    * fixed `cap`-character prefix.
    *
    * The cap is the scale guard, not a shortcut: Levenshtein is
    * O(|a|·|b|) PER PAIR, so an uncapped verify hands worst-case
    * quadratic-in-document-length work to whichever task holds the
    * longest candidate docs — a straggler generator at 100 TB. Capping
    * bounds every pair at O(cap²) regardless of document length; the
    * candidate set itself stays LSH-bounded, never corpus².
    */
  def editNearDupPairs(s: SparkSession, dir: String, cap: Int = 400,
                       minSimBp: Long = 7000L): DataFrame = {
    import s.implicits._
    val t = Tables(s, dir, "documents")
      .select($"doc_id", substring($"text", 1, cap).as("p"))
    // exact length prescreen before the O(cap²) DP: lev ≥ |len a − len b|,
    // so a pair whose length gap alone breaks the similarity bar never
    // runs the matrix — free pruning on loose candidate sets. (Spark's
    // threshold/banded levenshtein variant was tried at the 10x stress
    // size and measured SLOWER — 290s vs 190s round-1 — the (1−τ)·cap
    // band is 241 wide at these parameters, so it saves few cells and
    // pays heavier per-cell bookkeeping than the tight two-row DP.)
    minhashLshPairs(s, dir)
      .join(t.select($"doc_id".as("doc_a"), $"p".as("pa")), "doc_a")
      .join(t.select($"doc_id".as("doc_b"), $"p".as("pb")), "doc_b")
      .select($"doc_a", $"doc_b", $"pa", $"pb",
        length($"pa").cast("long").as("la"), length($"pb").cast("long").as("lb"))
      .withColumn("mx", greatest($"la", $"lb"))
      // lossless bound for ALL parameters: the retained condition is
      // floor(lev·10⁴/mx) ≤ 10⁴−minSimBp, i.e. lev·10⁴ < mx·(10⁴−minSimBp+1),
      // and lev ≥ |la−lb| — the tighter `≤ mx·(10⁴−minSimBp)` form only
      // coincided with it while cap kept every multiple of 10⁴ out of
      // the width-mx gap (safe for cap ≤ 1000, silently lossy past it)
      .filter($"mx" === 0 ||
        (abs($"la" - $"lb") * 10000) < ($"mx" * (10001L - minSimBp)))
      // exact-equal prefixes skip the DP entirely: identical copies are
      // the DOMINANT near-dup class in a real crawl (and the 10x clone
      // stress corpus), and paying O(cap²) to compute lev=0 per clone
      // pair turns the verify into the pipeline's straggler — the
      // equality probe is O(cap) and semantically identical
      .select($"doc_a", $"doc_b", $"mx",
        when($"pa" === $"pb", lit(0L))
          .otherwise(levenshtein($"pa", $"pb").cast("long")).as("lev"))
      .withColumn("sim_bp",
        when($"mx" === 0, lit(10000L))
          .otherwise(lit(10000L) - expr("(lev * 10000) div mx")))
      .filter($"sim_bp" >= minSimBp)
      .select($"doc_a", $"doc_b", $"lev", $"sim_bp")
      .orderBy($"doc_a", $"doc_b")
  }

  /** Incremental dedup probe: LSH candidates between a NEW ingest batch
    * and the already-indexed corpus — the query a daily pipeline actually
    * runs, as re-pairing the whole corpus per ingest is off the table at
    * 100 TB. The batch side computes minhash bands fresh (cost scales
    * with the BATCH, not the corpus); the index side is the STORED band
    * table — written once by [[writeBandIndex]] bucketed by (band, sig)
    * and read here via [[bandIndexFor]], so the probe join never
    * shuffles the index (the bucketed scan already carries the join's
    * partitioning). Index-internal pairs are by construction absent:
    * every candidate joins NEW × INDEX.
    */
  /** `broadcastBatch`: hint the batch side for broadcast. Right for the
    * genuine daily-batch case (a day's ingest vs a 100 TB index), WRONG
    * when the "batch" is a large corpus fraction — the hint overrides
    * Spark's size check, and a too-big build side OOMs the executors. The
    * default leaves the decision to AQE (which broadcasts small frames on
    * measured size), because the default batchPred selects 25% of the
    * corpus — small here, unbounded in general.
    */
  def incrementalLshPairs(s: SparkSession, dir: String,
                          batchPred: Column = col("doc_id") % 4 === 3,
                          shingleSize: Int = 3, numHashes: Int = 12,
                          rowsPerBand: Int = 3,
                          broadcastBatch: Boolean = false): DataFrame =
    incrementalLshPairs(s, dir,
      bandIndexFor(s, dir, batchPred, shingleSize, numHashes, rowsPerBand),
      batchPred, shingleSize, numHashes, rowsPerBand, broadcastBatch)

  /** Probe variant over an explicit index frame — normally the stored
    * bucketed band table from [[writeBandIndex]], read shuffle-free on
    * its (band, sig) bucketing. Batch membership is an id-bucket here
    * (synthetic stand-in — in production the batch is simply yesterday's
    * ingest partition). Per-doc minhash is independent of the rest of
    * the corpus, so side-restricted band frames equal the full band
    * table filtered — which is exactly what lets the index side be
    * precomputed.
    */
  def incrementalLshPairs(s: SparkSession, dir: String, index: DataFrame,
                          batchPred: Column, shingleSize: Int,
                          numHashes: Int, rowsPerBand: Int,
                          broadcastBatch: Boolean): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir, "documents")
    val batchBands = bandSignatures(
      minhashMins(docs.filter(batchPred), shingleSize, numHashes),
      numHashes, rowsPerBand)
    val batchSide = if (broadcastBatch) broadcast(batchBands) else batchBands
    batchSide.alias("n")
      .join(index.alias("i"),
        col("n.band") === col("i.band") && col("n.sig") === col("i.sig"))
      .select(col("n.doc_id").as("new_doc"), col("i.doc_id").as("index_doc"))
      .distinct()
      .orderBy($"new_doc", $"index_doc")
  }

  /** Persist the corpus-side LSH band table as a warehouse table
    * bucketed (and sorted) by the join key (band, sig) — the write-once
    * index build the incremental probe reads. Bucketing pre-partitions
    * the stored side on exactly the probe join's keys, so every
    * subsequent batch-vs-index join leaves the index unshuffled (the
    * daily batch, orders of magnitude smaller, is what moves).
    */
  def writeBandIndex(s: SparkSession, dir: String, table: String,
                     indexPred: Column, shingleSize: Int = 3,
                     numHashes: Int = 12, rowsPerBand: Int = 3,
                     nBuckets: Int = 8): Unit =
    bandSignatures(
      minhashMins(Tables(s, dir, "documents").filter(indexPred),
        shingleSize, numHashes),
      numHashes, rowsPerBand)
      .write.mode("overwrite")
      .bucketBy(nBuckets, "band", "sig").sortBy("band", "sig")
      .saveAsTable(table)

  /** Build-once memo for the stored band index: first use per (dir,
    * scheme) writes the bucketed table, later probes in the session (or
    * a later session over the same warehouse files) read it. The name
    * hashes dir + a corpus version stamp + scheme, so distinct corpora,
    * schemes, AND regenerations of the same path never collide — a
    * changed corpus simply keys a fresh build.
    */
  private[graft] def bandIndexFor(s: SparkSession, dir: String,
                                  batchPred: Column, shingleSize: Int,
                                  numHashes: Int, rowsPerBand: Int): DataFrame = {
    val key = Seq(dir, corpusStamp(s, dir, "documents"), batchPred.toString,
      shingleSize, numHashes, rowsPerBand).mkString("|")
    val table = "graft_lsh_index_" + java.security.MessageDigest
      .getInstance("MD5").digest(key.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)
    indexBuildLock.synchronized {
      if (!s.catalog.tableExists(table)) {
        dropStaleLocation(s, table)
        writeBandIndex(s, dir, table, !batchPred, shingleSize, numHashes,
          rowsPerBand)
      }
    }
    s.table(table)
  }

  private[graft] val indexBuildLock = new Object

  /** Cheap corpus version stamp (file length + mtime from one driver
    * metadata call): folded into memo keys so an index or tokenizer
    * built from a corpus that was since REGENERATED under the same path
    * can never be served stale — the memo key simply changes and the
    * artifact rebuilds.
    */
  private[graft] def corpusStamp(s: SparkSession, dir: String,
                                 table: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$table.parquet")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    s"${st.getLen}:${st.getModificationTime}"
  }

  /** A previous JVM's in-memory catalog dies with its session but the
    * warehouse files it wrote do not; saveAsTable then refuses the
    * orphaned location. The index is derived data — rebuilding over the
    * orphan is always safe.
    */
  private[graft] def dropStaleLocation(s: SparkSession, table: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** Sketch-accuracy audit: for every MinHash-LSH candidate pair, the
    * estimated Jaccard (fraction of agreeing minhash seeds — the
    * estimator the sketch exists to provide) next to the exact shingle
    * Jaccard. At scale the exact column is affordable precisely because
    * it is only computed for LSH candidates (linear), never all pairs —
    * which is the standard way to validate a sketch deployment on real
    * data. Pairs are broadcast to both per-doc joins; the wide mins
    * frame and shingle arrays are scan-side.
    */
  def minhashJaccardEst(s: SparkSession, dir: String,
                        shingleSize: Int = 3, numHashes: Int = 12,
                        rowsPerBand: Int = 3): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir, "documents")
    // the mins frame feeds three consumers (banding, A-side, B-side);
    // checkpoint it once or the shingle+min pipeline plans and runs
    // three times (measured 7.5s -> ~2s at sf0.1). Wide signatures are
    // a few hundred bytes per doc — cheap to materialize at any scale.
    val mins = minhashMins(docs, shingleSize, numHashes).localCheckpoint()
    val pairs = lshPairsFromMins(mins, numHashes, rowsPerBand)
    val minsA = mins.toDF("doc_a" +: (0 until numHashes).map(i => s"a$i"): _*)
    val minsB = mins.toDF("doc_b" +: (0 until numHashes).map(i => s"b$i"): _*)
    val agree = (0 until numHashes)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1).otherwise(0))
      .reduce(_ + _)
    // exact Jaccard over the exploded distinct-shingle stream — join
    // algebra (|A∩B| via equi-join, |A∪B| = nA + nB − inter), never
    // per-row shingle ARRAYS (array_intersect on lambda-built slices
    // runs interpreted and re-materializes per pair). Checkpointed: the
    // stream feeds the size aggregate and both pair joins.
    val sd = shingleStream(docs, shingleSize).distinct().localCheckpoint()
    val sizes = sd.groupBy($"doc_id").agg(count(lit(1)).as("n_sh"))
    val inter = pairs
      .join(sd.toDF("doc_a", "sh"), Seq("doc_a"))
      .join(sd.toDF("doc_b", "sh"), Seq("doc_b", "sh"))
      .groupBy($"doc_a", $"doc_b").agg(count(lit(1)).as("n_inter"))
    pairs
      .join(minsA, Seq("doc_a")).join(minsB, Seq("doc_b"))
      .select($"doc_a", $"doc_b",
        round(agree.cast("double") / numHashes, 4).as("est_jaccard"))
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .join(sizes.toDF("doc_a", "n_a"), Seq("doc_a"))
      .join(sizes.toDF("doc_b", "n_b"), Seq("doc_b"))
      .select($"doc_a", $"doc_b", $"est_jaccard",
        round(coalesce($"n_inter", lit(0L)).cast("double") /
          ($"n_a" + $"n_b" - coalesce($"n_inter", lit(0L))), 4).as("true_jaccard"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** Asymmetric containment over LSH candidates: `|A∩B| / |A|` and
    * `/ |B|` on distinct shingles. Jaccard misses near-subsets — a
    * document quoted wholesale inside a much larger one scores low
    * resemblance but containment ≈ 1 on the smaller side, which is the
    * signal a dedup pipeline needs to catch quotes/excerpts before
    * training. Scores are integer ten-thousandths (floor division), so
    * no float divide can straddle a rounding boundary between engines.
    * Same scale shape as [[minhashJaccardEst]]: LSH-bounded pair space,
    * intersection via the exploded-shingle equi-join (never per-row
    * arrays), shingle stream checkpointed once for its three consumers.
    */
  /** One banding pass, materialized for fan-out: the MinHash-LSH
    * candidate pair frame, localCheckpoint'ed so every graph consumer
    * ([[containmentPairs]], [[nearDupPageRank]], [[sourceOverlap]],
    * `Similarity.embeddingClusters`' text twin) reads the materialized
    * pairs instead of re-running shingle→minhash→band→bucket-join per
    * consumer. At 100 TB the banding pass is the dominant cost of every
    * one of those queries — paying it once and fanning out is the whole
    * point of generating candidates separately from consuming them.
    */
  def sharedLshPairs(s: SparkSession, dir: String, shingleSize: Int = 3,
                     numHashes: Int = 12, rowsPerBand: Int = 3): DataFrame =
    lshPairsFromMins(
      minhashMins(Tables(s, dir, "documents"), shingleSize, numHashes),
      numHashes, rowsPerBand).localCheckpoint()

  def containmentPairs(s: SparkSession, dir: String,
                       shingleSize: Int = 3, numHashes: Int = 12,
                       rowsPerBand: Int = 3): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir, "documents")
    val mins = minhashMins(docs, shingleSize, numHashes).localCheckpoint()
    containmentPairs(s, dir, lshPairsFromMins(mins, numHashes, rowsPerBand),
      shingleSize)
  }

  /** Containment over a precomputed candidate pair frame (doc_a, doc_b) —
    * normally [[sharedLshPairs]], so one banding pass feeds this and the
    * other graph consumers.
    */
  def containmentPairs(s: SparkSession, dir: String, pairs: DataFrame,
                       shingleSize: Int): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir, "documents")
    val sd = shingleStream(docs, shingleSize).distinct().localCheckpoint()
    val sizes = sd.groupBy($"doc_id").agg(count(lit(1)).as("n_sh"))
    val inter = pairs
      .join(sd.toDF("doc_a", "sh"), Seq("doc_a"))
      .join(sd.toDF("doc_b", "sh"), Seq("doc_b", "sh"))
      .groupBy($"doc_a", $"doc_b").agg(count(lit(1)).as("n_shared"))
    inter
      .join(sizes.toDF("doc_a", "n_a"), Seq("doc_a"))
      .join(sizes.toDF("doc_b", "n_b"), Seq("doc_b"))
      .select($"doc_a", $"doc_b", $"n_shared",
        expr("(n_shared * 10000) div n_a").as("cont_a4"),
        expr("(n_shared * 10000) div n_b").as("cont_b4"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** ROUGE-2 between LSH candidate pairs — the MULTISET bigram overlap
    * (Σ min(count_a, count_b), the clipped counts of the summarization
    * metric), where [[containmentPairs]]/Jaccard see only distinct
    * shingles: a doc that repeats a template paragraph five times
    * matches it five times here, once there — which is exactly the
    * difference between "shares phrasing" and "is mostly the same
    * text". Per ordered pair: recall of each side's bigram mass and the
    * symmetric F in bp, all exact floor divisions. Bigram counts are
    * one groupBy over the shingle stream; the overlap join is
    * candidate-bounded, never corpus².
    */
  def rougePairs(s: SparkSession, dir: String): DataFrame =
    rougePairs(s, dir, sharedLshPairs(s, dir))

  def rougePairs(s: SparkSession, dir: String, pairs: DataFrame): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir, "documents")
    val bi = shingleStream(docs, 2)
      .groupBy($"doc_id", $"sh").agg(count(lit(1)).as("c"))
      .localCheckpoint() // totals + both overlap legs read it
    val tot = bi.groupBy($"doc_id").agg(sum($"c").as("n_bi"))
    val ov = pairs
      .join(bi.toDF("doc_a", "sh", "ca"), Seq("doc_a"))
      .join(bi.toDF("doc_b", "sh", "cb"), Seq("doc_b", "sh"))
      .groupBy($"doc_a", $"doc_b")
      .agg(sum(least($"ca", $"cb")).as("ov2"))
    pairs
      .join(ov, Seq("doc_a", "doc_b"), "left").na.fill(0L, Seq("ov2"))
      // LEFT joins: a single-token doc has zero bigrams and thus no
      // totals row — it must still emit its candidate-pair row (the
      // one-ROUGE-row-per-LSH-pair invariant) with NULL recalls, not
      // silently vanish from the report
      .join(tot.toDF("doc_a", "n_bi_a"), Seq("doc_a"), "left")
      .join(tot.toDF("doc_b", "n_bi_b"), Seq("doc_b"), "left")
      .na.fill(0L, Seq("n_bi_a", "n_bi_b"))
      .select($"doc_a", $"doc_b", $"ov2", $"n_bi_a", $"n_bi_b",
        when($"n_bi_a" > 0, expr("ov2 * 10000 div n_bi_a")).as("r_a_bp"),
        when($"n_bi_b" > 0, expr("ov2 * 10000 div n_bi_b")).as("r_b_bp"),
        when($"n_bi_a" + $"n_bi_b" > 0,
          expr("2 * ov2 * 10000 div (n_bi_a + n_bi_b)")).as("f2_bp"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** Cross-source overlap matrix: near-dup pair counts per unordered
    * source pair — the provenance question a multi-source corpus asks
    * before training ("how much of source B is already in source A?").
    * Rides the MinHash-LSH candidate set, so the pair space is the
    * LSH-bounded one, never corpus²; the two attribute joins are plain
    * doc_id equi-joins (shuffle or broadcast per AQE). Unordered pairs
    * via least/greatest, so (srcA, srcB) and (srcB, srcA) collapse.
    */
  /** Damped PageRank over the near-dup candidate graph, `iters` rounds —
    * a centrality score for canonical-document selection: among a family
    * of near-copies, the doc connected to the most (and most-connected)
    * variants is the natural keeper, a different signal than
    * [[dedupBest]]'s per-cluster quality argmax.
    *
    * All arithmetic is scaled integer (rank in 1e-5 units, floor
    * division for the degree split and the 0.85 damping) so partial-agg
    * order cannot move a result bit: integer sums are associative where
    * float sums are not, which is what lets a distributed loop stay
    * hash-identical to the single-threaded oracle. Per round: one join
    * of the static adjacency (edges + out-degree, checkpointed once)
    * against the current rank, one map-side-combined sum per target,
    * one left join back to the doc universe — rank frames are
    * localCheckpointed per round (lineage rule at [[dedupClusters]]).
    * Isolated docs settle at the 0.15 baseline.
    */
  def nearDupPageRank(s: SparkSession, dir: String, iters: Int = 3): DataFrame =
    nearDupPageRank(s, dir, minhashLshPairs(s, dir), iters)

  /** KMV (k-minimum-values / theta) sketch overlap audit between the
    * train and eval splits: keep only the k smallest 60-bit shingle
    * hashes per side — a constant-size sketch any two shards can merge
    * by union — and estimate each side's distinct-shingle cardinality
    * ((k−1)·2⁶⁰/h₍ₖ₎) and the cross-split Jaccard (membership of the
    * union's k smallest in both sketches). Alongside each estimate the
    * audit computes the EXACT number the sketch approximates, so the
    * error is part of the release — the same proven-bounds discipline
    * as the HLL/CMS/SpaceSaving audits, completing the sketch family
    * with the one that supports set INTERSECTION. All integer: md5
    * hashes, exact counts, DECIMAL(38,0) for the (k−1)·2⁶⁰ product.
    * The k-min cut is a distributed TakeOrdered — no full sort.
    */
  def kmvOverlap(s: SparkSession, dir: String, k: Int = 256): DataFrame = {
    import s.implicits._
    val sh = Tables(s, dir, "documents")
      .withColumn("bucket", TextOps.hashBucket($"doc_id", "split:"))
      .filter($"bucket" < 80 || $"bucket" >= 90)
      .select(($"bucket" < 80).as("is_train"),
        graft.functions.text.tokensLower($"text").as("toks"))
      .select($"is_train",
        explode(graft.functions.text.shinglesFromTokens($"toks", 3)).as("g"))
      .select($"is_train",
        conv(substring(md5($"g"), 1, 15), 16, 10).cast("long").as("h"))
      .distinct()
      .localCheckpoint()
    val train = sh.filter($"is_train").select($"h")
    val eval_ = sh.filter(!$"is_train").select($"h")
    val tMin = train.orderBy($"h").limit(k).localCheckpoint()
    val eMin = eval_.orderBy($"h").limit(k).localCheckpoint()
    val uMin = tMin.union(eMin).distinct().orderBy($"h").limit(k)
    val two60 = "CAST(1152921504606846976 AS DECIMAL(38,0))"
    def est(kth: String) =
      s"CAST(${k - 1} AS DECIMAL(38,0)) * $two60 div $kth"
    tMin.agg(max($"h").as("t_k")).crossJoin(eMin.agg(max($"h").as("e_k")))
      .crossJoin(broadcast(train.agg(count(lit(1)).as("n_train"))))
      .crossJoin(broadcast(eval_.agg(count(lit(1)).as("n_eval"))))
      .crossJoin(broadcast(
        train.join(eval_, "h").agg(count(lit(1)).as("n_inter"))))
      .crossJoin(broadcast(uMin.join(tMin, "h").join(eMin, "h")
        .agg(count(lit(1)).as("matches"))))
      .select(lit(k).as("k"), $"n_train",
        expr(est("t_k")).as("n_train_est"),
        $"n_eval", expr(est("e_k")).as("n_eval_est"),
        $"n_inter",
        expr("n_inter * 10000 div (n_train + n_eval - n_inter)")
          .as("jacc_exact_bp"),
        $"matches", expr(s"matches * 10000 div $k").as("jacc_est_bp"),
        abs(expr(s"matches * 10000 div $k") -
          expr("n_inter * 10000 div (n_train + n_eval - n_inter)"))
          .as("err_bp"))
  }

  /** Degree assortativity of the near-dup candidate graph: the Pearson
    * correlation of endpoint degrees over directed edges — positive
    * means heavy near-dup documents cluster with each other (one
    * boilerplate family begetting a dense core, the structure that makes
    * CC contraction and pair verification expensive), negative means
    * hubs link to leaves (template + many one-off copies). A single
    * scalar that predicts which dedup strategy the corpus needs before
    * any clustering runs. Exact integer moment sums in DECIMAL(38,0)
    * (the cupedAdjust discipline), one fixed-shape final quotient.
    */
  def degreeAssortativity(s: SparkSession, dir: String): DataFrame =
    degreeAssortativity(minhashLshPairs(s, dir))

  def degreeAssortativity(pairFrame: DataFrame): DataFrame = {
    val s = pairFrame.sparkSession
    import s.implicits._
    val dec = "decimal(38,0)"
    val pairs = pairFrame.select($"doc_a", $"doc_b")
    val edges = pairs
      .union(pairs.select($"doc_b".as("doc_a"), $"doc_a".as("doc_b")))
      .toDF("src", "dst").localCheckpoint()
    val deg = edges.groupBy($"src").agg(count(lit(1)).as("d"))
    val nNodes = deg.count()
    edges
      .join(deg.select($"src", $"d".as("dx")), "src")
      .join(deg.select($"src".as("dst"), $"d".as("dy")), "dst")
      .agg(count(lit(1)).cast(dec).as("n"),
        sum($"dx").cast(dec).as("sx"), sum($"dy").cast(dec).as("sy"),
        sum($"dx".cast(dec) * $"dy").as("sxy"),
        sum($"dx".cast(dec) * $"dx").as("sxx"),
        sum($"dy".cast(dec) * $"dy").as("syy"))
      .select($"n".cast("long").as("n_edges"),
        lit(nNodes).as("n_nodes"),
        // degree-covariance numerator fits int64 at gate scale;
        // narrow loudly (wide decimal is internal-only)
        graft.functions.num.toLongChecked(
          ($"n" * $"sxy" - $"sx" * $"sy").cast(dec), "cov_num")
          .as("cov_num"),
        round(($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
          (sqrt(($"n" * $"sxx" - $"sx" * $"sx").cast("double")) *
            sqrt(($"n" * $"syy" - $"sy" * $"sy").cast("double"))), 4)
          .as("assortativity"))
  }

  /** PageRank over a precomputed candidate pair frame (doc_a, doc_b) —
    * normally [[sharedLshPairs]].
    */
  def nearDupPageRank(s: SparkSession, dir: String, pairFrame: DataFrame,
                      iters: Int): DataFrame = {
    import s.implicits._
    val pairs = pairFrame.select($"doc_a", $"doc_b")
    val edges = pairs
      .union(pairs.select($"doc_b".as("doc_a"), $"doc_a".as("doc_b")))
      .toDF("src", "dst")
    val deg = edges.groupBy($"src").agg(count(lit(1)).as("d"))
    val adj = edges.join(deg, "src").localCheckpoint()
    val docs = Tables(s, dir, "documents").select($"doc_id").localCheckpoint()
    var rank = docs.select($"doc_id", lit(100000L).as("r"))
    for (_ <- 1 to iters) {
      val contrib = adj.join(rank, adj("src") === rank("doc_id"))
        .select($"dst", expr("r div d").as("c"))
        .groupBy($"dst").agg(sum($"c").as("c"))
      rank = docs.join(contrib, docs("doc_id") === contrib("dst"), "left")
        .select($"doc_id",
          expr("15000L + (85L * coalesce(c, 0L)) div 100L").as("r"))
        .localCheckpoint()
    }
    rank.select($"doc_id", $"r".as("pr")).orderBy($"doc_id")
  }

  /** Personalized PageRank from the TEST-split seed set — graph-diffused
    * contamination risk: teleport mass concentrates on held-out docs, so
    * a training doc's score measures its multi-hop proximity to eval
    * data through the near-dup graph (A≈B≈C chains where A is eval and
    * C shares no direct n-grams with it — the leak the pairwise
    * decontamination screens cannot see). Same scaled-integer loop as
    * [[nearDupPageRank]] (1e-5 rank units, floor-division damping and
    * degree split, checkpoint per round); the only change is the
    * teleport vector: (15000·N)/|seeds| on seeds, 0 elsewhere, computed
    * once driver-side as exact integers. Seeds ride [[TextOps.hashSplit]]'s
    * bucket convention, so the seed set is the same test split every
    * screen in the suite uses.
    */
  def evalProximityPpr(s: SparkSession, dir: String, iters: Int = 3): DataFrame =
    evalProximityPpr(s, dir, minhashLshPairs(s, dir), iters)

  /** PPR over a precomputed candidate pair frame — normally
    * [[sharedLshPairs]].
    */
  def evalProximityPpr(s: SparkSession, dir: String, pairFrame: DataFrame,
                       iters: Int): DataFrame = {
    import s.implicits._
    val pairs = pairFrame.select($"doc_a", $"doc_b")
    val edges = pairs
      .union(pairs.select($"doc_b".as("doc_a"), $"doc_a".as("doc_b")))
      .toDF("src", "dst")
    val deg = edges.groupBy($"src").agg(count(lit(1)).as("d"))
    val adj = edges.join(deg, "src").localCheckpoint()
    val docs = Tables(s, dir, "documents")
      .select($"doc_id",
        (TextOps.hashBucket($"doc_id", "split:") >= 90).as("is_seed"))
      .localCheckpoint()
    val nDocs = docs.count()
    val nSeeds = docs.filter($"is_seed").count()
    require(nSeeds > 0,
      s"evalProximityPpr: no test-split seed docs (hashSplit bucket >= 90) " +
        s"among $nDocs documents — the teleport vector would be undefined")
    val base = 15000L * nDocs / nSeeds
    val teleport = when($"is_seed", lit(base)).otherwise(lit(0L))
    var rank = docs.select($"doc_id", $"is_seed", teleport.as("r"))
    for (_ <- 1 to iters) {
      val contrib = adj.join(rank, adj("src") === rank("doc_id"))
        .select($"dst", expr("r div d").as("c"))
        .groupBy($"dst").agg(sum($"c").as("c"))
      rank = docs.join(contrib, docs("doc_id") === contrib("dst"), "left")
        .select(docs("doc_id"), $"is_seed",
          (teleport + expr("(85 * coalesce(c, 0L)) div 100L")).as("r"))
        .localCheckpoint()
    }
    rank.select($"doc_id", $"is_seed", $"r".as("ppr")).orderBy($"doc_id")
  }

  /** Candidate-pair similarity HISTOGRAM: exact Jaccard (integer
    * ten-thousandths, |∩|·10⁴ div |∪|) of every LSH candidate pair,
    * bucketed by decile — the one-screen distribution a corpus owner
    * reads to PICK the dedup threshold (a bimodal histogram separates
    * true near-dups from band-collision noise; mass piling against the
    * chosen cutoff says the threshold is load-bearing). Pair set and
    * shingle arithmetic are the [[containmentPairs]] machinery, so the
    * histogram describes exactly the pairs the dedup graph would use.
    */
  def pairSimilarityHistogram(s: SparkSession, dir: String,
                              shingleSize: Int = 3): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir, "documents")
    val pairs = minhashLshPairs(s, dir)
    val sd = shingleStream(docs, shingleSize).distinct().localCheckpoint()
    val sizes = sd.groupBy($"doc_id").agg(count(lit(1)).as("n_sh"))
    val inter = pairs
      .join(sd.toDF("doc_a", "sh"), Seq("doc_a"))
      .join(sd.toDF("doc_b", "sh"), Seq("doc_b", "sh"))
      .groupBy($"doc_a", $"doc_b").agg(count(lit(1)).as("n_shared"))
    inter
      .join(sizes.toDF("doc_a", "n_a"), Seq("doc_a"))
      .join(sizes.toDF("doc_b", "n_b"), Seq("doc_b"))
      .select(expr(
        "least((n_shared * 10000 div (n_a + n_b - n_shared)) div 1000, 9)")
        .cast("int").as("bin"))
      .groupBy($"bin").agg(count(lit(1)).as("n_pairs"))
      .orderBy($"bin")
  }

  def labelPropagation(s: SparkSession, dir: String): DataFrame =
    labelPropagation(s, minhashLshPairs(s, dir))

  /** Label-propagation communities over a precomputed candidate pair
    * frame (doc_a, doc_b) — normally [[sharedLshPairs]]. Where connected
    * components ([[dedupClusters]]) answer "reachable at all", LPA finds
    * DENSE regions inside a component — the near-dup "families" a large
    * weakly-joined component hides. Synchronous and fully deterministic:
    * each round every node takes the most frequent label among its
    * neighbors, ties broken by MINIMUM label (integer counts, no
    * randomness, no update-order dependence — the classic async LPA is
    * neither reproducible nor oracle-checkable). Fixed `rounds` (the
    * oracle unrolls the same rounds); per round one shuffle-join of the
    * edge list against the label frame plus one map-side-combined
    * groupBy — cost O(E) per round at any scale, same discipline as the
    * PageRank loop (checkpoint per round, flat lineage).
    */
  def labelPropagation(s: SparkSession, pairFrame: DataFrame,
                       rounds: Int = 3): DataFrame = {
    import s.implicits._
    val pairs = pairFrame.select($"doc_a", $"doc_b")
    // pinned to the per-round join's key: LogicalRDD keeps the hash
    // partitioning across localCheckpoint, so each round's edge side
    // arrives pre-shuffled and only the (much smaller) label frame moves
    val edges = pairs.select($"doc_a".as("a"), $"doc_b".as("b"))
      .union(pairs.select($"doc_b".as("a"), $"doc_a".as("b")))
      .repartition(col("b"))
      .localCheckpoint()
    var labels = edges.select($"a".as("v")).distinct()
      .select($"v", $"v".as("lbl")).localCheckpoint()
    for (_ <- 1 to rounds) {
      // argmax as max(struct(c, -lbl)): (count DESC, label ASC), same
      // row the oracle's window picks — but both aggregations partial-
      // combine map-side, so the per-round shuffles carry the (v, lbl)
      // count space and then one row per node, never a sorted window
      // over the whole neighbor-label stream
      labels = edges
        .join(labels.select($"v".as("b"), $"lbl"), "b")
        .groupBy($"a".as("v"), $"lbl").agg(count(lit(1)).as("c"))
        .groupBy($"v").agg(max(struct($"c", (-$"lbl").as("nl"))).as("m"))
        .select($"v", (-$"m.nl").as("lbl"))
        .localCheckpoint()
    }
    labels.select($"v".as("doc_id"), $"lbl".as("community"))
      .orderBy($"doc_id")
  }

  def nearDupModularity(s: SparkSession, dir: String): DataFrame =
    nearDupModularity(s, minhashLshPairs(s, dir))

  /** Newman modularity of the [[labelPropagation]] partition over the
    * near-dup graph — the one-number QA check on whether LPA's
    * "families" are real structure or banding noise (a partition no
    * better than random edge placement scores ~0; tight copy-clusters
    * score high). Per community c: Q_c = e_c/m − (d_c/2m)², emitted in
    * exact integer ppm via the repo's truncating-division convention so
    * the oracle reproduces it bit-for-bit — e_c, d_c, m are plain
    * counts, and both engines evaluate (e_c·10⁶ div m) −
    * ((d_c² div 4m)·10⁶ div m) on BIGINTs (d_c ≤ 2m keeps d_c² inside
    * int64 far beyond the 10x stress size).
    *
    * Cost on top of the LPA rounds: one edge⋈label join for e_c, one
    * map-side-combined degree rollup, and a |communities|-row finish —
    * every shuffle is O(E), nothing corpus².
    */
  def nearDupModularity(s: SparkSession, pairFrame: DataFrame): DataFrame = {
    import s.implicits._
    // pairs feed LPA, the e_c join, and the degree rollup — checkpoint
    // once or the whole LSH pipeline re-runs per consumer
    val pairs = pairFrame.select($"doc_a", $"doc_b").localCheckpoint()
    val labels = labelPropagation(s, pairs).localCheckpoint()
    val m = pairs.agg(count(lit(1)).as("m"))
    val ein = pairs
      .join(labels.select($"doc_id".as("doc_a"), $"community".as("ca")), "doc_a")
      .join(labels.select($"doc_id".as("doc_b"), $"community".as("cb")), "doc_b")
      .filter($"ca" === $"cb")
      .groupBy($"ca".as("community")).agg(count(lit(1)).as("e_in"))
    val degs = pairs.select($"doc_a".as("v"))
      .union(pairs.select($"doc_b".as("v")))
      .groupBy($"v").agg(count(lit(1)).as("d"))
    labels.join(degs, labels("doc_id") === degs("v"))
      .groupBy($"community")
      .agg(count(lit(1)).as("n_nodes"), sum($"d").as("deg_sum"))
      .join(ein, Seq("community"), "left")
      .crossJoin(broadcast(m))
      .select($"community", $"n_nodes",
        coalesce($"e_in", lit(0L)).as("e_in"), $"deg_sum",
        expr("CAST(coalesce(e_in, 0) * 1000000 div m" +
          " - ((deg_sum * deg_sum) div (4 * m)) * 1000000 div m" +
          " AS BIGINT)").as("q_term_ppm"))
      .orderBy($"community")
  }

  /** Cross-method dedup agreement matrix: the pairwise Jaccard overlap
    * (exact integer ppm) of the candidate-pair sets three independent
    * near-dup detectors emit over the SAME corpus — MinHash-LSH
    * (token-shingle Jaccard), SimHash (Hamming on the 60-bit
    * fingerprint), and embedding sign-LSH (cosine). The release-audit
    * question this answers: do the methods agree on WHICH pairs are
    * near-dups, or is each harvesting a disjoint slice (in which case a
    * single-method dedup under-collects and the threshold sweep's
    * recall numbers don't transfer between methods)? Three rows, one
    * per unordered method pair.
    *
    * Each pair set is the exact frame its own oracle-checked query
    * emits (ids aligned: vec_id == doc_id by fixture contract, the same
    * identification semanticDecontamination relies on). The tagged
    * union is checkpointed once; sizes and intersections are map-side-
    * combined counts; the 3×3 method cross is a broadcast of a
    * 3-row aggregate — every shuffle is bounded by the LSH pair
    * volume, never corpus².
    */
  def dedupMethodAgreement(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // three INDEPENDENT detector pipelines (MinHash banding, SimHash
    // fingerprints, embedding sign-LSH) — materialize them concurrently
    // (r14, guide §2.6) instead of serializing three multi-job chains;
    // the union over the three checkpointed frames is then a block read,
    // cheap for both the sizes rollup and the agreement self-join
    val Seq(mhP, shP, emP) = Sessions.inParallel(
      () => minhashLshPairs(s, dir)
        .select($"doc_a", $"doc_b", lit("minhash").as("method"))
        .localCheckpoint(),
      () => simhashPairs(s, dir)
        .select($"doc_a", $"doc_b", lit("simhash").as("method"))
        .localCheckpoint(),
      () => Similarity.embeddingNearDupPairs(s, dir)
        .select($"vec_a".as("doc_a"), $"vec_b".as("doc_b"),
          lit("embedding").as("method"))
        .localCheckpoint())
    val tagged = mhP.unionByName(shP).unionByName(emP)
    val sizes = tagged.groupBy($"method").agg(count(lit(1)).as("n"))
    val inter = tagged.select($"doc_a", $"doc_b", $"method".as("method_a"))
      .join(tagged.select($"doc_a", $"doc_b", $"method".as("method_b")),
        Seq("doc_a", "doc_b"))
      .filter($"method_a" < $"method_b")
      .groupBy($"method_a", $"method_b").agg(count(lit(1)).as("n_both"))
    sizes.select($"method".as("method_a"), $"n".as("n_a"))
      .crossJoin(broadcast(sizes.select($"method".as("method_b"), $"n".as("n_b"))))
      .filter($"method_a" < $"method_b")
      .join(inter, Seq("method_a", "method_b"), "left")
      .select($"method_a", $"method_b", $"n_a", $"n_b",
        coalesce($"n_both", lit(0L)).as("n_both"),
        // nullif: two empty pair sets degrade to NULL, never divide by 0
        expr("CAST(coalesce(n_both, 0) * 1000000" +
          " div nullif(n_a + n_b - coalesce(n_both, 0), 0)" +
          " AS BIGINT)").as("jaccard_ppm"))
      .orderBy($"method_a", $"method_b")
  }

  def nearDupTriangles(s: SparkSession, dir: String): DataFrame =
    nearDupTriangles(s, minhashLshPairs(s, dir))

  /** Triangle counts over a precomputed candidate pair frame — the
    * local-clustering signal on the near-dup graph (a doc in many
    * triangles sits in a tight copy-cluster; a high-degree doc with NO
    * triangles is a hub/template matching many unrelated docs — a
    * different cleanup action). Pairs arrive id-oriented (a<b), so
    * wedges (a,b)+(b,c) close a triangle iff (a,c) is also an edge:
    * two equi-joins on the pair frame, counted once per triangle with
    * a<b<c — no symmetrization blow-up. Bucket-bounded pair frames with
    * NEAR-UNIFORM degrees (dup families) are this plan's regime —
    * measured 4.9 s vs the oriented form's 6.3 s at the 10x size; on a
    * genuinely hub-skewed graph use [[nearDupTrianglesOriented]], whose
    * wedge mass per node is bounded regardless of degree.
    */
  def nearDupTriangles(s: SparkSession, pairFrame: DataFrame): DataFrame = {
    import s.implicits._
    val e = pairFrame.select($"doc_a".as("a"), $"doc_b".as("b"))
      .localCheckpoint()
    e.toDF("a", "b")
      .join(e.toDF("b", "c"), "b")
      .join(e.toDF("a", "c"), Seq("a", "c"))
      .select(explode(array($"a", $"b", $"c")).as("doc_id"))
      .groupBy($"doc_id").agg(count(lit(1)).as("n_triangles"))
      .orderBy($"doc_id")
  }

  def nearDupTrianglesOriented(s: SparkSession, dir: String): DataFrame =
    nearDupTrianglesOriented(s, minhashLshPairs(s, dir))

  /** The hub-safe triangle counter — identical output to
    * [[nearDupTriangles]] (one oracle pins both), different cost shape:
    * every edge is re-oriented from its lower-(degree, id) endpoint to
    * the higher, so each node's out-degree is O(√E) regardless of its
    * true degree — the classic orientation remedy that keeps one
    * hub/template node from generating deg² wedges on a single task.
    * Wedges y←x→z with key(y) < key(z) close a triangle iff the (y, z)
    * oriented edge exists; the orientation is a total order, so each
    * triangle is counted exactly once. Keys ride the edges as
    * (degree, id) structs — no global rank assignment, no
    * single-partition sort. Costs one degree aggregation and two extra
    * joins over the plain form (~29% at the non-skewed 10x size) — the
    * premium buys the bounded-wedge guarantee a template-heavy crawl
    * graph needs.
    */
  def nearDupTrianglesOriented(s: SparkSession, pairFrame: DataFrame): DataFrame = {
    import s.implicits._
    val e0 = pairFrame.select($"doc_a".as("a"), $"doc_b".as("b"))
    val deg = e0.select(explode(array($"a", $"b")).as("v"))
      .groupBy($"v").agg(count(lit(1)).as("d"))
    def key(d: Column, v: Column) = struct(d.as("kd"), v.as("kv"))
    val or = e0
      .join(deg.toDF("a", "da"), "a").join(deg.toDF("b", "db"), "b")
      .select(when(key($"da", $"a") < key($"db", $"b"),
          struct($"a".as("x"), $"b".as("y"), key($"db", $"b").as("ky")))
        .otherwise(
          struct($"b".as("x"), $"a".as("y"), key($"da", $"a").as("ky")))
        .as("e"))
      .select($"e.x", $"e.y", $"e.ky")
      .localCheckpoint()
    or.toDF("x", "y", "k1")
      .join(or.toDF("x", "z", "k2"), "x")
      .filter($"k1" < $"k2")
      // closing edge runs min-key → max-key, i.e. exactly y → z here
      .join(or.select($"x".as("y"), $"y".as("z")), Seq("y", "z"))
      .select(explode(array($"x", $"y", $"z")).as("doc_id"))
      .groupBy($"doc_id").agg(count(lit(1)).as("n_triangles"))
      .orderBy($"doc_id")
  }

  def kCore(s: SparkSession, dir: String): DataFrame =
    kCore(s, minhashLshPairs(s, dir))

  /** k-core peel over a precomputed candidate pair frame — normally
    * [[sharedLshPairs]]. Where triangles score LOCAL density and LPA
    * finds label basins, the k-core is the maximal subgraph where every
    * member keeps ≥ k near-dup neighbors AFTER all weakly-attached docs
    * are peeled away — the standard "dense copy-family vs incidental
    * collision" cut on a dedup graph (a hub/template's spokes peel off;
    * a genuine k-clique family survives).
    *
    * Synchronous peel, `rounds` fixed so the oracle can unroll the same
    * rounds (the spec asserts the peel has CONVERGED by then at test
    * scale — extra rounds are then identity, so fixed-vs-fixpoint cannot
    * diverge). Per round: one map-side-combined degree aggregation and
    * one semi-join per endpoint over the current edge set — O(E) per
    * round, edges only ever shrink, per-round frames localCheckpointed
    * (lineage rule at [[dedupClusters]]).
    */
  def kCore(s: SparkSession, pairFrame: DataFrame, k: Int = 2,
            rounds: Int = 6): DataFrame = {
    import s.implicits._
    val und = pairFrame.select($"doc_a".as("a"), $"doc_b".as("b"))
    var edges = und
      .union(und.select($"b".as("a"), $"a".as("b")))
      .localCheckpoint()
    // fixpoint early-exit (r13): the peel is monotone (edges only ever
    // shrink), so an unchanged edge COUNT means an unchanged edge SET
    // and every remaining round is the identity the spec already relies
    // on ("extra rounds are then identity") — skip them instead of
    // paying 2 checkpoint jobs per no-op round. The count reads the
    // just-materialized checkpoint blocks, ~free.
    var prevCnt = edges.count()
    var converged = false
    for (_ <- 1 to rounds if !converged) {
      val keep = edges.groupBy($"a").agg(count(lit(1)).as("d"))
        .filter($"d" >= k).select($"a".as("v"))
        .localCheckpoint()
      edges = edges
        .join(keep.toDF("a"), Seq("a"), "left_semi")
        .join(keep.toDF("b"), Seq("b"), "left_semi")
        .localCheckpoint(false) // lazy: the convergence count below is
        // the ONE action that materializes it — the fixpoint check
        // replaces the eager checkpoint job instead of adding to it
      val cnt = edges.count()
      converged = cnt == prevCnt
      prevCnt = cnt
    }
    edges.groupBy($"a".as("doc_id"))
      .agg(count(lit(1)).as("core_degree"))
      .orderBy($"doc_id")
  }

  def coreness(s: SparkSession, dir: String): DataFrame =
    coreness(s, minhashLshPairs(s, dir))

  /** Coreness decomposition over a precomputed candidate pair frame —
    * the k-core number of every node (highest k with the node still in
    * the k-core), computed by NESTED peels: cores nest, so the k-core
    * peel starts from the (k−1)-core's surviving edges instead of the
    * full graph — each successive level works on a (typically much)
    * smaller edge set, the standard Batagelj-Zaveršnik decomposition
    * order adapted to synchronous rounds. `maxK` caps the ladder (a
    * dedup graph's deep cores are what survivor selection reads; beyond
    * that the exact number stops mattering) and the oracle unrolls the
    * identical (k, round) grid. Cost: Σ_k O(E_k)·rounds with E_k
    * shrinking per level; same per-round shape as [[kCore]].
    */
  def coreness(s: SparkSession, pairFrame: DataFrame, maxK: Int = 4,
               rounds: Int = 6): DataFrame = {
    import s.implicits._
    val und = pairFrame.select($"doc_a".as("a"), $"doc_b".as("b"))
    var edges = und
      .union(und.select($"b".as("a"), $"a".as("b")))
      .localCheckpoint()
    var result = edges.select($"a".as("doc_id")).distinct()
      .select($"doc_id", lit(1).as("coreness"))
      .localCheckpoint()
    for (k <- 2 to maxK) {
      // same monotone-fixpoint early-exit as [[kCore]]: an unchanged
      // edge count ends the level's rounds (the rest are identity)
      var prevCnt = edges.count()
      var converged = false
      for (_ <- 1 to rounds if !converged) {
        val keep = edges.groupBy($"a").agg(count(lit(1)).as("d"))
          .filter($"d" >= k).select($"a".as("v"))
          .localCheckpoint()
        edges = edges
          .join(keep.toDF("a"), Seq("a"), "left_semi")
          .join(keep.toDF("b"), Seq("b"), "left_semi")
          .localCheckpoint(false) // lazy: materialized by the count
        val cnt = edges.count()
        converged = cnt == prevCnt
        prevCnt = cnt
      }
      val members = edges.select($"a".as("doc_id")).distinct()
        .select($"doc_id", lit(true).as("in_k"))
      result = result.join(members, Seq("doc_id"), "left")
        .select($"doc_id",
          when($"in_k", lit(k)).otherwise($"coreness").as("coreness"))
        .localCheckpoint()
    }
    result.orderBy($"doc_id")
  }

  def sourceOverlap(s: SparkSession, dir: String): DataFrame =
    sourceOverlap(s, dir, minhashLshPairs(s, dir))

  /** Overlap matrix over a precomputed candidate pair frame (doc_a,
    * doc_b) — normally [[sharedLshPairs]].
    */
  def sourceOverlap(s: SparkSession, dir: String, pairs: DataFrame): DataFrame = {
    import s.implicits._
    val src = Tables(s, dir, "documents").select($"doc_id", $"source")
    pairs
      .join(src.toDF("doc_a", "source_a"), Seq("doc_a"))
      .join(src.toDF("doc_b", "source_b"), Seq("doc_b"))
      .select(least($"source_a", $"source_b").as("source_x"),
        greatest($"source_a", $"source_b").as("source_y"))
      .groupBy($"source_x", $"source_y")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy($"source_x", $"source_y")
  }

  /** SimHash bit width. 60 (not 64): the token hash is the first 15 hex
    * digits of md5, chosen because an external SQL oracle can reproduce
    * md5 bit-for-bit (DuckDB has no xxhash64) — same design trade as the
    * MinHash seeds above.
    */
  private[graft] val SimhashBits = 60

  /** 60-bit token hash from the md5 hex prefix (engine-portable). */
  private[graft] def tokenHash60(tok: Column): Column =
    conv(substring(md5(tok), 1, 15), 16, 10).cast("long")

  /** SimHash over word tokens: per bit, sum +1/-1 weighted by token-hash
    * bit, sign → fingerprint bit. Near-dups share fingerprints within
    * small Hamming distance; bucketing on 15-bit bands makes the
    * candidate join linear.
    *
    * Reference semantics for tiny literal frames; the corpus-scale path is
    * [[simhashFingerprints]], which computes the identical fingerprint via
    * explode + codegen'd aggregation (60 interpreted higher-order
    * `aggregate` calls per row don't vectorize — measured 13s vs <1s on
    * the 5k-doc bench corpus).
    */
  private[graft] def simhash64(tokens: Column): Column = {
    val hashes = transform(tokens, t => tokenHash60(t))
    val bits = (0 until SimhashBits).map { i =>
      val votes = aggregate(hashes, lit(0L),
        (acc, h) => acc + when(shiftright(h, i).bitwiseAND(1L) === 1L, 1L).otherwise(-1L))
      when(votes > 0, shiftleft(lit(1L), i)).otherwise(0L)
    }
    bits.reduce((x, y) => x.bitwiseOR(y))
  }

  /** Corpus-scale SimHash: explode tokens once, hash each, then one
    * map-side-combined groupBy with 60 parallel ±1-vote sums (whole-stage
    * codegen throughout), fingerprint assembled from the vote signs.
    * Token-less docs keep fingerprint 0 via the left join.
    */
  private[graft] def simhashFast(docs: DataFrame): DataFrame = {
    val h = fanOut(docs, "doc_id")
      .select(col("doc_id"), explode(text.tokensLower(col("text"))).as("tok"))
      .select(col("doc_id"), tokenHash60(col("tok")).as("h"))
    val voteCols = (0 until SimhashBits).map(i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1L) === 1L, 1L).otherwise(-1L)).as(s"b$i"))
    val fp = h.groupBy(col("doc_id")).agg(voteCols.head, voteCols.tail: _*)
      .select(col("doc_id"),
        (0 until SimhashBits).map(i =>
          when(col(s"b$i") > 0, shiftleft(lit(1L), i)).otherwise(0L))
          .reduce(_ bitwiseOR _).as("simhash"))
    docs.select(col("doc_id")).join(fp, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("simhash"), lit(0L)).as("simhash"))
  }

  /** SimHash fingerprints + band buckets (4×15-bit bands). Output: docs
    * with their fingerprint; pair generation would join on any equal band.
    */
  def simhashFingerprints(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    simhashFast(Tables(s, dir, "documents"))
      .withColumn("band0", shiftright($"simhash", 0).bitwiseAND(0x7fffL))
      .withColumn("band1", shiftright($"simhash", 15).bitwiseAND(0x7fffL))
      .withColumn("band2", shiftright($"simhash", 30).bitwiseAND(0x7fffL))
      .withColumn("band3", shiftright($"simhash", 45).bitwiseAND(0x7fffL))
      .orderBy($"doc_id")
  }

  /** Connected components over a near-dup pair graph by iterative
    * min-label propagation with pointer jumping: every doc adopts the
    * smallest doc_id reachable so far. Labels initialize to min(self,
    * min neighbor) — the first propagation round for free — and each
    * round runs neighbor-min plus TWO pointer jumps (label-of-label
    * compression), so reach grows ~4× per round and sprawling
    * low-threshold components (the embedding graph at cos 0.3 needed
    * 12+ single-jump rounds at sf0.1) converge in a handful. The
    * convergence FLAG terminates the loop; `maxIters` only bounds
    * pathology and is set high enough that hitting it means something
    * is wrong — an under-converged exit would silently mislabel
    * components at scales the sf0.01 oracle never sees.
    * Output: (doc_id, canon_id) for every doc appearing in a pair —
    * keep canon_id, drop the rest. This is the step that turns candidate
    * pairs into an actual deduplicated corpus.
    *
    * Scale: each round is two joins + one groupBy on doc_id — no driver
    * data, no cross product. At 100 TB, checkpoint every few rounds to
    * cut lineage (here rounds are few enough not to need it).
    *
    * The returned frame reads from checkpointed blocks the loop
    * materialized; Spark's ContextCleaner reclaims them when the frame is
    * garbage-collected, so repeated calls do not accumulate storage.
    */
  /** Default lineage-truncation strategy for the iterative loops:
    * localCheckpoint (fast, executor-memory blocks). Cluster callers
    * running hours-long jobs should pass `reliableCheckpoint` instead —
    * localCheckpoint blocks die with an executor, and a lost block
    * restarts the whole loop. The Boolean is Spark's `eager` flag (the
    * loops lazily checkpoint frames whose materialization rides the
    * round's one action).
    */
  val localCheckpointStrategy: (DataFrame, Boolean) => DataFrame =
    (df, eager) => df.localCheckpoint(eager)

  /** Reliable-checkpoint strategy: writes blocks to the SparkContext's
    * checkpoint dir (HDFS/object store on a real cluster — survives
    * executor loss). Caller must have set `sc.setCheckpointDir` first.
    */
  val reliableCheckpointStrategy: (DataFrame, Boolean) => DataFrame =
    (df, eager) => df.checkpoint(eager)

  def dedupClusters(pairs: DataFrame, maxIters: Int = 40,
                    contractAfter: Int = 2, contractEvery: Int = 4,
                    maxLocalEdges: Long = 4000000L,
                    checkpoint: (DataFrame, Boolean) => DataFrame =
                      localCheckpointStrategy): DataFrame = {
    // localCheckpoint, not cache: the edge list embeds the whole
    // candidate-pair pipeline (MinHash etc.) and every propagation round
    // joins it. A cache keeps that full plan nested inside every round's
    // plan — and each round nests the previous round's cache in turn, so
    // per-round planning cost GROWS with the iteration count (measured
    // 2s → 15s/round by round 4 at 10x scale). Checkpointing truncates
    // lineage to a flat LogicalRDD: every round plans over two leaf
    // relations, constant cost. On a real cluster pass
    // [[reliableCheckpointStrategy]] — localCheckpoint blocks don't
    // survive executor loss. Block cleanup is GC-driven; no manual
    // unpersist bookkeeping.
    // Self-loops ride along so one edge-join aggregation per round yields
    // BOTH the propagated min over {self} ∪ neighbors AND the node's old
    // label (the self row carries it) — no separate prop join against the
    // label frame: one fewer join per round.
    val undirected = pairs.select(col("doc_a").as("a"), col("doc_b").as("b"))
      .unionByName(pairs.select(col("doc_b").as("a"), col("doc_a").as("b")))
    // eager: a lazy checkpoint (folding pair-pipeline materialization
    // into the labels-init job) was tried — no measurable win at sf0.1,
    // and eager keeps the init aggregation planning over materialized
    // blocks with known stats
    val edges = checkpoint(undirected
      .unionByName(undirected.select(col("a"), col("a").as("b")).distinct()),
      true)
    // min-neighbor initialization: the identity start would spend the
    // whole first round discovering exactly this. Eager: the round loop
    // references this frame three times, which is only safe against
    // already-materialized blocks (see the recompute-race note below).
    var labels = checkpoint(edges.groupBy(col("a").as("doc_id"))
      .agg(min(col("b")).as("nb"))
      .select(col("doc_id"),
        least(col("doc_id"), col("nb")).as("canon_id")),
      true)
    // One round = neighbor-min propagation + ONE pointer jump (adopt the
    // label of your label — path compression). EXACTLY this shape, no
    // more: extra jump joins against the label frame were tried twice
    // (round 3, and 2-/3-jump variants this round) and every variant
    // sent per-round cost super-linear (0.3s -> 98..131s within a few
    // rounds at sf0.1) — chained self-joins through the lazily-
    // localCheckpointed frame stop reusing its blocks. The convergence
    // flag rides the same frame: ONE Spark action per round.
    def step(l: DataFrame): DataFrame = {
      // min over {self} ∪ neighbors' labels AND the old self label, one
      // aggregation — the self-loop row is the one where b == a
      val prop = edges
        .join(l.select(col("doc_id").as("b2"), col("canon_id").as("bc")),
          col("b") === col("b2"))
        .groupBy(col("a").as("doc_id"))
        .agg(min(col("bc")).as("c1"),
          max(when(col("b2") === col("a"), col("bc"))).as("old"))
      // jump: canon ids are themselves doc_ids, so look up THEIR label
      // in the same materialized frame
      prop.join(l.select(col("doc_id").as("j"), col("canon_id").as("jc")),
          prop("c1") === col("j"), "left")
        .select(col("doc_id"), col("old"),
          least(col("c1"), coalesce(col("jc"), col("c1"))).as("canon_id"))
    }
    // One round per Spark action; the convergence flag rides the same
    // frame (no separate join+count). Each round's result is checkpointed
    // so round plans never nest.
    //
    // Contract-and-finish: label propagation converges in O(log d)
    // rounds, but the LAST rounds move only a handful of nodes — a long
    // per-job-overhead tail (17 rounds at sf0.1, ~3.5s of wall-clock for
    // <600 changing labels). So after `contractAfter` rounds the loop
    // contracts the graph through the current labels — the quotient
    // graph (l(a), l(b)) of inter-cluster edges, connected per component
    // because a connected graph's cluster quotient is connected — and if
    // the remainder is small enough to BOUND (maxLocalEdges, ~tens of MB
    // in one task), finishes it with a sequential union-find in a single
    // executor task. At 100 TB the early rounds do the heavy lifting
    // distributed, the contracted remainder is exactly the convergence
    // tail, and the guard keeps the local step from ever seeing an
    // unbounded graph (if the remainder is still large, the distributed
    // loop simply continues — correctness never depends on the finisher).
    var changed = 1L
    var i = 0
    var done = false
    while (!done && changed > 0 && i < maxIters) {
      // lazy checkpoint: the flag aggregation below materializes it, so
      // each round is ONE job; lineage still truncates for later rounds
      val next = checkpoint(step(labels), false)
      changed = next
        .agg(coalesce(sum(when(col("canon_id") =!= col("old"), 1L).otherwise(0L)), lit(0L)))
        .first().getLong(0)
      labels = next.select(col("doc_id"), col("canon_id"))
      i += 1
      if (changed > 0 && i >= contractAfter && (i - contractAfter) % contractEvery == 0) {
        val quotient = edges
          .join(labels.select(col("doc_id").as("a2"), col("canon_id").as("ca")),
            col("a") === col("a2"))
          .join(labels.select(col("doc_id").as("b3"), col("canon_id").as("cb")),
            col("b") === col("b3"))
          .filter(col("ca") =!= col("cb"))
          .select(col("ca"), col("cb")).distinct()
        // lazy: the size-guard count below is the one action that
        // materializes the quotient (the kCore fusion — an eager
        // checkpoint plus a count was two jobs for one frame)
        val quotientCk = checkpoint(quotient, false)
        val m = quotientCk.count()
        if (m <= maxLocalEdges) {
          // rep(label) = min doc_id of the label's quotient component; a
          // label cluster with no quotient edge is already a complete
          // component whose label IS its min (l(min) = min always), so
          // the left join's misses keep their label
          val reps = localUnionFind(quotientCk)
          labels = labels
            .join(reps, labels("canon_id") === reps("node"), "left")
            .select(col("doc_id"),
              coalesce(col("rep"), col("canon_id")).as("canon_id"))
          done = true
        }
      }
    }
    labels
  }

  /** Sequential union-find over a BOUNDED quotient edge list, in one
    * executor task (never the driver). Union-by-min keeps every tree's
    * root at the component's minimum id, so `rep` is exact. Only called
    * on graphs whose size [[dedupClusters]] has already counted against
    * its maxLocalEdges guard.
    */
  private def localUnionFind(quotient: DataFrame): DataFrame = {
    val s = quotient.sparkSession
    import s.implicits._
    quotient.select(col("ca").cast("long"), col("cb").cast("long"))
      .as[(Long, Long)]
      .repartition(1)
      .mapPartitions { it =>
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x
          while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        it.foreach { case (a, b) =>
          val ra = find(a); val rb = find(b)
          if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        }
        // only non-root nodes ever enter the map; a root's rep is itself
        // and the caller's left-join coalesce already keeps those labels
        val nodes = parent.keys.toArray
        nodes.iterator.map(k => (k, find(k)))
      }
      .toDF("node", "rep")
  }

  /** End-to-end near-dup dedup over the corpus: exact-dup pairs (same
    * md5) unioned with MinHash-LSH candidates -> components -> canonical
    * assignment, ordered for the oracle/rows check.
    */
  /** Incremental cluster maintenance: absorb a document batch into
    * STORED dedup assignments without re-running connected components
    * over the corpus — the missing piece between the stored band index
    * (cheap incremental PAIRS) and the assignments table (which a naive
    * pipeline rebuilds per ingest). The base assignment is treated as a
    * materialized table; delta pairs (any pair touching a batch doc)
    * have their endpoints mapped through it onto cluster
    * representatives, and CC runs on THAT quotient graph only — nodes =
    * batch docs + touched reps, cost ∝ batch and its blast radius,
    * never ∝ corpus. Because every rep is its cluster's minimum member,
    * the quotient's min-label IS the merged cluster's true global
    * minimum, so the rewritten table equals a full recompute
    * row-for-row — the oracle states the full recompute directly, so
    * the equality is the maintenance proof (the ivmAggApply discipline,
    * now for graph state).
    */
  def incrementalClusters(s: SparkSession, dir: String,
                          batchPred: Column => Column = _ % 4 === 3)
      : DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir, "documents")
    val exactPairs = docs
      .groupBy(md5($"text").as("h"))
      .agg(min($"doc_id").as("doc_a"), collect_list($"doc_id").as("members"))
      .select($"doc_a", explode($"members").as("doc_b"))
      .filter($"doc_a" < $"doc_b")
    val pairs = minhashLshPairs(s, dir).unionByName(exactPairs).distinct()
      .localCheckpoint() // base and delta partitions both read it
    val basePairs = pairs
      .filter(!batchPred($"doc_a") && !batchPred($"doc_b"))
    val deltaPairs = pairs
      .filter(batchPred($"doc_a") || batchPred($"doc_b"))
    // the stored table (at scale: written once, read per ingest)
    val stored = dedupClusters(basePairs).localCheckpoint()
    mergeIntoAssignments(stored, deltaPairs).orderBy($"doc_id")
  }

  /** The quotient-merge kernel shared by [[incrementalClusters]] and
    * `Streams.clusterMaintenanceSink`: map delta-pair endpoints through
    * the stored assignments onto cluster reps, run CC on that quotient
    * graph only, rewrite exactly the rows whose rep merged and append
    * the new nodes. Exact because every rep is its cluster's minimum
    * member (see incrementalClusters).
    */
  private[graft] def mergeIntoAssignments(stored: DataFrame,
                                          deltaPairs: DataFrame): DataFrame = {
    val dm = deltaPairs
      .join(stored.select(col("doc_id").as("doc_a"),
        col("canon_id").as("ca")), Seq("doc_a"), "left")
      .join(stored.select(col("doc_id").as("doc_b"),
        col("canon_id").as("cb")), Seq("doc_b"), "left")
      .select(coalesce(col("ca"), col("doc_a")).as("doc_a"),
        coalesce(col("cb"), col("doc_b")).as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b")).distinct()
      .localCheckpoint() // the quotient CC's whole input
    val quotient = dedupClusters(dm).localCheckpoint() // batch-sized CC
    // rewrite ONLY rows whose rep merged; batch nodes append
    val updated = stored
      .join(quotient.select(col("doc_id").as("r"),
        col("canon_id").as("qc")), col("canon_id") === col("r"), "left")
      .select(col("doc_id"), coalesce(col("qc"), col("canon_id"))
        .as("canon_id"))
    val newNodes = quotient
      .join(stored.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("canon_id"))
    updated.unionByName(newNodes)
  }

  def dedupAssignments(s: SparkSession, dir: String): DataFrame =
    dedupAssignments(s, dir, minhashLshPairs(s, dir))

  /** Assignments over a precomputed LSH pair frame — the
    * [[sharedLshPairs]] injection point; exact-dup star edges are
    * always rebuilt (one hash groupBy, cheap).
    */
  def dedupAssignments(s: SparkSession, dir: String,
                       lshPairs: DataFrame): DataFrame = {
    import s.implicits._
    // star edges min->each member (not min->max: a 3+-copy group's middle
    // members would fall out of the component otherwise)
    val exactPairs = Tables(s, dir, "documents")
      .groupBy(md5($"text").as("h"))
      .agg(min($"doc_id").as("doc_a"), collect_list($"doc_id").as("members"))
      .select($"doc_a", explode($"members").as("doc_b"))
      .filter($"doc_a" < $"doc_b")
    // localCheckpoint: dedupClusters unions the pair frame with its own
    // flip before materializing edges — un-checkpointed, the MinHash +
    // distinct pipeline would execute twice
    val pairs = lshPairs.select($"doc_a", $"doc_b")
      .unionByName(exactPairs).distinct()
      .localCheckpoint()
    dedupClusters(pairs).orderBy($"doc_id")
  }

  /** The deduplicated corpus: every document whose doc_id is its
    * cluster's canonical (minimum) id survives; non-canonical members of
    * any near-dup/exact-dup cluster drop. Docs in no cluster pass
    * through untouched (left anti join against the losers — a broadcast
    * at any scale where the dup fraction is small).
    */
  def dedupCorpus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val losers = dedupAssignments(s, dir)
      .filter($"doc_id" =!= $"canon_id").select($"doc_id")
    Tables(s, dir, "documents")
      .join(losers, Seq("doc_id"), "left_anti")
      .select($"doc_id", $"lang")
      .orderBy($"doc_id")
  }

  /** Quality-aware survivor selection: per near-dup cluster, the member
    * with the highest quality score (ties to the smallest doc_id) — what
    * a production dedup actually keeps. [[dedupCorpus]]'s min-id rule is
    * the right canonical LABEL, but the document you train on should be
    * the best copy, not the earliest-crawled one. Covers exactly the
    * clustered docs (singletons pass through dedup untouched and need no
    * selection). The argmax is `max(struct(quality, -doc_id))` under a
    * plain groupBy — partial-aggregatable, so a viral-dup cluster with
    * 10^6 members map-side combines to one candidate per task instead of
    * co-locating every member on one window partition.
    */
  def dedupBest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // overlap the quality scan with the CC job chain (r14, guide §2.6):
    // dedupAssignments runs a sequence of small driver-blocking jobs
    // (pair checkpoint, CC rounds, contract) that leave most cores
    // idle; the full-text quality scoring scan back-fills them instead
    // of running inside the final join job after the chain finishes
    val Seq(assign, quality) = Sessions.inParallel(
      () => dedupAssignments(s, dir),
      () => Tables(s, dir, "documents")
        .select($"doc_id", text.qualityScore($"text", $"n_chars").as("quality"))
        .localCheckpoint())
    assign
      .join(quality, Seq("doc_id"))
      .groupBy($"canon_id")
      .agg(count(lit(1)).as("n_members"),
        max(struct($"quality", (-$"doc_id").as("neg_id"))).as("m"))
      .select($"canon_id", (-$"m.neg_id").as("best_id"), $"n_members",
        $"m.quality".as("quality"))
      .orderBy($"canon_id")
  }

  /** Dedup profile: the cluster-size histogram of the near-dup graph —
    * how many clusters of each size, and how many documents they hold.
    * The one-screen summary a corpus owner reads before deciding the
    * dedup policy (a fat tail of giant clusters means templated spam; a
    * wall of pairs means crawl-level duplication). Two key-bounded
    * aggregations over the assignment frame; output is at most the
    * largest cluster size in rows.
    */
  def dedupProfile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    dedupAssignments(s, dir)
      .groupBy($"canon_id").agg(count(lit(1)).as("cluster_size"))
      .groupBy($"cluster_size")
      .agg(count(lit(1)).as("n_clusters"),
        sum($"cluster_size").as("n_docs"))
      .orderBy($"cluster_size")
  }

  /** Per-source dup burden: for each source, how much of its volume is
    * duplicated content — docs in any near-dup cluster, and docs that
    * would DROP under canonical dedup (non-canonical members). The
    * report a corpus owner reads to decide which feeds to throttle or
    * renegotiate, and the provenance-grain rollup of [[dedupProfile]]
    * (complementing [[sourceOverlap]]'s pairwise view with an absolute
    * per-source cost). Burden in integer basis points (floor division)
    * so the ranking is engine-exact. One broadcast join of the bounded
    * assignment frame against the doc→source map, one source-keyed
    * aggregation.
    */
  def sourceDupBurden(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val assign = dedupAssignments(s, dir)
    Tables(s, dir, "documents").select($"doc_id", $"source")
      .join(assign, Seq("doc_id"), "left")
      .select($"source",
        $"canon_id".isNotNull.cast("long").as("clustered"),
        ($"canon_id".isNotNull && $"canon_id" =!= $"doc_id")
          .cast("long").as("loser"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"clustered").as("n_clustered"),
        sum($"loser").as("n_dropped"))
      .select($"source", $"n_docs", $"n_clustered", $"n_dropped",
        expr("n_dropped * 10000 div n_docs").as("burden_bp"))
      .orderBy($"source")
  }

  /** Leakage-free train/val/test split: the split is decided by the
    * near-dup CLUSTER, not the document — every member of an exact- or
    * near-dup family lands in the same split, so a paraphrased copy of a
    * test document can never sit in train (the leak [[TextOps.hashSplit]]
    * cannot rule out, and the reason eval decontamination finds hits in
    * hash-split corpora at all). Group key = the cluster's canonical id
    * for clustered docs, the doc's own id otherwise, hashed with the
    * SAME salt and buckets as `hashSplit` — so unclustered docs (the
    * overwhelming majority) get the identical assignment, and adopting
    * the cluster-aware split re-shuffles only dup-family members.
    *
    * Scale: the assignment frame is the already-bounded CC output; the
    * join is a broadcast at any realistic dup fraction, and the split
    * itself stays a scan-speed projection.
    */
  def clusterSplit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val canon = dedupAssignments(s, dir).select($"doc_id", $"canon_id")
    val grouped = Tables(s, dir, "documents").select($"doc_id")
      .join(canon, Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"canon_id", $"doc_id").as("group_id"))
    val bucket = TextOps.hashBucket($"group_id", "split:")
    grouped
      .select($"doc_id", $"group_id",
        when(bucket < 80, "train").when(bucket < 90, "val")
          .otherwise("test").as("split"))
      .orderBy($"doc_id")
  }

  /** SimHash near-dup pairs: 15-bit band bucketing generates candidates
    * (linear in corpus), then the exact Hamming distance — bit_count of
    * the fingerprint XOR, one codegen'd expression — refines them to
    * pairs within `maxHamming` bits. The two-phase shape (cheap blocking
    * join, exact verify on candidates only) is the whole point of SimHash
    * at scale: the verify step never sees the corpus² pair space.
    */
  /** Default Hamming cutoff: 6 of 60 bits (10%) — the conventional
    * near-dup band for word-level SimHash. Shared with the SQL oracle.
    */
  val DefaultMaxHamming = 6

  def simhashPairs(s: SparkSession, dir: String,
                   maxHamming: Int = DefaultMaxHamming): DataFrame = {
    import s.implicits._
    // checkpoint: both sides of the bucket self-join read the fingerprint
    // frame — without it the whole token-explode + 60-vote pipeline plans
    // and runs twice. Bucket key is a LONG (band offset + 15-bit band
    // value — bijective with the (band, value) pair, so the candidate set
    // is identical): the self-join probes the bucket key once per
    // candidate (26M times at the 10x stress scale), and long hashing +
    // equality measured ~35% faster end-to-end than the string form.
    //
    // 10x-scaling note (profiled on the ScaleUp stress dir): this
    // query's runtime is ~8x at 10x data NOT because any stage is
    // superlinear but because the TRUE output grows ~10^4x (98 pairs at
    // sf0.1 -> 996,845 — the stress generator's per-copy text
    // perturbation creates genuine large near-dup clusters). Candidate
    // mass is sum of per-bucket n^2 (52M at 10x) and the join is
    // broadcast, so bucket skew cannot serialize onto one task; runtime
    // per emitted candidate is flat across scales.
    val fp = simhashFingerprints(s, dir).localCheckpoint()
    val banded = fp.select($"doc_id", $"simhash",
      explode(array(
        $"band0", $"band1" + 32768L, $"band2" + 65536L, $"band3" + 98304L)).as("bucket"))
    val a = banded.alias("a")
    val b = banded.alias("b")
    a.join(b, col("a.bucket") === col("b.bucket") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .filter($"hamming" <= maxHamming)
      .distinct()
      .orderBy($"doc_a", $"doc_b")
  }

  def bfsHops(s: SparkSession, dir: String): DataFrame =
    bfsHops(s, minhashLshPairs(s, dir))

  /** Multi-source BFS hop distance from the dedup survivors — how many
    * near-dup hops separate each discarded doc from the kept doc it
    * transitively collapsed into. Distance-0 nodes are the keep-rule
    * winners (no neighbor with a smaller id — the min-id survivor
    * convention of [[dedupClusters]]); a doc at hops >= 2 was dropped
    * WITHOUT ever being directly similar to a survivor, the transitive
    * over-merge a dedup audit wants counted. Frontier expansion is
    * min-relaxation (dist = min(dist, neighbor+1)), synchronous rounds
    * so the oracle unrolls the identical iterations; a node the wave
    * hasn't reached within `rounds` is absent (graph diameter beyond
    * the audit horizon).
    *
    * Per round: one shuffle-join of the (pinned-partitioning) edge list
    * against the shrinking-ish distance frame plus a map-side-combined
    * min — O(E) a round at any scale, checkpoint per round (lineage
    * rule at [[dedupClusters]]).
    */
  def bfsHops(s: SparkSession, pairFrame: DataFrame,
              rounds: Int = 4): DataFrame = {
    import s.implicits._
    val pairs = pairFrame.select($"doc_a", $"doc_b")
    val edges = pairs.select($"doc_a".as("a"), $"doc_b".as("b"))
      .union(pairs.select($"doc_b".as("a"), $"doc_a".as("b")))
      .repartition(col("b"))
      .localCheckpoint()
    var dist = edges.groupBy($"a".as("v")).agg(min($"b").as("mn"))
      .filter($"mn" > $"v")
      .select($"v", lit(0).as("hops"))
      .localCheckpoint()
    for (_ <- 1 to rounds) {
      dist = dist
        .union(edges.join(dist.select($"v".as("b"), $"hops"), "b")
          .select($"a".as("v"), ($"hops" + 1).as("hops")))
        .groupBy($"v").agg(min($"hops").as("hops"))
        .localCheckpoint()
    }
    dist.select($"v".as("doc_id"), $"hops").orderBy($"doc_id")
  }

  /** Fellegi–Sunter linkage weights LEARNED from the dedup graph: for
    * each cheap field comparator (lang equality, source equality,
    * 128-byte length band, first whitespace token), the
    * agreement probability among KNOWN near-dup pairs (m, from the
    * MinHash-LSH candidate set this engine already verifies) versus
    * among deterministic pseudo-random non-pairs (u, hash-order rank r
    * paired with rank r+⌊n/2⌋ — reproducible on any engine, no RNG),
    * and the resulting log₂(m/u) agreement / log₂((1−m)/(1−u))
    * disagreement weights in micro units. This is how a pipeline
    * BOOTSTRAPS cheap blocking/scoring rules from one expensive LSH
    * pass: fields whose agreement weight is high are the keys worth
    * blocking on next time; Laplace (+1/+2) smoothing keeps every
    * ratio finite with zero-agreement comparators. Scale: the feature
    * frame is one narrow projection of documents (checkpointed — four
    * join sides read it), both pair sets are |pairs|-bounded, and the
    * whole output is |comparators| rows.
    */
  def linkageWeights(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val f = Tables(s, dir, "documents")
      .select($"doc_id", $"lang", $"source",
        expr("octet_length(text) div 128").as("len_band"),
        element_at(split($"text", " ", 2), 1).as("tok1"))
      .localCheckpoint()
    val pairs = minhashLshPairs(s, dir).select($"doc_a", $"doc_b")
    val h = f.count() / 2
    // corpus-sized rank: range-partitioned two-pass (globalRowNumber),
    // never a single-partition Window.orderBy — the (md5, doc_id) key is
    // total, so the distributed ranks equal the serial ones exactly
    val rk = Relational.globalRowNumber(
        f.select($"doc_id")
          .withColumn("hk", md5(concat(lit("link:"), $"doc_id".cast("string")))),
        Seq(col("hk"), col("doc_id")))
      .select($"doc_id", $"rk".as("r"))
    val pseudo = rk.filter($"r" <= h).select($"doc_id".as("doc_a"), $"r")
      .join(rk.filter($"r" > h && $"r" <= 2 * h)
        .select($"doc_id".as("doc_b"), ($"r" - h).as("r")), "r")
      .select($"doc_a", $"doc_b")
    val comparators = Seq("lang", "source", "len_band", "first_token")
    def agreeCounts(p: DataFrame, nName: String, aName: String) = {
      val agg0 = p
        .join(f.select($"doc_id".as("doc_a"), $"lang".as("la"),
          $"source".as("sa"), $"len_band".as("ba"), $"tok1".as("ta")), "doc_a")
        .join(f.select($"doc_id".as("doc_b"), $"lang".as("lb"),
          $"source".as("sb"), $"len_band".as("bb"), $"tok1".as("tb")), "doc_b")
        .select(
          when($"la" === $"lb", 1L).otherwise(0L).as("lang"),
          when($"sa" === $"sb", 1L).otherwise(0L).as("source"),
          when($"ba" === $"bb", 1L).otherwise(0L).as("len_band"),
          when($"ta" === $"tb", 1L).otherwise(0L).as("first_token"))
        .agg(count(lit(1)).as(nName),
          comparators.map(c => sum(col(c)).as(s"a_$c")): _*)
      agg0.select(col(nName), expr(comparators
        .map(c => s"'$c', a_$c")
        .mkString("stack(4, ", ", ", s") as (comparator, $aName)")))
    }
    agreeCounts(pairs, "n_match", "m_agree")
      .join(agreeCounts(pseudo, "n_unmatch", "u_agree"), "comparator")
      .withColumn("m_ppm",
        expr("(m_agree + 1) * 1000000 div (n_match + 2)"))
      .withColumn("u_ppm",
        expr("(u_agree + 1) * 1000000 div (n_unmatch + 2)"))
      .withColumn("w_agree_u", round(log2(
        (($"m_agree" + 1L) * ($"n_unmatch" + 2L)).cast("double") /
          (($"n_match" + 2L) * ($"u_agree" + 1L)).cast("double")) * 1e6)
        .cast("long"))
      .withColumn("w_disagree_u", round(log2(
        (($"n_match" + 1L - $"m_agree") * ($"n_unmatch" + 2L))
          .cast("double") /
          (($"n_match" + 2L) * ($"n_unmatch" + 1L - $"u_agree"))
            .cast("double")) * 1e6).cast("long"))
      .select($"comparator", $"n_match", $"n_unmatch", $"m_agree",
        $"u_agree", $"m_ppm", $"u_ppm", $"w_agree_u", $"w_disagree_u")
      .orderBy($"comparator")
  }

  /** Isotonic (PAV) calibration of the composite quality score against
    * observed near-dup membership: per 0.05-wide quality bin, the raw
    * dup rate and its best MONOTONE fits in both directions, via the
    * exact minimax identity fit(b) = max_{i≤b} min_{j≥b} rate(i..j)
    * (non-decreasing) and its mirror — the closed form of
    * pool-adjacent-violators, evaluated in O(B³) integer arithmetic
    * over an audit-sized bin rollup (B ≤ 21) instead of a sequential
    * pooling loop, so both engines compute the identical fit with no
    * iteration-order ambiguity. Weighted squared-residual totals for
    * BOTH directions ship in DECIMAL(38,0), so "which monotone story
    * does the data support" (`monotone_up`) is decided data, not a
    * reading. This is the calibration audit a pipeline runs before
    * using a quality score as a dedup-priority or sampling weight:
    * an uncalibratable (non-monotone) score is noise there. Scale:
    * the corpus scan reduces to B rows before any pairwise work; the
    * B² range frame and B³ fit join ride broadcast nested loops.
    */
  def isotonicCalibration(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val pairs = minhashLshPairs(s, dir).select($"doc_a", $"doc_b")
    val members = pairs.select($"doc_a".as("doc_id"))
      .union(pairs.select($"doc_b".as("doc_id"))).distinct()
    val d = TextOps.qualityScores(s, dir)
      .select($"doc_id",
        expr("CAST(round(quality * 10000) AS BIGINT) div 500").as("bin"))
      .join(members.withColumn("dup", lit(1L)), Seq("doc_id"), "left")
      .select($"bin", coalesce($"dup", lit(0L)).as("dup"))
    val wOrd = Window.orderBy($"bin")
    val pre = d.groupBy($"bin")
      .agg(count(lit(1)).as("n_docs"), sum($"dup").as("n_dup"))
      .withColumn("idx", row_number().over(wOrd).cast("long"))
      .withColumn("cn", sum($"n_docs").over(wOrd))
      .withColumn("cd", sum($"n_dup").over(wOrd))
      .localCheckpoint() // range lo side, hi side, and final all read it
    val lo = pre.select($"idx".as("i"), ($"cn" - $"n_docs").as("cn0"),
      ($"cd" - $"n_dup").as("cd0"))
    val hi = pre.select($"idx".as("j"), $"cn".as("cn1"), $"cd".as("cd1"))
    val ranges = lo.join(broadcast(hi), $"i" <= $"j")
      .select($"i", $"j",
        expr("1000000 * (cd1 - cd0) div (cn1 - cn0)").as("rate_u"))
    val fits = pre.select($"idx".as("b"))
      .join(broadcast(ranges), $"i" <= $"b" && $"b" <= $"j")
      .groupBy($"b", $"i")
      .agg(min($"rate_u").as("mn"), max($"rate_u").as("mx"))
      .groupBy($"b")
      .agg(max($"mn").as("fit_inc_u"), min($"mx").as("fit_dec_u"))
    val all = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    pre.join(broadcast(fits), $"idx" === $"b")
      .withColumn("rate_u", expr("1000000 * n_dup div n_docs"))
      .withColumn("sse_inc", sum(expr(s"CAST(n_docs AS $dec)" +
        " * (rate_u - fit_inc_u) * (rate_u - fit_inc_u)")).over(all))
      .withColumn("sse_dec", sum(expr(s"CAST(n_docs AS $dec)" +
        " * (rate_u - fit_dec_u) * (rate_u - fit_dec_u)")).over(all))
      .select($"bin", $"n_docs", $"n_dup", $"rate_u", $"fit_inc_u",
        $"fit_dec_u",
        // weighted SSE ≤ n_docs·10¹² — inside int64 at gate scale;
        // narrow loudly (wide decimal is internal-only)
        graft.functions.num.toLongChecked($"sse_inc", "sse_inc")
          .as("sse_inc"),
        graft.functions.num.toLongChecked($"sse_dec", "sse_dec")
          .as("sse_dec"),
        ($"sse_inc" <= $"sse_dec").as("monotone_up"))
      .orderBy($"bin")
  }

  /** Capture–recapture estimate of the near-dup pairs BOTH detectors
    * missed — the Lincoln–Petersen/Chapman mark-recapture idea applied
    * to dedup QA: MinHash-LSH (capture 1) and SimHash (capture 2) are
    * two independent-ish "surveys" of the same unknown population of
    * true near-dup pairs, so the overlap between their catches
    * estimates total population N̂ = (n₁+1)(n₂+1)/(m+1) − 1 (Chapman's
    * bias-corrected form, exact integer floor) — and N̂ − |union| is
    * the ESTIMATED NUMBER OF DUPS STILL IN THE CORPUS, the number a
    * recall audit wants but ground truth can't give at 100 TB
    * (est_missed ≥ 0 always: (n₁+1)(n₂+1) − (u+1)(m+1) = (n₁−m)(n₂−m),
    * so the estimate never falls below what both nets saw). The
    * independence caveat is real (both detectors key on token
    * overlap, so the estimate is a lower bound on misses — positive
    * dependence inflates m, deflating N̂) and ships in the contract:
    * per-detector recall_ppm against N̂ alongside the raw counts.
    * Scale: both pair sets are LSH-bounded; the overlap is one join
    * on (doc_a, doc_b); output is one row.
    */
  def captureRecapture(s: SparkSession, dir: String): DataFrame =
    captureRecapture(s, dir, minhashLshPairs(s, dir))

  /** Capture 1 over a precomputed MinHash-LSH pair frame — the
    * [[sharedLshPairs]] injection point (SimHash, capture 2, is a
    * different detector by design and always builds fresh).
    */
  def captureRecapture(s: SparkSession, dir: String,
                       lshPairs: DataFrame): DataFrame = {
    import s.implicits._
    // The two detectors are INDEPENDENT job chains (MinHash banding vs
    // SimHash fingerprint+bucket join); build them concurrently (r14,
    // guide §2.6) so one chain's straggler tails back-fill with the
    // other's tasks instead of serializing ~6 driver-blocking jobs.
    // Each checkpoint is still read by both its count and overlap side.
    val Seq(mh, sh) = Sessions.inParallel(
      () => lshPairs.select($"doc_a", $"doc_b").localCheckpoint(),
      () => simhashPairs(s, dir).select($"doc_a", $"doc_b").localCheckpoint())
    val n1 = mh.agg(count(lit(1)).as("n_minhash"))
    val n2 = sh.agg(count(lit(1)).as("n_simhash"))
    val nb = mh.join(sh, Seq("doc_a", "doc_b"))
      .agg(count(lit(1)).as("n_both"))
    n1.crossJoin(broadcast(n2)).crossJoin(broadcast(nb))
      .withColumn("n_union", $"n_minhash" + $"n_simhash" - $"n_both")
      .withColumn("chapman_est", expr(
        "(n_minhash + 1) * (n_simhash + 1) div (n_both + 1) - 1"))
      .withColumn("est_missed", $"chapman_est" - $"n_union")
      .withColumn("minhash_recall_ppm",
        expr("n_minhash * 1000000 div greatest(chapman_est, 1)"))
      .withColumn("simhash_recall_ppm",
        expr("n_simhash * 1000000 div greatest(chapman_est, 1)"))
      .select($"n_minhash", $"n_simhash", $"n_both", $"n_union",
        $"chapman_est", $"est_missed", $"minhash_recall_ppm",
        $"simhash_recall_ppm")
  }

  /** Dedup threshold sweep — the DECISION table behind "where do we set
    * the similarity bar": for each candidate Jaccard threshold
    * (5000..9500 bp, step 500), the exact pair count at-or-above the
    * bar, the documents the pairwise min-id drop rule would remove,
    * and the corpus loss in basis points. Complements
    * [[pairSimilarityHistogram]] (the distribution) with the
    * CONSEQUENCE at each cut — what a data owner actually weighs.
    * Exact integer Jaccard over the LSH candidate set (the
    * [[containmentPairs]] shingle machinery); the 10-threshold fan-out
    * is a bounded generator over the already-scored pair frame, so the
    * sweep costs one scoring pass regardless of grid size.
    */
  def dedupThresholdSweep(s: SparkSession, dir: String,
                          shingleSize: Int = 3): DataFrame =
    dedupThresholdSweep(s, dir, minhashLshPairs(s, dir), shingleSize)

  /** Sweep over a precomputed candidate pair frame — the
    * [[sharedLshPairs]] injection point, so the design report pays for
    * ONE banding pass across its facets.
    */
  def dedupThresholdSweep(s: SparkSession, dir: String, pairs: DataFrame,
                          shingleSize: Int): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir, "documents")
    val nDocs = docs.count()
    val sd = shingleStream(docs, shingleSize).distinct().localCheckpoint()
    val sizes = sd.groupBy($"doc_id").agg(count(lit(1)).as("n_sh"))
    val scored = pairs
      .join(sd.toDF("doc_a", "sh"), Seq("doc_a"))
      .join(sd.toDF("doc_b", "sh"), Seq("doc_b", "sh"))
      .groupBy($"doc_a", $"doc_b").agg(count(lit(1)).as("n_shared"))
      .join(sizes.toDF("doc_a", "n_a"), Seq("doc_a"))
      .join(sizes.toDF("doc_b", "n_b"), Seq("doc_b"))
      .select($"doc_a", $"doc_b",
        expr("n_shared * 10000 div (n_a + n_b - n_shared)").as("sim_bp"))
      .localCheckpoint() // ten threshold slices read it
    scored
      .withColumn("thr_bp", explode(sequence(lit(5000L), lit(9500L),
        lit(500L))))
      .filter($"sim_bp" >= $"thr_bp")
      .groupBy($"thr_bp")
      // countDistinct, not collect_set: the dropped-doc set is
      // corpus-sized at a loose bar — keep it a distinct AGGREGATION,
      // never an in-memory array
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct($"doc_b").as("n_docs_dropped"))
      .withColumn("loss_bp",
        expr(s"n_docs_dropped * 10000 div ${nDocs}L"))
      .orderBy($"thr_bp")
  }

  /** Survivorship-bias audit of min-id dedup: does keeping the
    * EARLIEST copy of each near-dup cluster systematically shift the
    * quality distribution of what survives vs what drops? The exact
    * two-sample KS statistic between survivor and victim quality
    * (integer ECDF cross-multiplication — the [[graft.operators.Events.ksDrift]]
    * discipline, no per-point float division) plus both floor-mean
    * qualities. A large KS here means the dedup POLICY, not the dedup
    * itself, is reshaping the corpus — the signal that decides between
    * min-id and [[dedupBest]]'s quality-argmax survivor rule. One
    * groupBy over the clustered docs; the quality-cell rollup is
    * 1e4-bounded, so the ECDF window is audit-sized at any corpus.
    */
  /** Provenance mix of every dup family: per CC cluster (size ≥ 2),
    * how many docs, distinct sources, distinct languages — and the
    * cross-source flag. The audit separates WITHIN-source duplication
    * (a crawler re-fetching its own pages; dedup is safe) from
    * CROSS-source duplication (syndication/mirrors; dropping all but
    * one survivor silently changes the source mixture that
    * [[graft.operators.TextOps]]'s mixture weights were tuned on).
    * Cost on top of [[dedupAssignments]]: one join against the doc
    * metadata and one map-side-combined rollup keyed by canon —
    * cluster-bounded output at any corpus size.
    */
  def clusterProvenance(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir, "documents")
      .select($"doc_id", $"source", $"lang")
    dedupAssignments(s, dir).join(docs, "doc_id")
      .groupBy($"canon_id")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct($"source").as("n_sources"),
        countDistinct($"lang").as("n_langs"))
      .filter($"n_docs" > 1)
      .select($"canon_id", $"n_docs", $"n_sources", $"n_langs",
        ($"n_sources" > 1).as("cross_source"))
      .orderBy($"canon_id")
  }

  def dedupSurvivorship(s: SparkSession, dir: String): DataFrame =
    dedupSurvivorship(s, dir, minhashLshPairs(s, dir))

  /** Survivorship over a precomputed LSH pair frame — the
    * [[sharedLshPairs]] injection point.
    */
  def dedupSurvivorship(s: SparkSession, dir: String,
                        lshPairs: DataFrame): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val m = dedupAssignments(s, dir, lshPairs)
      .join(TextOps.qualityScores(s, dir)
        .select($"doc_id", round($"quality" * 10000).cast("long").as("qu")),
        Seq("doc_id"))
      .select($"qu",
        when($"doc_id" === $"canon_id", 1L).otherwise(0L).as("surv"))
    val cells = m.groupBy($"qu")
      .agg(sum($"surv").as("s1"), sum(lit(1L) - $"surv").as("s2"))
      .localCheckpoint() // totals and the ECDF walk both read it
    val cum = Window.orderBy($"qu")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = cells.agg(sum($"s1").as("n1"), sum($"s2").as("n2"),
      sum($"s1" * $"qu").as("sq1"), sum($"s2" * $"qu").as("sq2"))
    cells
      .select($"qu", sum($"s1").over(cum).as("f1"),
        sum($"s2").over(cum).as("f2"))
      .crossJoin(broadcast(tot))
      .agg(max($"n1").as("n_survivors"), max($"n2").as("n_victims"),
        max(abs($"f1" * $"n2" - $"f2" * $"n1")).as("ks_x"),
        max(expr("sq1 div n1")).as("mean_qu_surv"),
        max(expr("sq2 div n2")).as("mean_qu_vict"))
      .select($"n_survivors", $"n_victims",
        expr("CAST(CAST(ks_x AS DECIMAL(38,0)) * 10000" +
          " div (n_survivors * n_victims) AS BIGINT)").as("ks_bp"),
        $"mean_qu_surv", $"mean_qu_vict")
  }

  /** The dedup DESIGN REVIEW in one frame — the [[graft.operators.TextOps.releaseManifest]]
    * discipline applied to the dedup family: the four QA verdicts that
    * each separately adjudicate the SAME banding pipeline composed into
    * one long-format release artifact. "Same" is structural, not
    * aspirational: [[lshPlanner]] picks the cost-argmin (b, r) first,
    * the shared candidate frame is BANDED WITH THAT CHOSEN
    * rows-per-band (the [[plannedLshPairs]] path), and the
    * [[dedupThresholdSweep]] (at the deployed 7000 bp bar),
    * [[captureRecapture]] missed-pair estimate and [[dedupSurvivorship]]
    * policy-bias KS all adjudicate that one candidate set — so the
    * lsh_scheme facet names exactly the scheme that produced the other
    * three verdicts, whatever the planner picks on a given corpus.
    * The oracle recombines the SAME four oracle fragments (with the
    * chosen r as a scalar subquery into the band CTE) and must land
    * on identical values — the composition proof, not a new
    * computation. The planner decision frame is |divisors(numHashes)|
    * rows (checkpointed once, read by the facet and the argmin);
    * each facet's pipeline runs once over the shared pairs; the
    * report adds only bounded stacks over their (≤10-row) outputs.
    */
  def dedupDesignReport(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val plan = lshPlanner(s, dir).localCheckpoint() // facet + argmin read it
    val pick = plan.filter($"chosen").select($"b", $"r").head()
    val planner = plan.filter($"chosen")
      .selectExpr("""stack(3,
        'bands', CAST(b AS BIGINT),
        'rows_per_band', CAST(r AS BIGINT),
        'cost_u', cost_u) AS (metric, value)""")
      .select(lit("lsh_scheme").as("facet"), $"metric", $"value")
    // ONE banding pass with the planner-chosen scheme, three facets.
    // sharedLshPairs ends in an EAGER checkpoint, so the shared
    // candidate frame is fully materialized before the facets fork;
    // the facet pipelines are then independent job chains (shingle
    // re-scoring, SimHash build, CC + quality rollup) and CONSTRUCT
    // CONCURRENTLY (r14, guide §2.6) — wall-clock is the slowest
    // facet, not the sum of three serialized multi-job chains.
    val shared = sharedLshPairs(s, dir, rowsPerBand = pick.getInt(1))
    val Seq(sweep, recap, surv) = Sessions.inParallel(
      () => dedupThresholdSweep(s, dir, shared, 3)
        .filter($"thr_bp" === 7000L)
        .selectExpr("""stack(3,
          'n_pairs', n_pairs,
          'n_docs_dropped', n_docs_dropped,
          'loss_bp', loss_bp) AS (metric, value)""")
        .select(lit("threshold_7000bp").as("facet"), $"metric", $"value"),
      () => captureRecapture(s, dir, shared)
        .selectExpr("""stack(4,
          'chapman_est', chapman_est,
          'est_missed', est_missed,
          'minhash_recall_ppm', minhash_recall_ppm,
          'simhash_recall_ppm', simhash_recall_ppm) AS (metric, value)""")
        .select(lit("capture_recapture").as("facet"), $"metric", $"value"),
      () => dedupSurvivorship(s, dir, shared)
        .selectExpr("""stack(3,
          'ks_bp', ks_bp,
          'mean_qu_surv', mean_qu_surv,
          'mean_qu_vict', mean_qu_vict) AS (metric, value)""")
        .select(lit("survivorship").as("facet"), $"metric", $"value"))
    planner.unionAll(sweep).unionAll(recap).unionAll(surv)
      .orderBy($"facet", $"metric")
  }
}
