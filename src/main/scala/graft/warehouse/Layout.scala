package graft.warehouse

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}

/** Table-maintenance operators for a parquet warehouse: small-file
  * compaction and sort-clustered rewrite (the OPTIMIZE step of any
  * long-lived 100 TB table).
  *
  * Why it exists: streaming appends and fine-grained partition writes
  * accumulate kilobyte files; at scan time every file costs a task
  * launch and a footer read, so a million-file table is slow before a
  * single row is decoded. Rewriting to ~`targetFileBytes` files — and,
  * when a clustering key is given, range-partitioning + sorting by it —
  * restores (a) few right-sized tasks and (b) tight per-file min/max
  * statistics, which is what makes parquet row-group/file pruning
  * actually fire for range predicates on the cluster key (same
  * motivation as the geo bounding-box pre-filter: give the scan
  * something it can prune on).
  *
  * The reference analog is K1's batched loads (utils/__init__.py:17-56
  * commits every 100k rows); compaction is the columnar equivalent of
  * choosing a sane batch size after the fact.
  */
object Layout {

  /** Total on-disk bytes of the frame's input files (driver-side file
    * metadata only — no data read).
    */
  def inputBytes(df: DataFrame): Long = {
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    df.inputFiles.map { f =>
      val p = new Path(f)
      p.getFileSystem(conf).getFileStatus(p).getLen
    }.sum
  }

  /** Rewrite `srcDir` (parquet) into `dstDir` as ~`targetFileBytes`
    * files. With `clusterBy` non-empty the rewrite range-partitions and
    * sorts within partitions on those columns, so each output file owns
    * a disjoint key range (prunable). Returns the output file count.
    *
    * Partition count derives from observed input bytes, floored at 1 —
    * parquet encoding usually tightens on rewrite (bigger row groups,
    * better dictionaries), so this errs toward files ≤ target size.
    */
  def compact(spark: SparkSession, srcDir: String, dstDir: String,
              targetFileBytes: Long = 128L << 20,
              clusterBy: Seq[String] = Nil): Int = {
    val df = graft.Tables.readParquet(spark, srcDir)
    val n = math.max(1, math.ceil(inputBytes(df).toDouble / targetFileBytes).toInt)
    val shaped =
      if (clusterBy.isEmpty) df.repartition(n)
      else {
        val cols = clusterBy.map(df.col)
        df.repartitionByRange(n, cols: _*).sortWithinPartitions(cols: _*)
      }
    shaped.write.mode("overwrite").parquet(dstDir)
    graft.Tables.readParquet(spark, dstDir).inputFiles.length
  }

  /** OPTIMIZE for a BUCKETED catalog table (the stored band / winnow /
    * term indexes): streaming sinks append one file-set per micro-batch,
    * so a long-lived index accumulates files per bucket while its probe
    * plans stay correct but its scans slow down. This rewrite reads the
    * table, repartitions on the bucket column with exactly `nBuckets`
    * tasks (Spark's bucket id and `repartition` both use Murmur3 pmod,
    * so each task holds exactly one bucket → ONE file per bucket), and
    * writes with the SAME bucketBy spec — probe plans keep the
    * shuffle-free bucketed join, only the file count changes.
    *
    * The swap is drop-and-rename through a staging table (`_compacting`
    * suffix): not concurrent-reader-safe — run it in the maintenance
    * window between streaming batches, like every OPTIMIZE. Returns
    * (files before, files after).
    *
    * Crash recovery: a failure between the DROP and the RENAME leaves
    * the catalog with no `table` and the freshly-compacted data only
    * under `table_compacting`. The entry check below detects that state
    * (staging present, target absent) and FINISHES the rename instead
    * of re-running; any other leftover staging table (both present —
    * an earlier run died before its DROP) aborts with a recovery hint
    * rather than silently dropping data.
    */
  def compactBucketedTable(spark: SparkSession, table: String,
                           nBuckets: Int, bucketCol: String): (Int, Int) = {
    val tmp = table + "_compacting"
    if (spark.catalog.tableExists(tmp)) {
      if (!spark.catalog.tableExists(table)) {
        // prior run crashed between DROP and RENAME: the staging table
        // holds the complete compacted data — finish the promote
        spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
        val n = spark.table(table).inputFiles.length
        return (n, n)
      }
      throw new IllegalStateException(
        s"$tmp already exists alongside $table — an earlier compaction " +
        s"died mid-write. Inspect both, then DROP TABLE $tmp (the " +
        s"original $table is intact) and re-run.")
    }
    val before = spark.table(table).inputFiles.length
    spark.table(table)
      .localCheckpoint() // strip the scan's partitioning claim so the
                         // repartition below survives write planning
      .repartition(nBuckets,
        org.apache.spark.sql.functions.col(bucketCol))
      .write.mode("overwrite")
      .bucketBy(nBuckets, bucketCol).sortBy(bucketCol)
      .saveAsTable(tmp)
    spark.sql(s"DROP TABLE $table")
    spark.sql(s"ALTER TABLE $tmp RENAME TO $table")
    (before, spark.table(table).inputFiles.length)
  }

  /** OPTIMIZE for a (lang, bin)-partitioned TEXT shard tree (the
    * tokenize-pack-shard sink's output): streaming appends add one file
    * per partition per micro-batch, so a long-lived shard dir scans a
    * file per batch ever appended. This rewrite reads the tree
    * (partition discovery supplies lang/bin), repartitions on the
    * partition key (one task → one file per partition dir), and swaps
    * the compacted tree in per-partition — content-identical, only the
    * file count changes.
    *
    * Crash safety (single-WRITER window, like every OPTIMIZE — but the
    * restarted writer may APPEND between a crash and the next
    * compaction, and ad-hoc readers may scan at any time, so the swap
    * must never hold the only copy of committed data in a state a
    * recovery pass could delete): the compacted tree stages under
    * `_compact_tmp` (underscore-prefixed — invisible to partition
    * discovery, like `_pack_state`), each lang dir is then moved whole
    * to an invisible `_new_<dir>` sibling, and the visible swap per
    * directory is RENAME-ASIDE: live dir → `_old_<dir>`, `_new_<dir>`
    * → live, delete `_old_`. The live dir is absent only between two
    * metadata renames (no delete in the reader-visible window), and at
    * every instant committed data exists under the live name, `_old_`,
    * or `_new_`.
    *
    * Entry-time recovery is NON-DESTRUCTIVE by case analysis on what a
    * crash (plus any post-crash appends by the restarted sink) can
    * leave behind:
    *   - `_new_` present, live dir ABSENT: crashed between the two
    *     renames — `_new_` is the only complete copy; finish the
    *     promote (and drop the superseded `_old_`).
    *   - `_new_` AND `_old_` present, live dir present: crashed between
    *     the renames AND the restarted sink recreated the live dir with
    *     post-crash batches only (the pre-crash content is `_old_` ≡
    *     compacted `_new_`). Merge the live dir's data files INTO
    *     `_new_`, promote it, drop `_old_` — nothing committed is lost.
    *   - `_new_` present, `_old_` absent, live dir present: the swap
    *     for this dir never started, so the live dir is the complete
    *     (possibly newer) copy and `_new_` is a stale build — delete
    *     `_new_`, let this run rebuild. (The pre-round-13 recovery
    *     deleted the LIVE dir here, silently dropping any batches the
    *     restarted sink had committed since the crash.)
    *   - `_old_` present, `_new_` absent: crashed after the promote —
    *     the live dir is complete; drop `_old_` (or, if the live dir is
    *     somehow absent too, restore `_old_` as the live dir).
    * A crash mid-staging just leaves a stale `_compact_tmp` that the
    * next run deletes and rewrites. Returns (files before, files after).
    */
  def compactPartitionedText(spark: SparkSession, dir: String,
                             partCols: Seq[String] = Seq("lang", "bin"))
      : (Int, Int) = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val newPrefix = "_new_"
    val oldPrefix = "_old_"
    def children() = fs.listStatus(root).filter(_.isDirectory).map(_.getPath)
    def visible(n: String) = !n.startsWith("_") && !n.startsWith(".")
    // move every visible data file/dir under src into dst (recursively),
    // uniquifying on the ~impossible name collision rather than clobbering
    def mergeVisibleInto(src: Path, dst: Path): Unit =
      fs.listStatus(src).foreach { st =>
        val n = st.getPath.getName
        if (visible(n)) {
          val d = new Path(dst, n)
          if (st.isDirectory) {
            if (!fs.exists(d)) { fs.rename(st.getPath, d); () }
            else mergeVisibleInto(st.getPath, d)
          } else {
            var cand = d
            var i = 0
            while (fs.exists(cand)) { i += 1; cand = new Path(dst, s"${n}_r$i") }
            fs.rename(st.getPath, cand)
            ()
          }
        }
      }
    def promote(nw: Path): Unit = {
      val name = nw.getName.drop(newPrefix.length)
      val target = new Path(root, name)
      val aside = new Path(root, oldPrefix + name)
      if (fs.exists(target)) fs.rename(target, aside)
      fs.rename(nw, target)
      if (fs.exists(aside)) fs.delete(aside, true)
      ()
    }
    // non-destructive recovery of any crashed swap before touching the tree
    children().filter(_.getName.startsWith(newPrefix)).foreach { nw =>
      val name = nw.getName.drop(newPrefix.length)
      val target = new Path(root, name)
      val aside = new Path(root, oldPrefix + name)
      if (!fs.exists(target)) {
        // crashed between rename-aside and rename-in: _new_ holds the
        // only complete copy — finish the promote
        fs.rename(nw, target)
        if (fs.exists(aside)) fs.delete(aside, true)
      } else if (fs.exists(aside)) {
        // mid-swap crash + restarted sink recreated the live dir with
        // post-crash appends only: fold them into the compacted copy
        mergeVisibleInto(target, nw)
        fs.delete(target, true)
        fs.rename(nw, target)
        fs.delete(aside, true)
      } else {
        // swap never started: the live dir is authoritative (and may
        // carry post-crash appends) — the staged copy is stale
        fs.delete(nw, true)
      }
      ()
    }
    // _old_ without _new_: crashed after the promote — live dir complete
    children().filter(_.getName.startsWith(oldPrefix)).foreach { od =>
      val target = new Path(root, od.getName.drop(oldPrefix.length))
      if (fs.exists(target)) fs.delete(od, true) else fs.rename(od, target)
      ()
    }
    val staging = new Path(root, "_compact_tmp")
    if (fs.exists(staging)) fs.delete(staging, true) // stale partial build
    def filesUnder(p: Path): Seq[Path] = {
      val it = fs.listFiles(p, true)
      val buf = scala.collection.mutable.ArrayBuffer[Path]()
      while (it.hasNext) buf += it.next().getPath
      buf.toSeq
    }
    def dataFiles() = children()
      .filter(p => p.getName.contains("="))
      .flatMap(filesUnder)
    val before = dataFiles().length
    if (before == 0) return (0, 0) // nothing visible to compact yet
    spark.read.text(dir)
      .repartition(partCols.map(org.apache.spark.sql.functions.col): _*)
      .write.mode("overwrite").partitionBy(partCols: _*)
      .text(staging.toString)
    // stage every compacted partition dir invisibly, then swap each in
    val built = fs.listStatus(staging).filter(_.isDirectory).map(_.getPath)
    built.foreach(p => fs.rename(p, new Path(root, newPrefix + p.getName)))
    fs.delete(staging, true)
    children().filter(_.getName.startsWith(newPrefix)).foreach(promote)
    (before, dataFiles().length)
  }

  /** Column expression for the Morton interleave of already-normalized
    * dimensions (each in [0, 2^16) — see
    * [[graft.functions.expressions.ZOrderKey]]).
    */
  def zOrderKey(dims: Seq[Column]): Column =
    GraftBridge.column(graft.functions.expressions.ZOrderKey(
      dims.map(GraftBridge.expression)))

  /** Oracle-checkable projection of the interleave itself: the Z-order
    * key of every lineitem over its (part, supplier) low-16-bit lanes.
    * Pure per-row expression — the oracle reproduces the same bit
    * arithmetic explicitly, pinning the exact interleave contract
    * (which bit of which dimension lands where) rather than just
    * round-tripping our own implementation.
    */
  def zOrderKeys(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val li = graft.Tables(s, dir, "lineitem")
    li.select(col("l_orderkey"), col("l_linenumber"),
        zOrderKey(Seq(
          pmod(col("l_partkey"), lit(65536)).cast("long"),
          pmod(col("l_suppkey"), lit(65536)).cast("long"))).as("zkey"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** Multi-dimensional clustered rewrite: like [[compact]] with
    * `clusterBy`, but range-partitions + sorts on the Z-order interleave
    * of 2-3 columns, so every output file is bounded in EVERY clustered
    * dimension (a Z-curve segment ≈ a hyper-rectangle) instead of only
    * the first sort column. File/row-group min-max pruning then fires
    * for range predicates on any of the clustered columns — the layout a
    * 100 TB table wants when two independent access paths (say user_id
    * and event day) both matter.
    *
    * Dimensions are linearly scaled into the 16-bit lane via one small
    * min/max aggregation over the input (a metadata-cheap extra scan —
    * at scale, pass cached table stats instead). Degenerate (constant)
    * dimensions scale to lane 0 and simply stop contributing bits.
    */
  def zOrderCompact(spark: SparkSession, srcDir: String, dstDir: String,
                    zorderBy: Seq[String],
                    targetFileBytes: Long = 128L << 20): Int = {
    import org.apache.spark.sql.functions._
    require(zorderBy.size >= 2 && zorderBy.size <= 3,
      s"zOrderCompact clusters 2-3 dims, got ${zorderBy.size}")
    val df = graft.Tables.readParquet(spark, srcDir)
    val nOut = math.max(1, math.ceil(
      inputBytes(df).toDouble / targetFileBytes).toInt)
    val aggs = zorderBy.flatMap(c => Seq(
      min(col(c)).cast("double"), max(col(c)).cast("double")))
    val bounds = df.agg(aggs.head, aggs.tail: _*).head()
    val laneMax = (1L << 16) - 1
    val dims = zorderBy.zipWithIndex.map { case (c, i) =>
      val lo = bounds.getDouble(2 * i)
      val hi = bounds.getDouble(2 * i + 1)
      val span = math.max(hi - lo, java.lang.Double.MIN_NORMAL)
      least(lit(laneMax), greatest(lit(0L),
        floor((col(c).cast("double") - lit(lo)) / lit(span) * lit(laneMax.toDouble))
          .cast("long")))
    }
    val zkey = zOrderKey(dims)
    df.repartitionByRange(nOut, zkey)
      .sortWithinPartitions(zkey)
      .write.mode("overwrite").parquet(dstDir)
    graft.Tables.readParquet(spark, dstDir).inputFiles.length
  }
}
