package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Output-side helpers — the reference has no sinks (results return to
  * the caller, SURVEY S7); these are the engine's scale-out write
  * paths.
  *
  * At 100 TB the write layout IS the read performance of every
  * downstream job: partition columns give directory pruning, in-file
  * sort gives min/max row-group skipping, `maxRecordsPerFile` bounds
  * file sizes (no 2 GB monsters, no 10^6 tiny files), and bucketing
  * pre-pays the shuffle of every future equi-join on the key. */
object Sinks {

  /** Hive-style partitioned parquet with bounded file sizes and an
    * in-file sort for row-group min/max skipping. */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
                       sortCols: Seq[String] = Nil,
                       maxRecordsPerFile: Long = 5000000L): Unit = {
    val sorted =
      if (sortCols.nonEmpty) df.sortWithinPartitions(sortCols.map(df.col): _*) else df
    sorted.write
      .mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionCols: _*)
      .parquet(path)
  }

  /** Bucketed managed table: equi-joins and aggregations on
    * `bucketCols` plan with no Exchange (see BucketingSpec).
    *
    * Idempotent across JVMs: a fresh session has an empty in-memory
    * catalog, but the managed table's directory under
    * `spark.sql.warehouse.dir` survives the previous run — and
    * `saveAsTable` refuses to CREATE a "new" table over a non-empty
    * location. Drop any catalog entry AND remove the orphaned
    * directory before writing, so the query can re-run in any session
    * without manual cleanup. */
  /** Drop `table` AND its warehouse location — the in-memory metastore
    * is fresh each JVM, so DROP alone cannot clean a previous run's
    * files and a re-create would fail with LOCATION_ALREADY_EXISTS. */
  def dropTableAndLocation(spark: org.apache.spark.sql.SparkSession,
                           table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val whDir = tableLocation(spark, table)
    val fs = whDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(whDir)) fs.delete(whDir, true)
  }

  /** Managed-table directory under the session warehouse (the layout
    * both the in-memory catalog and [[dropTableAndLocation]] assume). */
  def tableLocation(spark: org.apache.spark.sql.SparkSession,
                    table: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"),
      table.toLowerCase(java.util.Locale.ROOT))

  /** Idempotent unbucketed saveAsTable (location-cleaning replace). */
  def saveTableReplacing(df: DataFrame, table: String): Unit = {
    dropTableAndLocation(df.sparkSession, table)
    df.write.mode("overwrite").saveAsTable(table)
  }

  def writeBucketed(df: DataFrame, table: String, buckets: Int,
                    bucketCols: Seq[String]): Unit = {
    val spark = df.sparkSession
    dropTableAndLocation(spark, table)
    // ONE file per bucket (§6 small files): a bucketed write emits one
    // file per (input task × bucket it holds), so an AQE-sized input of
    // t tasks fragments the table into up to t·buckets files — measured
    // 2,822 files on a 5.8 MB index (44 input tasks × 64 buckets),
    // every later scan/compaction paying per-file open+footer cost.
    // repartition(buckets, cols) is the SAME hash law as the bucket id
    // (pmod(Murmur3(cols), buckets) — BucketingSpec pins it), so each
    // write task holds exactly one bucket → exactly one file per
    // non-empty bucket, which also keeps the sortBy metadata usable
    // (Spark drops per-bucket sortedness on multi-file buckets).
    df.repartition(buckets, bucketCols.map(df.col): _*)
      .write
      .mode("overwrite")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(table)
  }

  /** Append rows to an EXISTING bucketed table, preserving its bucket
    * spec: `insertInto` resolves the table's bucketing and clusters
    * the incoming rows into the same bucket files' hash space (each
    * append adds one file per touched bucket — periodic
    * [[graft.operators.IndexLifecycle]] compaction folds them).
    * Column resolution of `insertInto` is POSITIONAL, so the frame is
    * realigned to the catalog schema by name first. */
  def appendBucketed(df: DataFrame, table: String): Unit = {
    val spark = df.sparkSession
    val cols = spark.table(table).columns
    val aligned = df.select(cols.map(df.col).toIndexedSeq: _*)
    // one file per TOUCHED bucket per append, not per (task × bucket):
    // same single-exchange clustering as writeBucketed, sized by the
    // table's own bucket spec
    val clustered = org.apache.spark.sql.graftbridge.BucketBridge
      .bucketSpecOf(spark, table) match {
      case Some((n, bcols)) =>
        aligned.repartition(n, bcols.map(aligned.col): _*)
      case None => aligned
    }
    clustered.write.mode("append").insertInto(table)
  }

  /** Name of the carry manifest a partially-rewritten generation
    * places in its own directory: each listed file is carried forward
    * from the PREVIOUS generation (the `_bak` table) by rename after
    * the swap — the partition-pruned-compaction protocol of
    * [[graft.operators.IndexLifecycle.compactMinHashIndex]]. The
    * leading underscore keeps Spark's file index from reading it. */
  private val CarryManifest = "_carry_from_bak"

  /** Record that `newTable`'s generation carries `fileNames` forward
    * from the table it will replace. Must be called BEFORE
    * [[swapInTable]]; the swap completes the carry. No listed name may
    * already exist in `newTable`'s directory: [[completeCarry]] skips a
    * name that is present (its crash-resume law), so such a collision
    * would silently drop the old file together with the bak. */
  def writeCarryManifest(spark: org.apache.spark.sql.SparkSession,
                         newTable: String, fileNames: Seq[String]): Unit = {
    val dir = tableLocation(spark, newTable)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fileNames.foreach { name =>
      require(!fs.exists(new org.apache.hadoop.fs.Path(dir, name)),
        s"carried file $name already exists in $newTable's directory $dir")
    }
    val out = fs.create(new org.apache.hadoop.fs.Path(dir, CarryManifest), true)
    try out.write(fileNames.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Complete a pending carry on `table`: move every manifest-listed
    * file from `<table>_bak`'s directory into `table`'s, then drop the
    * manifest. Idempotent and crash-resumable — a file already present
    * in `table` is skipped, so re-running after a crash mid-carry
    * finishes the remainder. No-op without a manifest. The bak table
    * is NOT dropped here (the caller decides when the generation is
    * fully committed). A listed file that is in neither directory is
    * lost: the generation cannot be completed from the bak, and the
    * error names the table, the manifest, the file and the repair
    * (rebuild the table). */
  def completeCarry(spark: org.apache.spark.sql.SparkSession,
                    table: String): Unit = {
    val dir = tableLocation(spark, table)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val manifest = new org.apache.hadoop.fs.Path(dir, CarryManifest)
    if (!fs.exists(manifest)) return
    val in = fs.open(manifest)
    val names =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).toList
      finally in.close()
    val bakDir = tableLocation(spark, s"${table}_bak")
    names.foreach { name =>
      val dst = new org.apache.hadoop.fs.Path(dir, name)
      if (!fs.exists(dst)) {
        val src = new org.apache.hadoop.fs.Path(bakDir, name)
        if (!fs.exists(src)) throw new IllegalStateException(
          s"cannot complete the carry into table $table: its manifest $manifest lists $name, " +
            s"which is in neither $dir nor ${table}_bak's directory $bakDir. This generation " +
            s"cannot be completed from the bak; rebuild $table with a full rewrite.")
        require(fs.rename(src, dst), s"carry rename $src -> $dst failed")
      }
    }
    fs.delete(manifest, false)
    ()
  }

  /** Crash-safe managed-table swap (the two-rename law of
    * [[mergeAggState]]/[[compact]] lifted to catalog tables): rename
    * `table` aside to `<table>_bak`, rename `newTable` in, complete
    * any carry the new generation declared (file-level carry-forward
    * from the old generation — see [[writeCarryManifest]]), drop the
    * bak — a complete committed generation exists under SOME name (or
    * as table + manifest + bak, which [[recoverSwappedTable]] can
    * always finish) at every instant. */
  def swapInTable(spark: org.apache.spark.sql.SparkSession,
                  newTable: String, table: String): Unit = {
    require(spark.catalog.tableExists(newTable), s"missing $newTable")
    dropTableAndLocation(spark, s"${table}_bak")
    if (spark.catalog.tableExists(table))
      spark.sql(s"ALTER TABLE `$table` RENAME TO `${table}_bak`")
    spark.sql(s"ALTER TABLE `$newTable` RENAME TO `$table`")
    completeCarry(spark, table)
    dropTableAndLocation(spark, s"${table}_bak")
  }

  /** Recover from a crash inside [[swapInTable]]: a missing `table`
    * with a surviving `<table>_bak` means the crash hit between the
    * two renames — the bak IS the last committed generation. A
    * leftover bak NEXT TO a live table is either an interrupted carry
    * (live table still names files to pull from the bak — finish it)
    * or post-commit debris; completing the (idempotent, possibly
    * empty) carry first makes dropping the bak safe in both cases. */
  def recoverSwappedTable(spark: org.apache.spark.sql.SparkSession,
                          table: String): Unit = {
    val hasTable = spark.catalog.tableExists(table)
    val hasBak = spark.catalog.tableExists(s"${table}_bak")
    if (!hasTable && hasBak)
      spark.sql(s"ALTER TABLE `${table}_bak` RENAME TO `$table`")
    else if (hasTable && hasBak) {
      completeCarry(spark, table)
      dropTableAndLocation(spark, s"${table}_bak")
    }
  }

  /** Globally range-sorted parquet: `orderBy` range-partitions the
    * data so each output file covers a DISJOINT sort-key range, and
    * `parquet.block.size` bounds row-group size so min/max statistics
    * work at sub-file granularity. A later filter on the sort key then
    * skips whole files (disjoint ranges) and, inside the touched
    * files, whole row groups (parquet min/max + pushed filters) —
    * data skipping paid for once at write time, amortized by every
    * downstream read. SortedScanSpec measures the skip: the scan's
    * output-row metric must stay far below the table size. */
  def writeSorted(df: DataFrame, path: String, sortCols: Seq[String],
                  rowGroupBytes: Long = 8L * 1024 * 1024): Unit =
    df.orderBy(sortCols.map(df.col): _*)
      .write
      .mode("overwrite")
      .option("parquet.block.size", rowGroupBytes)
      .parquet(path)

  /** Deterministic training-export sharding: the "global shuffle" a
    * training run needs, computed as a pure function of the key so it
    * is reproducible, partitioning-invariant, and join-stable. Adds
    * `shard` = md5₁₆(key) mod nShards and `pos` = 1-based rank of
    * (md5(key), key) within the shard — i.e. every shard is a
    * hash-shuffled, totally-ordered slice of the corpus, and the
    * concatenation shard 0..n-1 is a deterministic permutation of the
    * whole dataset.
    *
    * Scale shape: the rank is a window PER SHARD — nShards independent
    * sorts (pick nShards ≥ cluster parallelism; a 100 TB corpus at
    * 4096 shards sorts ~25 GB per shard, spill-safe) — never one
    * global sort. Writing is `writePartitioned(out, path,
    * Seq("shard"), sortCols = Seq("pos"))`: directory-per-shard,
    * position-ordered files, so a training reader streams shard k in
    * order with zero further shuffling. md5-hex order is ASCII
    * lexicographic — identical in any engine, so the permutation is
    * cross-engine reproducible (same idiom as [[graft.operators.Sampling]]). */
  /** 2-D Morton (Z-order) code: interleaves the low `bitsPer` bits of
    * two non-negative integer columns — x on even bit positions, y on
    * odd. Pure builtin shift/mask/sum arithmetic (bit positions are
    * disjoint, so + is |), whole-stage-codegen'd, reproducible by any
    * engine with 64-bit integer ops. 21 bits per key covers 2M
    * distinct values each and fits the 42-bit code in a long. */
  def zorder2(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column,
              bitsPer: Int = 21): org.apache.spark.sql.Column = {
    require(bitsPer >= 1 && bitsPer <= 31, s"bitsPer=$bitsPer")
    val xl = x.cast("long")
    val yl = y.cast("long")
    (0 until bitsPer).map { i =>
      (shiftright(xl, i).bitwiseAND(1L) * (1L << (2 * i))) +
        (shiftright(yl, i).bitwiseAND(1L) * (1L << (2 * i + 1)))
    }.reduce(_ + _)
  }

  /** Z-order clustered write: range-partition on the Morton code of
    * (xCol, yCol), sort within partitions, write parquet. Each output
    * file then covers a compact rectangle-ish region of the 2-D key
    * space, so a reader filtering on EITHER key prunes most files via
    * parquet min/max stats — the standard lakehouse layout for
    * multi-dimensional locality at 100 TB (one total-order sort by a
    * single derived column; no all-pairs clustering). */
  def writeZOrdered(df: DataFrame, path: String, xCol: String, yCol: String,
                    numFiles: Int, bitsPer: Int = 21): Unit =
    df.withColumn("_z", zorder2(col(xCol), col(yCol), bitsPer))
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode("overwrite").parquet(path)

  def assignTrainingShards(df: DataFrame, keyCol: String,
                           nShards: Int): DataFrame = {
    require(nShards >= 1, s"nShards=$nShards")
    val hk = md5(col(keyCol).cast("string").cast("binary"))
    val shard = (conv(substring(col("hk"), 1, 4), 16, 10).cast("int")
      % nShards).as("shard")
    val w = Window.partitionBy(col("shard")).orderBy(col("hk"), col(keyCol))
    df.withColumn("hk", hk)
      .withColumn("shard", shard)
      .withColumn("pos", row_number().over(w))
      .drop("hk")
  }

  /** Incremental aggregate maintenance — the batch seam of a streaming
    * aggregation, kept in plain parquet: a stored (keys, count, sum)
    * state merges with a new batch's partial aggregate by union +
    * re-aggregate, touching ONLY state-size + batch-size rows — the
    * historical raw data is never rescanned. count/sum (and any other
    * algebraic aggregate) re-aggregate losslessly; averages derive at
    * read time. The new state lands beside the old and replaces it by
    * a two-rename swap (state → _bak, new → state, drop _bak), so a
    * complete committed state exists on disk at every instant; a merge
    * that crashes mid-swap is recovered from _bak on the next call. */
  def mergeAggState(statePath: String, batch: DataFrame, keyCols: Seq[String],
                    countCol: String, sumCol: String): DataFrame = {
    val spark = batch.sparkSession
    import org.apache.spark.sql.functions._
    val target = new org.apache.hadoop.fs.Path(statePath)
    val bak = new org.apache.hadoop.fs.Path(statePath + "_bak")
    val tmpP = new org.apache.hadoop.fs.Path(statePath + "_tmp")
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Recover from a crash inside a previous swap: the state is never
    // deleted before its replacement is in place (see below), so a
    // missing target with a surviving _bak means the crash hit between
    // the two renames — the _bak IS the last committed state.
    if (!fs.exists(target) && fs.exists(bak)) fs.rename(bak, target)
    val batchAgg = batch.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as(countCol), sum(col(sumCol)).as(sumCol))
    val merged =
      if (!fs.exists(target)) batchAgg
      else spark.read.parquet(statePath).unionByName(batchAgg)
        .groupBy(keyCols.map(col): _*)
        .agg(sum(col(countCol)).as(countCol), sum(col(sumCol)).as(sumCol))
    if (fs.exists(tmpP)) fs.delete(tmpP, true) // leftover from a crashed write
    merged.write.mode("overwrite").parquet(tmpP.toString)
    // Two-rename swap: at every instant either target or _bak holds a
    // complete committed state (renames are atomic on HDFS-like FSs; a
    // delete-then-rename would open a window where a crash loses the
    // state entirely).
    if (fs.exists(bak)) fs.delete(bak, true)
    // verified renames: see compact() — an unchecked failure here
    // followed by the bak delete would lose the committed state
    if (fs.exists(target))
      require(fs.rename(target, bak), s"mergeAggState: rename $target -> $bak failed")
    require(fs.rename(tmpP, target), s"mergeAggState: rename $tmpP -> $target failed")
    fs.delete(bak, true)
    spark.read.parquet(statePath)
  }

  /** Compact a parquet directory's small files: rewrite to
    * ⌈total bytes / targetBytes⌉ outputs and swap in place with the
    * same two-rename law as [[mergeAggState]] (a complete committed
    * copy exists on disk at every instant; a crash mid-swap recovers
    * from `_bak` on the next call). The small-files problem is the
    * slow death of long-lived pipeline state — every micro-batch
    * append and incremental merge leaves files behind, and a 100 TB
    * table read through 10⁶ tiny files pays scheduler and
    * footer-parse overhead per file. Returns (filesBefore,
    * filesAfter). Row-order within the table is not preserved
    * (parquet state tables are unordered by contract — the sorted
    * sinks own ordering). */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
              targetBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    require(targetBytes > 0, s"targetBytes=$targetBytes")
    val target = new org.apache.hadoop.fs.Path(path)
    val bak = new org.apache.hadoop.fs.Path(path + "_bak")
    val tmpP = new org.apache.hadoop.fs.Path(path + "_tmp")
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(target) && fs.exists(bak)) fs.rename(bak, target)
    val parts = fs.listStatus(target)
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
    val before = parts.length
    val totalBytes = parts.map(_.getLen).sum
    val n = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    if (fs.exists(tmpP)) fs.delete(tmpP, true)
    spark.read.parquet(path).repartition(n)
      .write.mode("overwrite").parquet(tmpP.toString)
    if (fs.exists(bak)) fs.delete(bak, true)
    // Renames MUST be verified: an unchecked false from the second
    // rename followed by the bak delete would destroy the only
    // committed copy. Fail loudly instead — bak still holds the data
    // and the next call's recovery path restores it.
    require(fs.rename(target, bak), s"compact: rename $target -> $bak failed")
    require(fs.rename(tmpP, target), s"compact: rename $tmpP -> $target failed")
    fs.delete(bak, true)
    fs.listStatus(target)
      .count(s => s.isFile && s.getPath.getName.startsWith("part-")) match {
      case after => (before, after)
    }
  }
}
