package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Sinks

/** Multi-day lifecycle of the standing dedup indexes: build once,
  * APPEND deltas daily, compact occasionally — closing the gap where
  * the daily incremental sweep silently depended on an O(corpus)
  * full-index rewrite to fold each day's survivors in
  * (rewrite-on-compaction was the r13 MinHash index contract, because
  * that index denormalizes a per-row bucket count `bsz` that appends
  * would leave generation-scoped and therefore cap-inconsistent).
  *
  * The growable MinHash index keeps the band rows append-only and
  * moves bucket-count truth OUT of the rows into two side tables,
  * LSM-style:
  *
  *  - `<t>_hist` — the generation-0 FULL bucket histogram
  *    `(band, bucket, bsz)`, bucketed like the index; written at
  *    build/compaction time by re-counting the 3-long index rows
  *    (never by re-banding text).
  *  - `<t>_statlog` — an append-only log of per-APPEND partial counts
  *    `(band, bucket, n)`; each append writes only ITS delta's
  *    touched buckets (O(delta) rows).
  *
  * A bucket's true current size is `hist ⊕ Σ statlog`, so the
  * degenerate-bucket cap at probe time is EXACT across generations —
  * including the pathology that killed naive appends: a bucket
  * crossing the cap only across appends is dropped whole, never
  * partially (per-row `bsz` is generation-scoped and advisory on a
  * grown index; the probe here never reads it).
  *
  * Cost model at 100 TB (why each op is shaped this way):
  *  - append: band the delta (O(delta) text), ONE column-pruned scan
  *    of `_hist` to fetch old counts of touched buckets (no shuffle —
  *    the touched set broadcasts), O(delta) appended rows + log rows.
  *    The probe already scans the whole index every sweep, so a
  *    3-long-column histogram scan per append is strictly cheaper
  *    than what every probe pays — and ~3 orders of magnitude cheaper
  *    than re-banding corpus text.
  *  - probe: identical to [[Dedup.incrementalNearDupPairs]] except
  *    the cap comes from `hist ⊕ log` as a broadcast anti-join on the
  *    DELTA band rows (hot buckets number at most index_rows / cap —
  *    bounded far below the index, same argument as the write-path
  *    stats broadcast).
  *  - compact: re-count + rewrite from the 4-long index rows only —
  *    ZERO text; folds the per-append bucket files and the statlog,
  *    restoring per-row bsz = true count. ONE routine does it for
  *    both regimes, differing only in the rows it recounts and the
  *    files it carries: the touched file-buckets' files, every other
  *    file carried forward by rename (O(touched)), or — after a
  *    crashed append, or when every file-bucket was touched — the
  *    whole bucketed table with nothing carried (O(index)).
  *
  * Durability: appends write rows THEN log (a crash between leaves the
  * log undercounting — [[minhashIndexFsck]] detects, [[compactMinHashIndex]]
  * repairs); table swaps follow the two-rename law
  * ([[Sinks.swapInTable]]) with [[Sinks.recoverSwappedTable]] run at
  * every entry point. Single-writer per index (maintenance-window
  * contract), readers any time.
  *
  * The dHash and digest indexes carry no denormalized stats, so their
  * appends are plain bucketed inserts ([[appendToDHashIndex]],
  * [[appendToDigestIndex]]). */
object IndexLifecycle {

  private def hist(table: String) = s"${table}_hist"
  private def statlog(table: String) = s"${table}_statlog"

  /** Build the growable index: the standard [[Dedup.writeMinHashIndex]]
    * band table PLUS the generation-0 full histogram, derived by
    * re-counting the just-written 3-long rows (exchange-free groupBy
    * under the bucket layout — the text is banded exactly once). Any
    * pre-existing statlog is dropped: this is generation 0. */
  def writeGrowableMinHashIndex(df: DataFrame, idCol: String, textCol: String,
                                table: String, buckets: Int,
                                numHashes: Int = 128, bands: Int = 32,
                                rowsPerBand: Int = 4, shingleK: Int = 8): Unit = {
    val spark = df.sparkSession
    Dedup.writeMinHashIndex(df, idCol, textCol, table, buckets,
      numHashes, bands, rowsPerBand, shingleK)
    Sinks.writeBucketed(Dedup.bucketCounts(spark.table(table)), hist(table),
      buckets, Seq("band", "bucket"))
    Sinks.dropTableAndLocation(spark, statlog(table))
  }

  /** 0-row frame with the statlog's exact shape — the no-appends-yet
    * stand-in (`band` int, `bucket` long, the count column long). An
    * empty LocalRelation with REAL attributes, not range(0) +
    * literals: foldable `lit(0)` key columns constant-fold out of the
    * join condition, degrading the downstream equi-joins to
    * BroadcastNestedLoopJoin (caught by PlanSpec's no-cartesian
    * gate); a true empty relation instead lets
    * PropagateEmptyRelation collapse the join entirely. */
  private def emptyLog(spark: SparkSession, countCol: String): DataFrame = {
    import spark.implicits._
    Seq.empty[(Int, Long, Long)].toDF("band", "bucket", countCol)
  }

  /** The statlog's rows, or [[emptyLog]] before the first append. */
  private def statlogRows(spark: SparkSession, table: String): DataFrame =
    if (spark.catalog.tableExists(statlog(table))) spark.table(statlog(table))
    else emptyLog(spark, "n")

  /** Fold a day's delta into the standing index WITHOUT rewriting it:
    * O(delta) appended band rows + O(delta) statlog rows + one
    * column-pruned histogram scan. Appended rows carry per-row `bsz`
    * = the bucket's true total AS OF THIS APPEND (write-time truth,
    * advisory thereafter — the probe derives the cap from hist ⊕ log,
    * never from row bsz on a grown index). */
  def appendToMinHashIndex(delta: DataFrame, idCol: String, textCol: String,
                           table: String, numHashes: Int = 128,
                           bands: Int = 32, rowsPerBand: Int = 4,
                           shingleK: Int = 8): Unit = {
    val spark = delta.sparkSession
    Sinks.recoverSwappedTable(spark, table)
    Sinks.recoverSwappedTable(spark, hist(table))
    val d = Dedup.bandRows(delta, idCol, textCol, numHashes, bands,
      rowsPerBand, shingleK).cache()
    try {
      // this append's touched buckets and their delta counts —
      // O(delta·bands) rows, the broadcast bound of every join below
      // (a sweep's delta is small by definition; a "delta" too big to
      // broadcast its bucket histogram belongs in a build, not an
      // append)
      val dCounts = d.groupBy("band", "bucket")
        .agg(count(lit(1)).as("dn")).cache()
      try {
        val touched = dCounts.select("band", "bucket")
        // old totals for the touched buckets: gen-0 histogram counts
        // (one 3-long-column scan, broadcast join, no shuffle) plus
        // prior appends' partials from the (small) statlog
        val oldHist = spark.table(hist(table))
          .join(broadcast(touched), Seq("band", "bucket"))
          .select(col("band"), col("bucket"), col("bsz").as("__h"))
        val oldLog = statlogRows(spark, table)
          .join(broadcast(touched), Seq("band", "bucket"))
          .groupBy("band", "bucket").agg(sum("n").as("__l"))
        val merged = dCounts
          .join(oldHist, Seq("band", "bucket"), "left")
          .join(oldLog, Seq("band", "bucket"), "left")
          .select(col("band"), col("bucket"), col("dn"),
            (col("dn") + coalesce(col("__h"), lit(0L))
              + coalesce(col("__l"), lit(0L))).as("bsz"))
          .cache()
        try {
          // rows FIRST, then the log: a crash between the two leaves
          // the log undercounting actual rows — detectable
          // (minhashIndexFsck) and repairable (compactMinHashIndex).
          // The reverse order would overcount silently.
          Sinks.appendBucketed(
            d.join(broadcast(merged.select("band", "bucket", "bsz")),
                Seq("band", "bucket"))
              .select("id", "band", "bucket", "bsz"),
            table)
          merged.select(col("band"), col("bucket"), col("dn").as("n"))
            .write.mode("append").saveAsTable(statlog(table))
        } finally { merged.unpersist(false); () }
      } finally { dCounts.unpersist(false); () }
    } finally { d.unpersist(false); () }
  }

  /** The buckets whose TRUE current size (gen-0 histogram ⊕ statlog)
    * exceeds `cap` — the exact multi-generation form of the per-row
    * `bsz > cap` test. A bucket absent from the histogram is covered
    * by the log-only branch (`Σn > cap` alone); one present in both is
    * covered by the joined branch (hist.bsz >= 1 there, so the
    * log-only row it may also emit is a harmless duplicate — the
    * result is only ever the right side of an anti-join). */
  def minhashHotBuckets(spark: SparkSession, table: String,
                        cap: Int): DataFrame = {
    val logSum = statlogRows(spark, table).groupBy("band", "bucket")
      .agg(sum("n").as("__ln"))
    val joined = spark.table(hist(table))
      .join(broadcast(logSum), Seq("band", "bucket"), "left")
      .where(col("bsz") + coalesce(col("__ln"), lit(0L)) > cap)
      .select("band", "bucket")
    joined.union(logSum.where(col("__ln") > cap).select("band", "bucket"))
  }

  /** Probe a delta against the GROWN standing index — the multi-day
    * form of [[Dedup.incrementalNearDupPairs]]: identical candidate
    * join and exact-Jaccard verify, but the degenerate-bucket cap is
    * [[minhashHotBuckets]] anti-joined onto the delta's band rows
    * (dropping a hot bucket's delta rows drops the bucket's pairs
    * entirely — the index side streams through the equijoin
    * unmatched), so a bucket that crossed the cap ACROSS appends is
    * handled exactly as a full rewrite would. `base` supplies the
    * verify texts of the standing corpus (day-1 ∪ every appended
    * delta). */
  def probeStandingMinHashIndex(delta: DataFrame, idCol: String,
                                textCol: String, table: String,
                                base: DataFrame, threshold: Double,
                                numHashes: Int = 128, bands: Int = 32,
                                rowsPerBand: Int = 4, shingleK: Int = 8,
                                maxBucketSize: Int = 1000): DataFrame = {
    val spark = delta.sparkSession
    Sinks.recoverSwappedTable(spark, table)
    Sinks.recoverSwappedTable(spark, hist(table))
    val d = Dedup.bandRows(delta, idCol, textCol, numHashes, bands,
        rowsPerBand, shingleK, outIdCol = "id_a")
      .join(broadcast(minhashHotBuckets(spark, table, maxBucketSize)),
        Seq("band", "bucket"), "left_anti")
    val idx = spark.table(table)
      .select(col("band"), col("bucket"), col("id").as("id_b"))
    Dedup.verifiedIndexPairs(d, idx, delta, idCol, textCol, base,
      threshold, shingleK)
  }

  /** Fold the appended generations down: re-count buckets from the
    * index's own 4-long rows (text is NEVER re-banded), rewrite rows
    * with per-row bsz = true count, refresh the histogram, and reset
    * the statlog.
    *
    * Compaction cost is ∝ TOUCHED buckets, not index size (§2.4/§6):
    * the statlog names exactly the buckets whose count changed since
    * the last build/compaction, so only the bucket FILES whose
    * file-bucket holds a touched (band, bucket) are re-read and
    * rewritten — every other file of the old generation is carried
    * forward by metadata-only rename (manifest protocol,
    * [[Sinks.writeCarryManifest]]/[[Sinks.swapInTable]]; crash-safe,
    * resumed by [[Sinks.recoverSwappedTable]] at every entry point).
    * Correctness of the pruning: all rows of a (band, bucket) hash to
    * ONE file-bucket, so recounting the touched file-buckets' rows
    * yields the exact new count of every bucket living there, and an
    * untouched file-bucket's rows kept their build-time bsz = still
    * the true count. The histogram is bucketed by the same
    * (band, bucket) spec, so its files prune identically: new hist =
    * recount of touched file-buckets ∪ carried hist files. File names
    * carry the TABLE's bucket ids, so a `buckets` other than the
    * table's bucket count (which would pick the wrong files) is refused.
    *
    * The partial path requires a CONSISTENT index ([[minhashIndexFsck]]
    * — checked first): a crashed append leaves rows the statlog never
    * logged, whose buckets the touched set would miss, so the repair
    * path (fsck false) falls back to the full recount + rewrite of
    * every file-bucket, as does a compaction that touched every
    * file-bucket; both regimes run [[rewrite]]. Swaps are the
    * two-rename law; the statlog reset comes LAST, so the one crash
    * window (new hist + old log) OVERcounts — conservative for the
    * cap, flagged by fsck, fixed by re-running compact. */
  def compactMinHashIndex(spark: SparkSession, table: String,
                          buckets: Int): Unit = {
    Sinks.recoverSwappedTable(spark, table)
    Sinks.recoverSwappedTable(spark, hist(table))
    val tableBuckets = org.apache.spark.sql.graftbridge.BucketBridge
      .bucketSpecOf(spark, table).map(_._1)
    require(tableBuckets.contains(buckets),
      s"compactMinHashIndex($table): buckets = $buckets but the table has " +
        tableBuckets.fold("no bucket spec")(n => s"$n buckets"))
    val touched =
      if (!spark.catalog.tableExists(hist(table))) None
      else consistentTouched(spark, table, buckets)
    touched match {
      case Some(fbs) if fbs.isEmpty =>
        // consistent and nothing appended since the last fold — per-row
        // bsz and the histogram are already write-time truth
        Sinks.dropTableAndLocation(spark, statlog(table))
      case Some(fbs) if fbs.length < buckets =>
        val (idxTouched, idxCarry) = splitFiles(spark, table, fbs.toSet)
        val (_, histCarry) = splitFiles(spark, hist(table), fbs.toSet)
        // rows of the touched file-buckets only — read by file path
        // (the file NAME is the bucket id), so bytes read scale with
        // the delta's bucket footprint, never the index
        rewrite(spark, table, buckets, spark.read.parquet(idxTouched: _*),
          idxCarry, histCarry)
      case _ =>
        // the bucketed scan keeps the recount exchange-free
        rewrite(spark, table, buckets, spark.table(table), Nil, Nil)
    }
  }

  /** ONE action: None when the fsck identity `count(rows) == Σ hist.bsz
    * + Σ statlog.n` fails (a missing table sums to 0), else the
    * statlog's touched file-bucket ids under `buckets` (the write-side
    * law pmod(Murmur3 hash of the bucket columns IN SPEC ORDER,
    * numBuckets) — BucketingSpec pins the file-name parity). */
  private def consistentTouched(spark: SparkSession, table: String,
                                buckets: Int): Option[Array[Int]] = {
    val rowsN = spark.table(table).agg(count(lit(1)).as("v"))
      .select(lit(-1).as("fb"), col("v"))
    val histN = (if (!spark.catalog.tableExists(hist(table))) emptyLog(spark, "v")
      else spark.table(hist(table)).agg(coalesce(sum(col("bsz")), lit(0L)).as("v")))
      .select(lit(-2).as("fb"), col("v"))
    val logPart = statlogRows(spark, table)
      .groupBy(pmod(hash(col("band"), col("bucket")), lit(buckets))
        .cast("int").as("fb"))
      .agg(coalesce(sum(col("n")), lit(0L)).as("v"))
    val got = rowsN.unionByName(histN).unionByName(logPart).collect()
    def tagged(tag: Int) = got.find(_.getInt(0) == tag).map(_.getLong(1)).getOrElse(0L)
    val logRows = got.filter(_.getInt(0) >= 0)
    if (tagged(-2) + logRows.map(_.getLong(1)).sum != tagged(-1)) None
    else Some(logRows.map(_.getInt(0)))
  }

  /** `t`'s bucket files split by file-bucket id: the full paths of
    * those in `fbs`, and the names of the rest (the carry list). */
  private def splitFiles(spark: SparkSession, t: String,
                         fbs: Set[Int]): (Seq[String], Seq[String]) = {
    val dir = Sinks.tableLocation(spark, t)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(dir).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
    val (touch, carry) = files.partition { f =>
      val fb = org.apache.spark.sql.graftbridge.BucketBridge
        .bucketIdOf(f.getPath.getName)
      require(fb.isDefined, s"non-bucketed file in $t: ${f.getPath.getName}")
      fbs.contains(fb.get)
    }
    (touch.map(_.getPath.toString), carry.map(_.getPath.getName))
  }

  /** The one compaction body: recount `source`'s rows, write them with
    * per-row bsz and the recount as the new histogram (the bsz join is
    * 1:1, so Σ hist.bsz == count(rows) by construction), declare the
    * carried files, swap both tables in, reset the statlog. cache():
    * the recount feeds both writes; bucket-count-sized. */
  private def rewrite(spark: SparkSession, table: String, buckets: Int,
                      source: DataFrame, idxCarry: Seq[String],
                      histCarry: Seq[String]): Unit = {
    val rows = source.select("id", "band", "bucket")
    val recount = Dedup.bucketCounts(rows).cache()
    try {
      Sinks.writeBucketed(Dedup.withBucketSizes(rows, recount),
        s"${table}_cnew", buckets, Seq("band", "bucket"))
      Sinks.writeBucketed(recount, s"${table}_hist_cnew", buckets,
        Seq("band", "bucket"))
      // declare the carried generations BEFORE the swaps — the swap
      // completes the carry (or recovery does, after a crash)
      if (idxCarry.nonEmpty)
        Sinks.writeCarryManifest(spark, s"${table}_cnew", idxCarry)
      if (histCarry.nonEmpty)
        Sinks.writeCarryManifest(spark, s"${table}_hist_cnew", histCarry)
      Sinks.swapInTable(spark, s"${table}_cnew", table)
      Sinks.swapInTable(spark, s"${table}_hist_cnew", hist(table))
      Sinks.dropTableAndLocation(spark, statlog(table))
    } finally { recount.unpersist(false); () }
  }

  /** Consistency check: `Σ hist.bsz + Σ statlog.n == count(index
    * rows)` — false exactly when a crash split an append (rows
    * without log) or a compaction (new hist with stale log). One
    * action: the compaction pre-check with a single file-bucket.
    * Repair: [[compactMinHashIndex]]. */
  def minhashIndexFsck(spark: SparkSession, table: String): Boolean =
    consistentTouched(spark, table, 1).isDefined

  /** Append a delta's fingerprints to a standing [[Dedup.writeDHashIndex]]
    * table — a plain bucketed insert: the dHash index carries no
    * denormalized stats (a 16-bit chunk of a perceptual hash has no
    * boilerplate pathology worth one), so appends were always safe;
    * this just provides the operation. O(delta) rows, one pure-map
    * fingerprint pass over the delta's payload bytes. */
  def appendToDHashIndex(media: DataFrame, table: String): Unit =
    Sinks.appendBucketed(Dedup.dhashIndexFrame(media), table)

  /** Append a delta's NEW digests to a standing
    * [[Dedup.writeDigestIndex]] table: distinct delta digests
    * anti-joined against the index (the same exchange-free probe plan
    * as [[Dedup.incrementalNewUniques]]) keep the index
    * distinct-by-construction. */
  def appendToDigestIndex(delta: DataFrame, idCol: String, textCol: String,
                          table: String): Unit = {
    val spark = delta.sparkSession
    Sinks.appendBucketed(
      delta.select(md5(col(textCol).cast("binary")).as("digest")).distinct()
        .join(spark.table(table), Seq("digest"), "left_anti"),
      table)
  }
}
