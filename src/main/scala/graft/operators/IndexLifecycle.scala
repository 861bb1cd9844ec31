package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Sinks

/** Multi-day lifecycle of the standing dedup indexes: build once,
  * APPEND deltas daily, compact occasionally.
  *
  * The MinHash index is the NEAR-dup analogue of
  * [[Dedup.writeDigestIndex]]: one row `(id, band, bucket)` per
  * (document, band) from the same fused text→band-buckets pass as
  * [[Dedup.minhashNearDupPairs]] (bit-identical buckets, so a probe
  * batch hashed with the same parameters collides exactly where a
  * self-join would), written BUCKETED by (band, bucket) so every
  * probe join reads it exchange-free. The rows are append-only and
  * carry no statistics; bucket-count truth lives in two side tables,
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
  * degenerate-bucket cap at probe time is EXACT across generations: a
  * bucket crossing the cap only across appends is dropped whole,
  * never partially.
  *
  * Scale: the index is `bands`× the corpus row count but 3 longs
  * wide — at 100 TB of text it is ~3 orders of magnitude smaller
  * than the corpus. `buckets` (the table's bucket count) is the probe
  * join's parallelism, fixed at build time — size it to the sweep
  * cluster (hundreds+), not to the writer. Cost per op at that scale:
  *  - build: ONE text→band pass; the rows' only index-sized shuffle
  *    is the bucketed write's own clustering; the histogram is an
  *    exchange-free recount of the written rows.
  *  - append: band the delta (O(delta) text), O(delta) appended rows
  *    + O(delta) log rows; the index and histogram are not read.
  *  - probe: band the delta, anti-join the hot buckets of
  *    `hist ⊕ log` onto the DELTA band rows (a broadcast: hot buckets
  *    number at most index_rows / cap), then the candidate join with
  *    the index side exchange-free ([[probeStandingMinHashIndex]]).
  *  - compact: re-count + rewrite from the 3-long index rows only —
  *    ZERO text; folds the per-append bucket files and the statlog.
  *    ONE routine does it for both regimes, differing only in the
  *    rows it recounts and the files it carries: the touched
  *    file-buckets' files, every other file carried forward by rename
  *    (O(touched)), or — after a crashed append, or when every
  *    file-bucket was touched — the whole bucketed table with nothing
  *    carried (O(index)).
  *
  * Durability: appends write rows THEN log (a crash between leaves the
  * log undercounting — [[minhashIndexFsck]] detects, [[compactMinHashIndex]]
  * repairs, as it does a build that crashed before its histogram);
  * table swaps follow the two-rename law ([[Sinks.swapInTable]]) with
  * [[Sinks.recoverSwappedTable]] run at every entry point.
  * Single-writer per index (maintenance-window contract), readers any
  * time.
  *
  * The dHash and digest indexes carry no bucket counts, so their
  * appends are plain bucketed inserts ([[appendToDHashIndex]],
  * [[appendToDigestIndex]]). */
object IndexLifecycle {

  private def hist(table: String) = s"${table}_hist"
  private def statlog(table: String) = s"${table}_statlog"

  /** Refuse to read or grow an index whose histogram is missing (a
    * build that crashed between its two writes), naming the repair. */
  private def requireHist(spark: SparkSession, table: String,
                          op: String): Unit =
    require(spark.catalog.tableExists(hist(table)),
      s"$op($table): histogram table ${hist(table)} is missing; " +
        s"run compactMinHashIndex($table) to rebuild it")

  /** Build the MinHash index over the standing corpus: the band rows
    * of `df` written bucketed by (band, bucket), then the
    * generation-0 full histogram, re-counted from the just-written
    * rows (exchange-free groupBy under the bucket layout — the text
    * is banded exactly once). Any pre-existing statlog is dropped:
    * this is generation 0. */
  def writeGrowableMinHashIndex(df: DataFrame, idCol: String, textCol: String,
                                table: String, buckets: Int,
                                numHashes: Int = 128, bands: Int = 32,
                                rowsPerBand: Int = 4, shingleK: Int = 8): Unit = {
    val spark = df.sparkSession
    Sinks.writeBucketed(Dedup.bandRows(df, idCol, textCol, numHashes, bands,
      rowsPerBand, shingleK), table, buckets, Seq("band", "bucket"))
    Sinks.writeBucketed(bucketCounts(spark.table(table)), hist(table),
      buckets, Seq("band", "bucket"))
    Sinks.dropTableAndLocation(spark, statlog(table))
  }

  /** `(band, bucket, bsz)`: the member count of every bucket of the
    * band rows `rows` (the histogram, and an append's log rows). */
  private def bucketCounts(rows: DataFrame): DataFrame =
    rows.groupBy("band", "bucket").agg(count(lit(1)).as("bsz"))

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
    * O(delta) appended band rows + O(delta) statlog rows (the delta's
    * own (band, bucket) counts). cache(): the band rows feed both
    * writes, so the text→band pass runs once. */
  def appendToMinHashIndex(delta: DataFrame, idCol: String, textCol: String,
                           table: String, numHashes: Int = 128,
                           bands: Int = 32, rowsPerBand: Int = 4,
                           shingleK: Int = 8): Unit = {
    val spark = delta.sparkSession
    Sinks.recoverSwappedTable(spark, table)
    Sinks.recoverSwappedTable(spark, hist(table))
    requireHist(spark, table, "appendToMinHashIndex")
    val d = Dedup.bandRows(delta, idCol, textCol, numHashes, bands,
      rowsPerBand, shingleK).cache()
    try {
      // rows FIRST, then the log: a crash between the two leaves the
      // log undercounting actual rows — detectable (minhashIndexFsck)
      // and repairable (compactMinHashIndex). The reverse order would
      // overcount silently.
      Sinks.appendBucketed(d, table)
      bucketCounts(d).withColumnRenamed("bsz", "n")
        .write.mode("append").saveAsTable(statlog(table))
    } finally { d.unpersist(false); () }
  }

  /** The buckets whose TRUE current size (gen-0 histogram ⊕ statlog)
    * exceeds `cap`. A bucket absent from the histogram is covered by
    * the log-only branch (`Σn > cap` alone); one present in both is
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

  /** Near-dup pairs of a delta batch vs the standing index: every
    * (delta, base) pair with exact shingle Jaccard >= `threshold`,
    * found through the index's band buckets — the incremental-ingest
    * form of [[Dedup.minhashNearDupPairs]], costing O(delta ×
    * collision rate) per sweep instead of another full-corpus
    * self-join. Recall is the banding S-curve of the index's
    * parameters (pass the SAME `numHashes`/`bands`/`rowsPerBand`/
    * `shingleK` the index was built with — the probe must hash into
    * the index's bucket space); precision is 1.0 (exact verification).
    *
    * Plan, and why each stage stays 100 TB-shaped:
    *  1. ONE fused native pass bands the DELTA (delta-sized, small by
    *     definition of a sweep).
    *  2. The degenerate-bucket cap: [[minhashHotBuckets]] (buckets
    *     whose `hist ⊕ log` size exceeds `maxBucketSize`) anti-joined
    *     onto the delta's band rows. Dropping a hot bucket's delta
    *     rows drops the bucket's pairs entirely — the index side
    *     streams through the equijoin unmatched — so a bucket that
    *     crossed the cap ACROSS appends is capped exactly as on a
    *     fresh build of the merged corpus.
    *  3. The candidate join probes the index on (band, bucket): the
    *     index side is exchange-free under its bucket layout, only
    *     delta band rows shuffle.
    *  4. Candidates distinct on (id_a, id_b) — candidate-sized, the
    *     irreducible LSH cost (a pair collides in ≤ `bands` buckets).
    *  5. Exact verify joins the TEXTS back by id: the delta side is
    *     delta-sized; the base side is an id-equijoin against the
    *     standing corpus — persist the corpus bucketed by id and the
    *     sweep's only corpus-sized exchange disappears too.
    *
    * `base` supplies the verify texts of the standing corpus (the
    * build ∪ every appended delta). Output: `(id_a, id_b, jaccard)`
    * with `id_a` from the delta and `id_b` from the indexed corpus.
    * Ids are CALLER-scoped: the two sides are assumed disjoint (the
    * incremental contract — the delta is not yet in the index); if a
    * delta doc was already appended, its self-pair comes back at
    * jaccard 1.0 like any other near-dup, which is NOT filtered here
    * because an id collision across genuinely different corpora must
    * not drop a real pair. */
  def probeStandingMinHashIndex(delta: DataFrame, idCol: String,
                                textCol: String, table: String,
                                base: DataFrame, threshold: Double,
                                numHashes: Int = 128, bands: Int = 32,
                                rowsPerBand: Int = 4, shingleK: Int = 8,
                                maxBucketSize: Int = 1000): DataFrame = {
    val spark = delta.sparkSession
    Sinks.recoverSwappedTable(spark, table)
    Sinks.recoverSwappedTable(spark, hist(table))
    requireHist(spark, table, "probeStandingMinHashIndex")
    val d = Dedup.bandRows(delta, idCol, textCol, numHashes, bands,
        rowsPerBand, shingleK, outIdCol = "id_a")
      .join(broadcast(minhashHotBuckets(spark, table, maxBucketSize)),
        Seq("band", "bucket"), "left_anti")
    val cands = d.join(spark.table(table)
        .select(col("band"), col("bucket"), col("id").as("id_b")),
        Seq("band", "bucket"))
      .select("id_a", "id_b").distinct()
    val ta = delta.select(col(idCol).as("id_a"), col(textCol).as("__ta"))
    val tb = base.select(col(idCol).as("id_b"), col(textCol).as("__tb"))
    cands.join(ta, "id_a").join(tb, "id_b")
      .select(col("id_a"), col("id_b"), round(
        graft.functions.NativeExprs.jaccardTextsNative(
          col("__ta"), col("__tb"), shingleK), 6).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Fold the appended generations down: re-count buckets from the
    * index's own 3-long rows (text is NEVER re-banded), rewrite the
    * rows into one file per bucket, refresh the histogram, and reset
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
    * untouched file-bucket's histogram rows are still the true count.
    * The histogram is bucketed by the same (band, bucket) spec, so its
    * files prune identically: new hist = recount of touched
    * file-buckets ∪ carried hist files. File names carry the TABLE's
    * bucket ids, so a `buckets` other than the table's bucket count
    * (which would pick the wrong files) is refused.
    *
    * The partial path requires a CONSISTENT index ([[minhashIndexFsck]]
    * — checked first): a crashed append leaves rows the statlog never
    * logged, whose buckets the touched set would miss, so the repair
    * path (fsck false, or no histogram at all) falls back to the full
    * recount + rewrite of every file-bucket, as does a compaction that
    * touched every file-bucket; both regimes run [[rewrite]]. Swaps
    * are the two-rename law; the statlog reset comes LAST, so the one
    * crash window (new hist + old log) OVERcounts — conservative for
    * the cap, flagged by fsck, fixed by re-running compact. */
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
        // consistent and nothing appended since the last fold — the
        // histogram is already the true count
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

  /** The one compaction body: write `source`'s rows as the new
    * generation, recount the written rows as the new histogram (so
    * Σ hist.bsz == count(rows) by construction; the bucketed scan
    * keeps the recount exchange-free), declare the carried files, swap
    * both tables in, reset the statlog. */
  private def rewrite(spark: SparkSession, table: String, buckets: Int,
                      source: DataFrame, idxCarry: Seq[String],
                      histCarry: Seq[String]): Unit = {
    Sinks.writeBucketed(source.select("id", "band", "bucket"),
      s"${table}_cnew", buckets, Seq("band", "bucket"))
    Sinks.writeBucketed(bucketCounts(spark.table(s"${table}_cnew")),
      s"${table}_hist_cnew", buckets, Seq("band", "bucket"))
    // declare the carried generations BEFORE the swaps — the swap
    // completes the carry (or recovery does, after a crash)
    if (idxCarry.nonEmpty)
      Sinks.writeCarryManifest(spark, s"${table}_cnew", idxCarry)
    if (histCarry.nonEmpty)
      Sinks.writeCarryManifest(spark, s"${table}_hist_cnew", histCarry)
    Sinks.swapInTable(spark, s"${table}_cnew", table)
    Sinks.swapInTable(spark, s"${table}_hist_cnew", hist(table))
    Sinks.dropTableAndLocation(spark, statlog(table))
  }

  /** Consistency check: `Σ hist.bsz + Σ statlog.n == count(index
    * rows)` — false exactly when a crash split a build (rows without
    * hist), an append (rows without log) or a compaction (new hist
    * with stale log). One action: the compaction pre-check with a
    * single file-bucket. Repair: [[compactMinHashIndex]]. */
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
