package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev tool for the scale rehearsals SCALE.md cites: five probes whose
  * setup no catalog gate reproduces. Per-gate timing, task CPU, jobs,
  * stages, shuffle and spill are [[BenchOne]]'s job.
  * Usage: runMain graft.ScaleProbe <mode> ...
  *   objagg [groups] [perGroup]            ObjectHashAggregate memory bound
  *   idxgrow <sfDir> [deltaPermille] [buckets] [microDocs]
  *                                         MinHash index lifecycle costs
  *   edsel <docsDir> [maxDist] [q]         ED-join prefix-filter selectivity
  *   salt <sfDir>                          explosive-join salt law
  *   ed <sfDir> <k> <q> [width]            edit-distance join, cold
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    def intAt(i: Int, default: Int): Int = if (args.length > i) args(i).toInt else default
    args.headOption match {
      case Some("objagg") => objAggProbe(intAt(1, 65536), intAt(2, 1000))
      case Some("idxgrow") if args.length > 1 =>
        idxGrowProbe(args(1), intAt(2, 100), intAt(3, 8), intAt(4, 3))
      case Some("edsel") if args.length > 1 => edSelProbe(args(1), intAt(2, 2), intAt(3, 3))
      case Some("salt") if args.length > 1 => saltProbe(args(1))
      case Some("ed") if args.length > 3 =>
        edProbe(args(1), args(2).toInt, args(3).toInt, intAt(4, 64))
      case _ => throw new IllegalArgumentException(
        "usage: ScaleProbe objagg [groups] [perGroup] | idxgrow <sfDir> [deltaPermille] " +
          "[buckets] [microDocs] | edsel <docsDir> [maxDist] [q] | salt <sfDir> | " +
          "ed <sfDir> <k> <q> [width]")
    }
  }

  /** One engine session on `SPARK_GRAFT_CPUS` cores, stopped after `f`. */
  private def withSession(f: SparkSession => Unit): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.build(s"local[$cpus]", cpus.toInt, "graft-scale-probe")
    spark.sparkContext.setLogLevel("WARN")
    try f(spark) finally spark.stop()
  }

  /** `objagg [groups] [perGroup]`: the ObjectHashAggregate
    * fallback-threshold adversarial memory bound (VERDICT r14 #8) —
    * ONE task holding `groups` collect_list groups of `perGroup` longs
    * each (the worst case the 64k sortBased.fallbackThreshold admits
    * with the engine's cap-bounded buffers), reporting the task's
    * spill and CPU so the headroom claim in GraftSession.scala is a
    * measured number, not an estimate. No peak-memory figure: Spark's
    * `ObjectAggregationIterator` keeps its groups as JVM objects in an
    * `ObjectAggregationMap`, outside the execution-memory pool, and,
    * unlike `TungstenAggregationIterator`, never calls
    * `incPeakExecutionMemory`, so the task metric reads 0 at every
    * size, past the fallback too. */
  private def objAggProbe(groups: Int, perGroup: Int): Unit = withSession { spark =>
    val metrics = new graft.obs.RunMetrics(spark.sparkContext)
    val s0 = metrics.snapshot()
    val t0 = System.nanoTime()
    // repartition(1): EVERY group lands in one task — the adversarial
    // shape (a real partition this skewed is past the engine's
    // 100 MB-1 GB sizing, which is the point of the measurement)
    val out = spark.range(groups.toLong * perGroup)
      .select((col("id") % groups).as("k"), col("id").as("v"))
      .repartition(1)
      .groupBy("k").agg(collect_list(col("v")).as("vs"))
      .select(count(lit(1)), max(size(col("vs")))).collect()(0)
    val wall = (System.nanoTime() - t0) / 1e9
    val d = metrics.snapshot() - s0
    println(f"SCALEPROBE objagg groups=$groups perGroup=$perGroup " +
      s"nGroups=${out.getLong(0)} maxLen=${out.getInt(1)} " +
      f"spillMemMB=${d.memorySpillBytes / 1048576.0}%.1f " +
      f"spillDiskMB=${d.diskSpillBytes / 1048576.0}%.1f " +
      f"cpu=${d.taskCpuSec}%.2f s wall=$wall%.2f s " +
      s"fallbackThreshold=${spark.conf.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold")}")
  }

  /** `idxgrow <sfDir> [deltaPermille]`: price the three ways a day's
    * delta reaches the standing MinHash index:
    *   rewrite = writeGrowableMinHashIndex over base+delta (O(corpus)
    *             text re-banded + full index rewritten);
    *   append  = appendToMinHashIndex(delta) (O(delta) text and
    *             rows);
    *   compact = compactMinHashIndex (O(index 3-long rows), ZERO
    *             text — the occasional fold, amortized across many
    *             appends).
    * Also probes the grown and rewritten indexes and requires equal
    * pair counts (the lifecycle gate's equality, rehearsed at the
    * decade). */
  private def idxGrowProbe(sfDir: String, deltaPermille: Int,
                           buckets: Int, microDocs: Int): Unit = withSession { spark =>
    require(deltaPermille > 0 && deltaPermille < 1000, s"deltaPermille=$deltaPermille")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val bkt = graft.operators.Sampling.hashBucket(col("doc_id"))
    val cut = 1000 - 2 * deltaPermille
    val base = docs.where(bkt < cut)
    val delta = docs.where(bkt >= cut && bkt < cut + deltaPermille)
    val probeSet = docs.where(bkt >= cut + deltaPermille)
    val merged = docs.where(bkt < cut + deltaPermille)
    def timed[A](f: => A): (Double, A) = {
      val t0 = System.nanoTime(); val a = f
      ((System.nanoTime() - t0) / 1e9, a)
    }
    val (tBuild, _) = timed(graft.operators.IndexLifecycle
      .writeGrowableMinHashIndex(base, "doc_id", "text", "probe_mh_grow", buckets))
    val (tAppend, _) = timed(graft.operators.IndexLifecycle
      .appendToMinHashIndex(delta, "doc_id", "text", "probe_mh_grow"))
    val (tRewrite, _) = timed(graft.operators.IndexLifecycle
      .writeGrowableMinHashIndex(merged, "doc_id", "text", "probe_mh_rw", buckets))
    val (tProbeG, nG) = timed(graft.operators.IndexLifecycle
      .probeStandingMinHashIndex(probeSet, "doc_id", "text",
        "probe_mh_grow", merged, threshold = 0.7).count())
    val (tProbeR, nR) = timed(graft.operators.IndexLifecycle
      .probeStandingMinHashIndex(probeSet, "doc_id", "text",
        "probe_mh_rw", merged, threshold = 0.7).count())
    require(nG == nR, s"grown=$nG rewrite=$nR must agree")
    val (tCompact, _) = timed(graft.operators.IndexLifecycle
      .compactMinHashIndex(spark, "probe_mh_grow", buckets))
    val (tProbeC, nC) = timed(graft.operators.IndexLifecycle
      .probeStandingMinHashIndex(probeSet, "doc_id", "text",
        "probe_mh_grow", merged, threshold = 0.7).count())
    require(nC == nR, s"compacted=$nC rewrite=$nR must agree")
    val idxRows = spark.table("probe_mh_grow").count()
    // Micro-append regime (cost ∝ touched buckets): append `microDocs`
    // docs and re-compact; report how many bucket files (and bytes)
    // the partial path rewrote vs carried forward by rename — the
    // decade row for "compaction bytes scale with the delta's bucket
    // footprint, not the index".
    def tableFiles(t: String): Map[String, Long] = {
      val dir = graft.sources.Sinks.tableLocation(spark, t)
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(dir).filter(s => s.isFile &&
        s.getPath.getName.startsWith("part-"))
        .map(s => s.getPath.getName -> s.getLen).toMap
    }
    val preFiles = tableFiles("probe_mh_grow")
    val micro = probeSet.orderBy("doc_id").limit(microDocs)
    val (tMicroAppend, _) = timed(graft.operators.IndexLifecycle
      .appendToMinHashIndex(micro, "doc_id", "text", "probe_mh_grow"))
    val (tMicroCompact, _) = timed(graft.operators.IndexLifecycle
      .compactMinHashIndex(spark, "probe_mh_grow", buckets))
    val postFiles = tableFiles("probe_mh_grow")
    val carried = postFiles.filter { case (n, _) => preFiles.contains(n) }
    val rewritten = postFiles.filter { case (n, _) => !preFiles.contains(n) }
    val nM = graft.operators.IndexLifecycle
      .probeStandingMinHashIndex(probeSet, "doc_id", "text",
        "probe_mh_grow", merged.unionByName(micro), threshold = 0.7).count()
    println(f"SCALEPROBE idxgrow dir=$sfDir deltaPermille=$deltaPermille " +
      f"buckets=$buckets idxRows=$idxRows build=$tBuild%.2f append=$tAppend%.2f " +
      f"rewrite=$tRewrite%.2f compact=$tCompact%.2f " +
      f"probeGrown=$tProbeG%.2f probeRewrite=$tProbeR%.2f " +
      f"probeCompacted=$tProbeC%.2f pairs=$nG " +
      f"microDocs=$microDocs microAppend=$tMicroAppend%.2f " +
      f"microCompact=$tMicroCompact%.2f " +
      s"carriedFiles=${carried.size}/${postFiles.size} " +
      s"carriedBytes=${carried.values.sum} rewrittenBytes=${rewritten.values.sum} " +
      s"microProbePairs=$nM")
  }

  /** `edsel <docsDir> [maxDist] [q]`: the ED-join prefix filter's
    * SELECTIVITY on a corpus — candidate pairs implied by the plan's
    * own prefix-membership histogram (Σ C(bsz,2)) against all-pairs.
    * The driver gate corpus saturates the filter (a data law of its
    * alphabet); this probe records the selective regime on realistic
    * text (the committed testdata-aux/zipf asset), the number the
    * PipelineOpsSpec Zipf law test asserts stays ≤ 5%. */
  private def edSelProbe(docsDir: String, maxDist: Int, q: Int): Unit = withSession { spark =>
    val pfx = maxDist * q + 1
    val df = spark.read.parquet(s"$docsDir/documents.parquet")
    val n = df.count()
    val base = df.select(col("doc_id"), col("text").as("__s"),
      graft.functions.NativeExprs.posQGramTokensNative(col("text"), q).as("__tok"))
    val cands = graft.operators.Dedup.editPrefixes(base, "doc_id", pfx)
      .groupBy("tok").agg(count(lit(1)).as("bsz"))
      .selectExpr("CAST(sum(bsz*(bsz-1) DIV 2) AS DOUBLE) AS c")
      .first().getDouble(0)
    val allPairs = n.toDouble * (n - 1) / 2
    println(f"SCALEPROBE edsel dir=$docsDir q=$q k=$maxDist docs=$n " +
      f"cands=$cands%.0f allPairs=$allPairs%.0f ratio=${cands / allPairs * 100}%.3f%%")
  }

  /** `salt <sfDir>`: the experiment that adjudicates the explosive-
    * join salt law — the fingerprint-Jaccard pair pipeline (the
    * engine's most per-pair-expensive explosive join) timed at pinned
    * chunk widths (r10's fixed 4, unsalted 1) against the AUTO
    * default, min-of-3 with cache + sizing memo cleared between
    * variants. Records what the AUTO law resolves to and whether it
    * matches the best fixed width (SCALE.md carries the rows). */
  private def saltProbe(sfDir: String): Unit = withSession { spark =>
    import graft.operators.{ExplosiveJoin, Repartition}
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    def run(label: String)(f: => Unit): Unit = {
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      spark.catalog.clearCache()
      ExplosiveJoin.invalidateSizing()
      println(f"SCALEPROBE salt dir=$sfDir $label min=${ts.min}%.2f s " +
        s"(${ts.map(x => f"$x%.2f").mkString(" ")})")
    }
    // mirrors fingerprintJaccardPairs with the chunk knob exposed
    def fpPairs(chunks: Int): Unit = {
      val f0 = Repartition.forCompute(docs)
        .select(col("doc_id"),
          graft.functions.TextFunctions.minhashFingerprint(col("text"), 8).as("fp"),
          col("text").as("__t")).cache()
      val f = f0.join(
        broadcast(f0.groupBy("fp").agg(count(lit(1)).as("bsz"))
          .where(col("bsz") > 1000).select("fp")),
        Seq("fp"), "left_anti")
      val a = f.select(col("doc_id").as("id_a"), col("fp"), col("__t").as("__ta"))
      val b = f.select(col("doc_id").as("id_b"), col("fp"), col("__t").as("__tb"))
      ExplosiveJoin.explosiveBucketJoin(a, b, Seq("fp"), "id_b", chunks)
        .where(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          round(graft.functions.NativeExprs.jaccardTokenSetsNative(
            col("__ta"), col("__tb")), 6).as("jaccard"))
        .write.format("noop").mode("overwrite").save()
    }
    run("fp chunks=4 (r10 fixed)")(fpPairs(4))
    run("fp chunks=1 (unsalted)")(fpPairs(1))
    run("fp chunks=AUTO")(fpPairs(0))
  }

  /** `ed <sfDir> <k> <q> [width]`: `editDistancePairs` over the leading
    * `width` chars of every document — cold (cache cleared, sizing
    * memo cleared between reps), min-of-2, reports matched pairs.
    * Turns the SCALE.md selectivity simulation into executed numbers. */
  private def edProbe(sfDir: String, k: Int, q: Int, width: Int): Unit = withSession { spark =>
    val titles = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), substring(col("text"), 1, width).as("title"))
    var pairs = 0L
    val ts = (1 to 2).map { _ =>
      spark.catalog.clearCache()
      graft.operators.ExplosiveJoin.invalidateSizing()
      val t0 = System.nanoTime()
      pairs = graft.operators.Dedup.editDistancePairs(
        titles, "doc_id", "title", maxDist = k, q = q).count()
      (System.nanoTime() - t0) / 1e9
    }
    println(f"SCALEPROBE ed dir=$sfDir k=$k q=$q width=$width pairs=$pairs " +
      f"min=${ts.min}%.2f s (${ts.map(x => f"$x%.2f").mkString(" ")})")
  }
}
