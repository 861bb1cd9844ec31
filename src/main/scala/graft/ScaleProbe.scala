package graft
import org.apache.spark.sql.functions.col

/** Dev tool for scale rehearsals: run the embedding near-dup LSH with
  * CLI-chosen `bits`/`tables` against any testdata dir and report
  * wall-clock + pair count. The driver-gated queries pin their params
  * for oracle parity; this probe demonstrates the docstring's sizing
  * law (`bits ≈ log2(corpus / targetBucket)`) at larger corpora, where
  * keeping `bits` fixed makes bucket density — and candidate pairs —
  * grow super-linearly.
  * Also probes the fingerprint-block cap: `fp <sfDir> <maxBlockSize>`
  * times [[graft.operators.Dedup.fingerprintJaccardPairs]] with the
  * given cap (0 = uncapped), quantifying what an uncapped boilerplate
  * block costs at scale.
  * Usage: runMain graft.ScaleProbe <sfDir> <bits> [tables] [threshold]
  *        runMain graft.ScaleProbe fp <sfDir> <maxBlockSize>
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleProbe <sfDir> <bits> [tables] [threshold]")
    if (args(0) == "fp") { fpProbe(args(1), args(2).toInt); return }
    if (args(0) == "ed") {
      edProbe(args(1), args(2).toInt, args(3).toInt,
        if (args.length > 4) args(4).toInt else 64); return
    }
    if (args(0) == "salt") { saltProbe(args(1)); return }
    if (args(0) == "sig") { sigProbe(args(1), args(2).toInt); return }
    if (args(0) == "knn") { knnProbe(args(1), args(2).toInt); return }
    if (args(0) == "shuffle") { shuffleProbe(args(1), args.drop(2)); return }
    if (args(0) == "mh") { mhProbe(args(1)); return }
    if (args(0) == "mhidx") {
      mhIdxProbe(args(1), if (args.length > 2) args(2).toInt else 200); return
    }
    if (args(0) == "idxgrow") {
      idxGrowProbe(args(1), if (args.length > 2) args(2).toInt else 100,
        if (args.length > 3) args(3).toInt else 8,
        if (args.length > 4) args(4).toInt else 3); return
    }
    if (args(0) == "objagg") {
      objAggProbe(if (args.length > 1) args(1).toInt else 65536,
        if (args.length > 2) args(2).toInt else 1000); return
    }
    if (args(0) == "mmdedup") { mmDedupProbe(args(1)); return }
    if (args(0) == "mmidx") { mmIdxProbe(args(1)); return }
    if (args(0) == "mmframe") { mmFrameProbe(args(1)); return }
    if (args(0) == "edsel") {
      edSelProbe(args(1), if (args.length > 2) args(2).toInt else 2,
        if (args.length > 3) args(3).toInt else 3); return
    }
    if (args(0) == "jobs") { jobsProbe(args(1), args(2)); return }
    if (args(0) == "floor") { floorProbe(args(1), args(2)); return }
    if (args(0) == "span") { spanProbe(args(1)); return }
    if (args(0) == "bm25bulk") {
      bm25BulkProbe(args(1), if (args.length > 2) args(2).toInt else 10,
        if (args.length > 3) args(3).toDouble else 1.0,
        if (args.length > 4) args(4).toInt else 0,
        if (args.length > 5) args(5).toLong else 0L); return
    }
    val (sfDir, bits) = (args(0), args(1).toInt)
    val tables = if (args.length > 2) args(2).toInt else 3
    val threshold = if (args.length > 3) args(3).toDouble else 0.3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.build(s"local[$cpus]", cpus.toInt, "graft-scale-probe")
    spark.sparkContext.setLogLevel("WARN")
    val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    def once(): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = graft.operators.Dedup.embeddingNearDupPairsLsh(
        embs, "vec_id", "embedding", threshold = threshold,
        tables = tables, bits = bits, seed = 42L, maxBucketSize = 1000).count()
      spark.catalog.clearCache()
      ((System.nanoTime() - t0) / 1e9, n)
    }
    val (t1, n1) = once()
    val (t2, n2) = once()
    require(n1 == n2)
    println(f"SCALEPROBE dir=$sfDir bits=$bits tables=$tables thr=$threshold pairs=$n1 min=${math.min(t1, t2)}%.2f s")
    spark.stop()
  }

  /** `sig <sfDir> <numHashes>`: time the MinHash signature stage alone
    * (the dominant candidate for dd_minhash_lsh cost). */
  private def sigProbe(sfDir: String, numHashes: Int): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.build(s"local[$cpus]", cpus.toInt, "graft-scale-probe")
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    def once(): Double = {
      val t0 = System.nanoTime()
      graft.operators.Dedup.withMinhash(docs, "doc_id", "text", numHashes, 8)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val (t1, t2) = (once(), once())
    println(f"SCALEPROBE sig dir=$sfDir h=$numHashes min=${math.min(t1, t2)}%.2f s")
    spark.stop()
  }

  /** `knn <sfDir> <cap>`: bucket-density diagnostics for
    * [[graft.operators.Similarity.annSelfTopK]]'s candidate stage —
    * reports derived bits, the bucket-size tail, and the directed
    * candidate count with/without the cap, the quantity the rerank
    * join and per-row top-k actually pay for. */
  private def knnProbe(sfDir: String, cap: Int): Unit = {
    import org.apache.spark.sql.functions._
    import graft.functions.NativeExprs.hyperplaneBucketLcgNative
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.build(s"local[$cpus]", cpus.toInt, "graft-scale-probe")
    spark.sparkContext.setLogLevel("WARN")
    val df = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("v"))
    val n = df.count()
    val bits = graft.operators.Dedup.lshBitsFor(n)
    val tabled = df.select(col("id"), explode(array((0 until 3).map(t =>
      struct(lit(t).as("tbl"),
        hyperplaneBucketLcgNative(col("v"), bits, 42L + t).as("bkt"))): _*)).as("tb"))
      .select(col("tb.tbl").as("tbl"), col("tb.bkt").as("bkt"))
    val sizes = tabled.groupBy("tbl", "bkt").agg(count(lit(1)).as("c")).cache()
    val all = sizes.agg(max("c"), expr("percentile_approx(c, 0.99)"),
      count(lit(1)), sum(col("c") * (col("c") - 1))).collect()(0)
    val capped = sizes.where(col("c") <= cap)
      .agg(sum(col("c") * (col("c") - 1))).collect()(0)
    sizes.unpersist()
    println(s"SCALEPROBE knn dir=$sfDir n=$n bits=$bits maxBucket=${all.get(0)} " +
      s"p99=${all.get(1)} nBuckets=${all.get(2)} cands=${all.get(3)} cappedCands=${capped.get(0)}")
    spark.stop()
  }

  /** `shuffle <sfDir> <query...>`: run named catalog queries and report
    * total shuffle WRITE bytes/records (a SparkListener sums task
    * metrics). Local wall-clock hides shuffle payload on a 32-thread
    * in-memory box; on a 1000-executor cluster the bytes ARE the cost,
    * so payload-slimming changes are judged on this number. */
  private def shuffleProbe(sfDir: String, queries: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.build(s"local[$cpus]", cpus.toInt, "graft-scale-probe")
    spark.sparkContext.setLogLevel("WARN")
    val bytes = new java.util.concurrent.atomic.AtomicLong
    val recs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          recs.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        }
      }
    })
    queries.foreach { name =>
      bytes.set(0); recs.set(0)
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val t = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      // Listener events drain asynchronously (waitUntilEmpty is
      // private[spark]); a settle pause is plenty for a dev probe.
      Thread.sleep(1500)
      println(f"SCALEPROBE shuffle dir=$sfDir q=$name wrMB=${bytes.get / 1e6}%.1f recs=${recs.get} t=$t%.2f s")
    }
    spark.stop()
  }

  /** `jobs <sfDir> <query>`: per-JOB wall + task-time breakdown of one
    * warm run of a catalog query — the tool for attributing a gate's
    * wall-clock to its constituent Spark jobs (e.g. which exchange
    * pays the AQE initial-fan-out tax). Runs the query twice (rep 1
    * warms caches + sizing memo), clears the listener, then times rep
    * 2 job by job. */
  private def jobsProbe(sfDir: String, name: String): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.build(s"local[$cpus]", cpus.toInt, "graft-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Int)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, String, Int)]()
    val taskMs = new java.util.concurrent.atomic.AtomicLong
    val taskN = new java.util.concurrent.atomic.AtomicLong
    val recording = new java.util.concurrent.atomic.AtomicBoolean(false)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (recording.get) {
          val stages = js.stageInfos.map(si => s"${si.name.takeWhile(_ != ' ')}:${si.numTasks}")
            .mkString(",")
          jobs.put(js.jobId, (js.time, stages.take(110),
            js.stageInfos.map(_.numTasks).sum))
        }
      override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        if (recording.get && jobs.containsKey(je.jobId)) {
          val (t0, desc, nt) = jobs.get(je.jobId)
          done.add((je.jobId, je.time - t0, desc, nt))
        }
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (recording.get && te.taskInfo != null) {
          taskMs.addAndGet(te.taskInfo.duration); taskN.incrementAndGet(); ()
        }
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        if (recording.get) {
          val si = sc.stageInfo
          val ms = (for (a <- si.completionTime; b <- si.submissionTime) yield a - b)
            .getOrElse(-1L)
          // per-stage task CPU (+ deserialize CPU) — the attribution
          // column that reconciles a gate's TaskTimeMeter total
          val tm = si.taskMetrics
          val cpu = if (tm == null) -1.0
            else (tm.executorCpuTime + tm.executorDeserializeCpuTime) / 1e9
          println(f"  stage ${si.stageId}%3d tasks=${si.numTasks}%-5d ${ms / 1e3}%6.2f s cpu=$cpu%6.2f s  ${si.name.take(80)}")
        }
    })
    def once(): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    once() // warm: caches + sizing memo + JIT
    Thread.sleep(800)
    recording.set(true)
    val wall = once()
    Thread.sleep(1500)
    recording.set(false)
    println(f"JOBSPROBE $name wall=$wall%.2f s taskTime=${taskMs.get / 1e3}%.1f s " +
      s"tasks=${taskN.get} jobs=${done.size}")
    done.forEach { case (id, ms, desc, nt) =>
      println(f"  job $id%3d ${ms / 1e3}%6.2f s  plannedTasks=$nt%-5d $desc")
    }
    spark.stop()
  }

  /** `objagg [groups] [perGroup]`: the ObjectHashAggregate
    * fallback-threshold adversarial memory bound (VERDICT r14 #8) —
    * ONE task holding `groups` collect_list groups of `perGroup` longs
    * each (the worst case the 64k sortBased.fallbackThreshold admits
    * with the engine's cap-bounded buffers), reporting the task's peak
    * execution memory, spill, and CPU so the headroom claim in
    * GraftSession.scala is a measured number, not an estimate. */
  private def objAggProbe(groups: Int, perGroup: Int): Unit = {
    import org.apache.spark.sql.functions._
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.build(s"local[$cpus]", cpus.toInt, "graft-scale-probe")
    spark.sparkContext.setLogLevel("WARN")
    val peak = new java.util.concurrent.atomic.AtomicLong
    val spillMem = new java.util.concurrent.atomic.AtomicLong
    val spillDisk = new java.util.concurrent.atomic.AtomicLong
    val cpuNs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          peak.getAndUpdate(p => math.max(p, m.peakExecutionMemory))
          spillMem.addAndGet(m.memoryBytesSpilled)
          spillDisk.addAndGet(m.diskBytesSpilled)
          cpuNs.addAndGet(m.executorCpuTime)
          ()
        }
      }
    })
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
    org.apache.spark.graftbridge.ListenerBusDrain.drain(spark.sparkContext)
    println(f"SCALEPROBE objagg groups=$groups perGroup=$perGroup " +
      s"nGroups=${out.getLong(0)} maxLen=${out.getInt(1)} " +
      f"peakExecMemMB=${peak.get / 1048576.0}%.1f " +
      f"spillMemMB=${spillMem.get / 1048576.0}%.1f " +
      f"spillDiskMB=${spillDisk.get / 1048576.0}%.1f " +
      f"cpu=${cpuNs.get / 1e9}%.2f s wall=$wall%.2f s " +
      s"fallbackThreshold=${spark.conf.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold")}")
    spark.stop()
  }

  /** `floor <sfDir> <gate>`: decompose a (sub-second) gate's per-rep
    * wall into DataFrame construction (the gate fn), Catalyst phases
    * (analysis / optimization / physical planning, from the
    * QueryPlanningTracker of the noop write's own QueryExecution), and
    * residual execution — the VERDICT r15 #7 question "where does the
    * ~0.2 s/gate tail floor go: driver planning or job submit?".
    * Also times the noop against a REUSED DataFrame object (what a
    * build-once-per-pass bench would measure) to show how much of the
    * floor a reuse could and could not remove. */
  private def floorProbe(sfDir: String, name: String): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.build(s"local[$cpus]", cpus.toInt, "graft-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    val phases = new java.util.concurrent.ConcurrentLinkedQueue[(String, Map[String, Long])]()
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        phases.add((funcName,
          qe.tracker.phases.map { case (p, s) => p -> (s.endTimeMs - s.startTimeMs) }.toMap))
        ()
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    })
    val fn = SparkEntry.queries(name)
    def noop(df: org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    fn(spark, sfDir).write.format("noop").mode("overwrite").save() // warm
    phases.clear()
    (1 to 3).foreach { rep =>
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val tBuild = (System.nanoTime() - t0) / 1e9
      val tNoop = noop(df)
      val ph = Option(phases.poll()).map(_._2).getOrElse(Map.empty)
      println(f"FLOORPROBE $name rep=$rep build=$tBuild%.3f noop=$tNoop%.3f " +
        s"phasesMs=${ph.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(",")}")
    }
    val reused = fn(spark, sfDir)
    (1 to 3).foreach { rep =>
      phases.clear()
      val tNoop = noop(reused)
      val ph = Option(phases.poll()).map(_._2).getOrElse(Map.empty)
      println(f"FLOORPROBE $name reusedDf rep=$rep noop=$tNoop%.3f " +
        s"phasesMs=${ph.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(",")}")
    }
    spark.stop()
  }

  /** `mh <sfDir>`: count minhash near-dup verified pairs + wall-clock
    * — the output-volume normalizer for dd_minhash_lsh growth rows
    * (time-per-pair is the scale-honest metric for an output-bound
    * stage). */
  private def mhProbe(sfDir: String): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.build(s"local[$cpus]", cpus.toInt, "graft-scale-probe")
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val t0 = System.nanoTime()
    val n = graft.operators.Dedup.minhashNearDupPairs(
      docs, "doc_id", "text", threshold = 0.7).count()
    val t = (System.nanoTime() - t0) / 1e9
    println(f"SCALEPROBE mh dir=$sfDir pairs=$n t=$t%.2f s usPerPair=${t * 1e6 / math.max(1, n)}%.2f")
    spark.stop()
  }

  /** `mhidx <sfDir> [deltaPermille]`: the incremental fuzzy-dedup
    * sweep decomposed — index WRITE (once per corpus in production)
    * vs delta PROBE (the daily cost). Default split is the
    * dd_incr_fuzzy gate's 80/20; pass a small `deltaPermille` (e.g.
    * 10 = 1%) for the production daily-delta shape. Probe is warm
    * min-of-3 (the gate's A/B measure conflates the two; production
    * amortizes the write). */
  private def mhIdxProbe(sfDir: String, deltaPermille: Int = 200): Unit = {
    import org.apache.spark.sql.functions._
    require(deltaPermille > 0 && deltaPermille < 1000, s"deltaPermille=$deltaPermille")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.build(s"local[$cpus]", cpus.toInt, "graft-scale-probe")
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val bkt = graft.operators.Sampling.hashBucket(col("doc_id"))
    val cut = 1000 - deltaPermille
    val base = docs.where(bkt < cut)
    val delta = docs.where(bkt >= cut)
    val t0 = System.nanoTime()
    graft.operators.Dedup.writeMinHashIndex(base, "doc_id", "text",
      "probe_mh_idx", 8)
    val tWrite = (System.nanoTime() - t0) / 1e9
    val idxRows = spark.table("probe_mh_idx").count()
    def onceProbe(): (Double, Long) = {
      val t1 = System.nanoTime()
      val n = graft.operators.Dedup.incrementalNearDupPairs(
        delta, "doc_id", "text", spark.table("probe_mh_idx"), base,
        threshold = 0.7).count()
      ((System.nanoTime() - t1) / 1e9, n)
    }
    val runs = (1 to 3).map(_ => onceProbe())
    require(runs.map(_._2).distinct.size == 1)
    println(f"SCALEPROBE mhidx dir=$sfDir idxRows=$idxRows write=$tWrite%.2f s " +
      f"probeMin=${runs.map(_._1).min}%.2f s pairs=${runs.head._2}")
    spark.stop()
  }

  /** `idxgrow <sfDir> [deltaPermille]`: price the three ways a day's
    * delta reaches the standing MinHash index — the r13 contract's
    * hidden daily cost vs the r14 lifecycle ops:
    *   rewrite = writeMinHashIndex over base+delta (O(corpus) text
    *             re-banded + full index rewritten — what every sweep
    *             implicitly paid before append existed);
    *   append  = appendToMinHashIndex(delta) (O(delta) text + one
    *             histogram scan);
    *   compact = compactMinHashIndex (O(index 4-long rows), ZERO
    *             text — the occasional fold, amortized across many
    *             appends).
    * Also probes the grown and rewritten indexes and requires equal
    * pair counts (the lifecycle gate's equality, rehearsed at the
    * decade). */
  private def idxGrowProbe(sfDir: String, deltaPermille: Int,
                           buckets: Int = 8, microDocs: Int = 3): Unit = {
    import org.apache.spark.sql.functions._
    require(deltaPermille > 0 && deltaPermille < 1000, s"deltaPermille=$deltaPermille")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.build(s"local[$cpus]", cpus.toInt, "graft-scale-probe")
    spark.sparkContext.setLogLevel("WARN")
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
    val (tRewrite, _) = timed(graft.operators.Dedup
      .writeMinHashIndex(merged, "doc_id", "text", "probe_mh_rw", buckets))
    val (tProbeG, nG) = timed(graft.operators.IndexLifecycle
      .probeStandingMinHashIndex(probeSet, "doc_id", "text",
        "probe_mh_grow", merged, threshold = 0.7).count())
    val (tProbeR, nR) = timed(graft.operators.Dedup
      .incrementalNearDupPairs(probeSet, "doc_id", "text",
        spark.table("probe_mh_rw"), merged, threshold = 0.7).count())
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
    val (tProbeM, nM) = timed(graft.operators.IndexLifecycle
      .probeStandingMinHashIndex(probeSet, "doc_id", "text",
        "probe_mh_grow", merged.unionByName(micro), threshold = 0.7).count())
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
    spark.stop()
  }

  /** `mmidx <sfDir>`: the incremental image-dedup decomposition —
    * dHash index WRITE over the full corpus (once per corpus in
    * production; the only payload-touching stage) vs the daily delta
    * PROBE (mutated copies of the md5-bucket >= 800 slice, the gate's
    * law). Probe is warm min-of-3. */
  private def mmIdxProbe(sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.build(s"local[$cpus]", cpus.toInt, "graft-scale-probe")
    spark.sparkContext.setLogLevel("WARN")
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text", "source")
    val nBase = d.count()
    val t0 = System.nanoTime()
    graft.operators.Dedup.writeDHashIndex(
      graft.operators.Multimodal.fromDocuments(d, "doc_id", "text", "source"),
      "probe_dh_idx", 8)
    val tWrite = (System.nanoTime() - t0) / 1e9
    val bkt = graft.operators.Sampling.hashBucket(col("doc_id"))
    val mut = d.where(bkt >= 800).select(
      (col("doc_id") + 100000000L).as("doc_id"),
      expr("concat(substr(text, 1, cast(doc_id % greatest(length(text), 1) as int)), 'Z', " +
        "substr(text, cast(doc_id % greatest(length(text), 1) as int) + 2))").as("text"),
      col("source"))
    val delta = graft.operators.Multimodal.fromDocuments(
      mut, "doc_id", "text", "source")
    val nDelta = delta.count()
    def once(): (Double, Long) = {
      val t1 = System.nanoTime()
      val n = graft.operators.Dedup.incrementalImageNearDups(
        delta, spark.table("probe_dh_idx")).count()
      ((System.nanoTime() - t1) / 1e9, n)
    }
    val runs = (1 to 3).map(_ => once())
    require(runs.map(_._2).distinct.size == 1)
    val (t, pairs) = (runs.map(_._1).min, runs.head._2)
    println(f"SCALEPROBE mmidx dir=$sfDir base=$nBase delta=$nDelta " +
      f"write=$tWrite%.2f s probeMin=$t%.2f s pairs=$pairs " +
      f"usPerDelta=${t * 1e6 / math.max(1, nDelta)}%.2f")
    spark.stop()
  }

  /** `mmframe <sfDir>`: frame-level near-dup decade shape — the
    * mm_frame_dedup gate corpus (docs + mutants, 32-byte frames,
    * stride 1), split into the fingerprint map pass and the
    * frame-hash shuffle + pair expansion. Warm min-of-2. */
  private def mmFrameProbe(sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.build(s"local[$cpus]", cpus.toInt, "graft-scale-probe")
    spark.sparkContext.setLogLevel("WARN")
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text", "source")
    val mut = d.select((col("doc_id") + 100000000L).as("doc_id"),
      expr("concat(substr(text, 1, cast(doc_id % greatest(length(text), 1) as int)), 'Z', " +
        "substr(text, cast(doc_id % greatest(length(text), 1) as int) + 2))").as("text"),
      col("source"))
    val media = graft.operators.Multimodal.fromDocuments(
      d.unionByName(mut), "doc_id", "text", "source")
    val nMedia = media.count()
    val tFp0 = System.nanoTime()
    graft.operators.Multimodal.frameFingerprints(media, 32, 1)
      .write.format("noop").mode("overwrite").save()
    val tFp = (System.nanoTime() - tFp0) / 1e9
    def once(): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = graft.operators.Dedup.frameNearDupPairs(media,
        frameBytes = 32, stride = 1, minShared = 2).count()
      ((System.nanoTime() - t0) / 1e9, n)
    }
    val runs = (1 to 2).map(_ => once())
    require(runs.map(_._2).distinct.size == 1)
    val (t, pairs) = (runs.map(_._1).min, runs.head._2)
    println(f"SCALEPROBE mmframe dir=$sfDir media=$nMedia fpPass=$tFp%.2f s " +
      f"min=$t%.2f s pairs=$pairs usPerPair=${t * 1e6 / math.max(1, pairs)}%.2f " +
      f"usPerMedia=${t * 1e6 / nMedia}%.2f")
    spark.stop()
  }

  /** `edsel <docsDir> [maxDist] [q]`: the ED-join prefix filter's
    * SELECTIVITY on a corpus — candidate pairs implied by the plan's
    * own prefix-membership histogram (Σ C(bsz,2)) against all-pairs.
    * The driver gate corpus saturates the filter (a data law of its
    * alphabet); this probe records the selective regime on realistic
    * text (the committed testdata-aux/zipf asset), the number the
    * PipelineOpsSpec Zipf law test asserts stays ≤ 5%. */
  private def edSelProbe(docsDir: String, maxDist: Int, q: Int): Unit = {
    import org.apache.spark.sql.functions._
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.build(s"local[$cpus]", cpus.toInt, "graft-scale-probe")
    spark.sparkContext.setLogLevel("WARN")
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
    spark.stop()
  }

  /** `mmdedup <sfDir>`: the image-dedup decade shape — the gate's
    * corpus (docs + one planted same-length mutant each), split into
    * the fingerprint map stage (the only stage touching payload
    * bytes) and the chunked Hamming join over the 8-byte/image
    * fingerprint table. Warm min-of-2; per-pair µs is the
    * output-normalized decade number. */
  private def mmDedupProbe(sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.build(s"local[$cpus]", cpus.toInt, "graft-scale-probe")
    spark.sparkContext.setLogLevel("WARN")
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text", "source")
    val mut = d.select((col("doc_id") + 100000000L).as("doc_id"),
      expr("concat(substr(text, 1, cast(doc_id % greatest(length(text), 1) as int)), 'Z', " +
        "substr(text, cast(doc_id % greatest(length(text), 1) as int) + 2))").as("text"),
      col("source"))
    val media = graft.operators.Multimodal.fromDocuments(
      d.unionByName(mut), "doc_id", "text", "source")
    val nMedia = media.count()
    val tFp0 = System.nanoTime()
    val fps = graft.operators.Multimodal.dhashFingerprints(media)
    fps.write.format("noop").mode("overwrite").save()
    val tFp = (System.nanoTime() - tFp0) / 1e9
    def once(): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = graft.operators.Dedup.imageNearDupPairs(media, maxHamming = 3).count()
      ((System.nanoTime() - t0) / 1e9, n)
    }
    val runs = (1 to 2).map(_ => once())
    require(runs.map(_._2).distinct.size == 1)
    val (t, pairs) = (runs.map(_._1).min, runs.head._2)
    println(f"SCALEPROBE mmdedup dir=$sfDir media=$nMedia fpPass=$tFp%.2f s " +
      f"min=$t%.2f s pairs=$pairs usPerPair=${t * 1e6 / math.max(1, pairs)}%.2f " +
      f"usPerImage=${t * 1e6 / nMedia}%.2f")
    spark.stop()
  }

  /** `span <sfDir>`: duplicate-span pair counts + stage-volume
    * diagnostics — the output-volume normalizer for dd_span_overlap
    * growth rows. Mirrors [[graft.operators.Dedup.duplicateSpanPairs]]
    * internals to expose the PRE-filter pair-expansion volume
    * (sum over qualifying spans of c·(c−1)/2) — the rows the
    * pair-groupBy actually pays for, which output pairs alone
    * understate when near-dup families share many windows. */
  private def spanProbe(sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.build(s"local[$cpus]", cpus.toInt, "graft-scale-probe")
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val t0 = System.nanoTime()
    val outPairs = graft.operators.Dedup.duplicateSpanPairs(
      docs, "doc_id", "text", n = 8, maxDocsPerSpan = 100, minShared = 2).count()
    val t = (System.nanoTime() - t0) / 1e9
    val spans = docs.select(col("doc_id"),
      explode(graft.functions.NativeExprs.spanHashesNative(col("text"), 8)).as("h"))
    val sizes = spans.groupBy("h").agg(count(lit(1)).as("c"))
    val r = sizes.agg(
      count(lit(1)).as("nSpans"),
      coalesce(sum(when(col("c").between(2, 100),
        (col("c") * (col("c") - 1) / 2).cast("long"))), lit(0L)).as("expand"),
      coalesce(sum(when(col("c") > 100, 1L)), lit(0L)).as("capped")).collect()(0)
    val expand = r.getLong(1)
    println(f"SCALEPROBE span dir=$sfDir outPairs=$outPairs t=$t%.2f s " +
      s"nSpans=${r.getLong(0)} expandPairs=$expand cappedSpans=${r.getLong(2)} " +
      f"usPerExpandPair=${t * 1e6 / math.max(1L, expand)}%.2f")
    spark.stop()
  }

  /** `bm25bulk <sfDir> [k]`: the hard-negative-mining regime — EVERY
    * document is a query (|Q| = corpus size, terms = the doc's own
    * distinct tokens), served from the persisted index via the
    * all-DataFrame [[graft.operators.Search.bm25TopKFromIndexBulk]]
    * path (nothing collected to the driver). Index build time is
    * reported separately: at 100 TB the index is built once and
    * probed forever, so the probe number is the one that scales.
    * Optional `maxDfFrac` measures the df-capped plan (the knob for
    * the Σ df·qf head-term blowup) and `saltChunks` the doc-salted
    * join (the knob for hot-term task serialization; 0 = the AUTO
    * default, which sizes the salt from the measured max df·qf) —
    * see bm25TopKFromIndexBulk. */
  private def bm25BulkProbe(sfDir: String, k: Int, maxDfFrac: Double = 1.0,
                            saltChunks: Int = 0, nQueries: Long = 0L): Unit = {
    import org.apache.spark.sql.functions._
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.build(s"local[$cpus]", cpus.toInt, "graft-scale-probe")
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val t0 = System.nanoTime()
    graft.operators.Search.writeBm25Index(docs, "doc_id", "text",
      "t_probe_bm25", buckets = 16)
    val tBuild = (System.nanoTime() - t0) / 1e9
    // nQueries > 0 restricts the probe to a query SHARD (deterministic
    // doc_id prefix) — the per-job unit a production hard-negative
    // sweep runs anyway; 0 = every doc is a query.
    val qdocs = if (nQueries > 0) docs.where(col("doc_id") < nQueries) else docs
    val queries = qdocs.select(col("doc_id").as("query_id"),
      array_distinct(graft.functions.TextFunctions.tokens(col("text"))).as("terms"))
    val nq = queries.count()
    def once(): Double = {
      val t1 = System.nanoTime()
      graft.operators.Search.bm25TopKFromIndexBulk(spark, "t_probe_bm25", queries, k,
          maxDfFrac = maxDfFrac, saltChunks = saltChunks)
        .write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache() // the probe caches its top-k frame
      (System.nanoTime() - t1) / 1e9
    }
    val (ta, tb) = (once(), once())
    val rows = graft.operators.Search
      .bm25TopKFromIndexBulk(spark, "t_probe_bm25", queries, k,
        maxDfFrac = maxDfFrac, saltChunks = saltChunks).count()
    spark.catalog.clearCache()
    // Salt-plan diagnostics (mirrors the bulk path's sizing): how many
    // terms the AUTO salt actually engages on, and at what widths —
    // on a Zipfian corpus this must be the HEAD terms only, with the
    // informative tail unsalted (the claim SCALE.md carries).
    val nVocab = spark.table("t_probe_bm25_df").count()
    val capF = lit(1L << 31)
    val dfT0 = spark.table("t_probe_bm25_df")
    val nDocs = spark.table("t_probe_bm25_stats").first().getLong(0)
    val dfT = if (maxDfFrac < 1.0)
      dfT0.where(col("df") <= lit(math.floor(maxDfFrac * nDocs).toLong))
    else dfT0
    val perKey = queries
      .select(col("query_id"), explode(col("terms")).as("token")).distinct()
      .groupBy("token").agg(count(lit(1)).as("qf"))
      .join(dfT.select(col("token"), col("df")), "token")
      .select(org.apache.spark.sql.functions.xxhash64(col("token")).as("__kh"),
        (least(col("qf"), capF) * least(col("df"), capF)).as("__pairs"))
    val plan = graft.operators.ExplosiveJoin.planFromPerKey(perKey,
      spark.sparkContext.defaultParallelism,
      graft.operators.ExplosiveJoin.DefaultTargetPerTask)
    println(f"SCALEPROBE bm25bulk dir=$sfDir k=$k maxDfFrac=$maxDfFrac chunks=$saltChunks " +
      f"nq=$nq build=$tBuild%.2f s probe=${math.min(ta, tb)}%.2f s rows=$rows " +
      s"vocab=$nVocab saltGlobal=${plan.chunks} hotTerms=${plan.hot.size} " +
      s"hotWidths=${plan.hot.values.toSeq.sorted.reverse.take(10).mkString(",")}")
    spark.stop()
  }

  /** `salt <sfDir>`: the experiment that adjudicates the explosive-
    * join salt law — the fingerprint-Jaccard pair pipeline (the
    * engine's most per-pair-expensive explosive join) timed at pinned
    * chunk widths (r10's fixed 4, unsalted 1) against the AUTO
    * default, min-of-3 with cache + sizing memo cleared between
    * variants. Records what the AUTO law resolves to and whether it
    * matches the best fixed width (SCALE.md carries the rows). */
  private def saltProbe(sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    import graft.operators.{ExplosiveJoin, Repartition}
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.build(s"local[$cpus]", cpus.toInt, "graft-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
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
    spark.stop()
  }

  private def fpProbe(sfDir: String, maxBlockSize: Int): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.build(s"local[$cpus]", cpus.toInt, "graft-scale-probe")
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val cap = if (maxBlockSize <= 0) Int.MaxValue else maxBlockSize
    val t0 = System.nanoTime()
    val n = graft.operators.Dedup.fingerprintJaccardPairs(
      docs, "doc_id", "text", 8, maxBlockSize = cap).count()
    val t = (System.nanoTime() - t0) / 1e9
    println(f"SCALEPROBE fp dir=$sfDir cap=$cap pairs=$n t=$t%.2f s")
    spark.stop()
  }

  /** Edit-distance join probe: `editDistancePairs` over the leading
    * `width` chars of every document — cold (cache cleared, sizing
    * memo cleared between reps), min-of-2, reports matched pairs.
    * Turns the SCALE.md selectivity simulation into executed numbers:
    * `ed <dir> <k> <q> [width]`. */
  private def edProbe(sfDir: String, k: Int, q: Int, width: Int): Unit = {
    import org.apache.spark.sql.functions.substring
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.build(s"local[$cpus]", cpus.toInt, "graft-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
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
    spark.stop()
  }
}
