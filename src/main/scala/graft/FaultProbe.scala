package graft

/** Dev tool: executor-loss rehearsal. SURVEY §2 row E7 claims the
  * reference's error-poisoning tree is subsumed by Spark's native
  * task-retry/stage-resubmission machinery — this probe demonstrates
  * it at the pipeline tier instead of leaving it a claim.
  *
  * Runs the minhash near-dup pipeline twice on a `local-cluster`
  * master (separate executor JVMs, so an executor death is a real
  * process kill, not a thread interrupt): once undisturbed, once with
  * one of the two executors SIGKILLed mid-job. Losing the executor
  * also loses its map-side shuffle files (no external shuffle service)
  * — the surviving stages hit FetchFailed, Spark resubmits the lost
  * map stages, and the job completes with BYTE-IDENTICAL output, which
  * the probe asserts by comparing order-insensitive result digests.
  *
  * Usage: runMain graft.FaultProbe <sfDir> [query]
  * With a query name, rehearses that catalog gate instead of the
  * default minhash pipeline (e.g. txt_lr_train: an executor dies
  * mid-gradient-scan and the trained weights must come out
  * bit-identical — retried tasks recompute the same exact-integer
  * partials, so the quantized law survives partial re-execution).
  * (dev-side rehearsal — local-cluster spawns worker JVMs; see
  * SCALE.md "Round-6 executor-loss rehearsal" for the recorded run)
  */
object FaultProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val queryName = if (args.length > 1) Some(args(1)) else None
    queryName.foreach(n => require(SparkEntry.queries.contains(n),
      s"unknown query: $n"))
    val spark = ClusterBench.localCluster(2, 4, 1536, "graft-fault-probe")
      // Retries must outlast one executor funeral.
      .config("spark.task.maxFailures", 8)
      .config("spark.stage.maxConsecutiveAttempts", 8)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def digestOf(): (Long, Long) = ClusterBench.digest(queryName match {
      case Some(n) => SparkEntry.queries(n)(spark, sfDir)
      case None => graft.operators.Dedup.minhashNearDupPairs(
        spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id", "text", threshold = 0.7)
    })

    // Pass 1: undisturbed.
    val want = digestOf()
    println(s"FAULTPROBE clean  pairs=${want._1} digest=${want._2}")

    // The rehearsal only counts if the scheduler OBSERVES the loss
    // while the second pass is still running — record when the
    // executor removal lands.
    val removedAt = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onExecutorRemoved(
          e: org.apache.spark.scheduler.SparkListenerExecutorRemoved): Unit =
        removedAt.compareAndSet(0L, System.nanoTime())
    })

    // Pass 2: SIGKILL one executor JVM shortly after the job starts.
    // (Executor processes are CoarseGrainedExecutorBackend JVMs
    // spawned by the local-cluster workers; killing the process also
    // destroys its shuffle files -> FetchFailed -> stage resubmission.)
    val killer = new Thread(() => {
      Thread.sleep(1000)
      val self = ProcessHandle.current().pid()
      val victims = ProcessHandle.allProcesses()
        .filter(p => p.info().commandLine()
          .map[Boolean](_.contains("CoarseGrainedExecutorBackend")).orElse(false))
        .filter(p => p.pid() != self)
        .toList
      victims.stream().findFirst().ifPresent { p =>
        println(s"FAULTPROBE killing executor pid=${p.pid()}")
        p.destroyForcibly()
      }
    })
    killer.setDaemon(true)
    killer.start()
    val t0 = System.nanoTime()
    val got = digestOf()
    val tEnd = System.nanoTime()
    println(s"FAULTPROBE killed pairs=${got._1} digest=${got._2}")
    require(removedAt.get() > 0L,
      "executor was never removed — the kill missed")
    require(removedAt.get() < tEnd,
      "executor removal landed after the job finished — rehearsal vacuous")
    println(f"FAULTPROBE loss observed ${(removedAt.get - t0) / 1e9}%.2f s into a ${(tEnd - t0) / 1e9}%.2f s pass")
    require(got == want,
      s"executor loss changed the result: clean=$want faulted=$got")
    println("FAULTPROBE OK identical output after mid-job executor loss")
    spark.stop()
  }
}
