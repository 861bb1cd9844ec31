package graft

import graft.obs.RunMetrics

/** Dev tool: time one or more named catalog queries against a testdata
  * dir without running the whole Bench sweep, and show where the time
  * and the work go.
  * Usage: runMain graft.BenchOne <sfDir> <query> [query ...]
  * Warm min-of-3 per query (reps consecutive, caches cleared between
  * queries only), same noop-sink forcing as [[Bench]]. After the
  * summary line, one line per rep: construct seconds (the gate
  * function, with any jobs it fires eagerly), execute seconds (the
  * noop write), then task CPU, jobs, stages, tasks, shuffle write
  * MB/records and spill MB from [[RunMetrics]]; then the stage table
  * of the last rep. */
object BenchOne {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: BenchOne <sfDir> <query> [query ...]")
    val sfDir = args(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.build(s"local[$cpus]", cpus.toInt, "graft-bench-one")
    spark.sparkContext.setLogLevel("WARN")
    val metrics = new RunMetrics(spark.sparkContext)
    args.drop(1).foreach { name =>
      val fn = SparkEntry.queries(name)
      def once(): (Double, Double, RunMetrics.Snapshot) = {
        val s0 = metrics.snapshot()
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t2 = System.nanoTime()
        ((t1 - t0) / 1e9, (t2 - t1) / 1e9, metrics.snapshot() - s0)
      }
      val reps = (1 to 3).map(_ => once())
      spark.catalog.clearCache()
      val walls = reps.map { case (c, e, _) => c + e }
      val tasks = reps.map(_._3.taskCpuSec)
      println(f"BENCHONE $name%-20s min=${walls.min}%.2f s  task=${tasks.min}%.2f s" +
        f"  (wall ${walls.map(t => f"$t%.2f").mkString(" ")} | task ${tasks.map(t => f"$t%.2f").mkString(" ")})")
      for (((c, e, d), i) <- reps.zipWithIndex)
        println(f"  rep ${i + 1} construct=$c%.3f s execute=$e%.3f s task=${d.taskCpuSec}%.2f s " +
          s"jobs=${d.jobs} stages=${d.stages} tasks=${d.tasks} " +
          f"shuffleWrMB=${d.shuffleWriteBytes / 1e6}%.2f shuffleWrRecs=${d.shuffleWriteRecords} " +
          f"spillMemMB=${d.memorySpillBytes / 1e6}%.2f spillDiskMB=${d.diskSpillBytes / 1e6}%.2f")
      for (r <- reps.last._3.stageRows)
        println(f"  stage ${r.id}%4d tasks=${r.tasks}%-5d ${r.wallSec}%6.2f s cpu=${r.cpuSec}%6.2f s  ${r.name.take(80)}")
    }
    spark.stop()
  }
}
