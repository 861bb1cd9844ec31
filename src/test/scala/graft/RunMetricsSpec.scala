package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.expr
import org.scalatest.funsuite.AnyFunSuite
import graft.obs.RunMetrics

/** The dev tools' one listener must attribute work to the window that
  * spent it: monotone snapshots, CPU accrual for real work, NO bleed of
  * a finished job's events into the next window (the property the
  * listener-bus drain exists for), and exact timing-free counts on a
  * fixed RDD plan that repeat run for run. */
class RunMetricsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("run-metrics-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("snapshots are monotone, accrue CPU for real work, and do not bleed across windows") {
    val metrics = new RunMetrics(spark.sparkContext)
    val s0 = metrics.snapshot()
    assert(s0.taskCpuSec >= 0.0)
    // a job with genuine per-row CPU (hash chain over 2M rows)
    spark.range(0, 2000000, 1, 4)
      .selectExpr("bit_xor(xxhash64(xxhash64(xxhash64(id))))")
      .write.format("noop").mode("overwrite").save()
    val s1 = metrics.snapshot()
    assert(s1.taskCpuSec > s0.taskCpuSec, s"no CPU accrued: $s0 -> $s1")
    assert(s1.jobs > s0.jobs && s1.stages > s0.stages && s1.tasks > s0.tasks)
    // the drain property: with NO work between snapshots, the delta is
    // exactly zero — every event of the previous job was consumed by
    // the s1 snapshot, none leaks into this window
    val s2 = metrics.snapshot()
    assert(s2 == s1, s"counters bled across windows: $s1 -> $s2")
    assert((s2 - s1).stageRows.isEmpty)
    // and a second job accrues on top (monotone, never resets)
    spark.range(0, 200000, 1, 4).orderBy(expr("xxhash64(id)"))
      .write.format("noop").mode("overwrite").save()
    val s3 = metrics.snapshot()
    assert(s3.taskCpuSec > s2.taskCpuSec && s3.jobs > s2.jobs && s3.tasks > s2.tasks)
  }

  test("fixed RDD plan: exact job/stage/task/shuffle counts, identical on a second run") {
    val sc = spark.sparkContext
    val metrics = new RunMetrics(sc)
    def run(): RunMetrics.Snapshot = {
      val s0 = metrics.snapshot()
      val got = sc.parallelize(1 to 100, 4).map(x => (x % 3, x)).reduceByKey(_ + _, 2)
        .collect().toMap
      assert(got == (1 to 100).groupBy(_ % 3).map { case (k, v) => k -> v.sum })
      metrics.snapshot() - s0
    }
    // everything but wall, CPU and stage ids, which differ run to run
    def timingFree(d: RunMetrics.Snapshot) =
      (d.jobs, d.stages, d.tasks, d.shuffleWriteBytes, d.shuffleWriteRecords,
        d.shuffleReadBytes, d.memorySpillBytes, d.diskSpillBytes,
        d.stageRows.map(r => (r.name, r.tasks)))
    val a = run()
    // one job: a 4-task map stage, a 2-task result stage; map-side
    // combine leaves 3 keys per map task
    assert(a.jobs == 1 && a.stages == 2 && a.tasks == 6, a)
    assert(a.shuffleWriteRecords == 12, a)
    assert(a.stageRows.map(_.tasks) == Vector(4, 2), a)
    assert(a.shuffleWriteBytes > 0 && a.shuffleReadBytes > 0, a)
    val b = run()
    assert(timingFree(b) == timingFree(a), s"\n$a\n$b")
  }
}
