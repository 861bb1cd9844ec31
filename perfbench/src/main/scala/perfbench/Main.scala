package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.GraftSession

/** One workload: a fixed sequence of public calls per pass. */
trait Workload {
  /** Items one pass processes (the numerator of items_per_s). */
  def itemsPerPass: Long
  def pass(rec: Recorder, idx: Int): Unit
  /** Untimed checks and clean-up after a pass (checks that run Spark
    * jobs, dropping the pass's tables). */
  def afterPass(rec: Recorder, idx: Int): Unit = ()
  /** Checks that need a reference computation; runs after every pass,
    * so its jobs never fall inside a timed interval. */
  def verify(rec: Recorder, traced: Boolean): Unit = ()
  /** Derived numbers for the per-layer table. */
  def extras: Map[String, Double] = Map.empty
}

/** Flat key=value files written by gen_inputs.py. */
final class KeyValues(path: String) {
  private val kv: Map[String, String] =
    scala.io.Source.fromFile(path, "UTF-8").getLines()
      .filter(_.contains('=')).map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toMap
  def apply(k: String): String = kv.getOrElse(k, throw new IllegalArgumentException(s"$path has no $k"))
  def long(k: String): Long = apply(k).toLong
  def int(k: String): Int = apply(k).toInt
  def longs(k: String): IndexedSeq[Long] = apply(k).split(',').map(_.toLong).toIndexedSeq
}

/** Benchmark JVM entry point, started by perfbench/run.py:
  *
  *   --workload pu_mapreduce|curate_batch|index_ingest --inputs DIR
  *   --out FILE --seconds S --trace 0|1 --cores N --min-warm W
  *
  * It builds the session and reads the inputs (the set-up time is taken
  * from JVM start), makes one cold pass and then warm passes for S
  * seconds (at least W), and writes the raw timings, counters and check
  * results to FILE; with `--trace 1` every other warm pass is traced and
  * the spans go to FILE.spans.jsonl. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = opt("workload")
    val out = opt("out")
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val minWarm = opt("min-warm").toInt

    val b0 = System.nanoTime()
    val spark = GraftSession.build(s"local[$cores]", cores, "perfbench")
    val buildMs = (System.nanoTime() - b0) / 1e6
    spark.sparkContext.setLogLevel("ERROR")
    val wl = load(name, spark, opt("inputs"))
    val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    val rec = new Recorder(spark.sparkContext, s"$name-${ProcessHandle.current().pid()}")
    def onePass(i: Int, traced: Boolean): Unit = {
      rec.pass(i, traced)(wl.pass(rec, i))
      spark.catalog.clearCache()
      wl.afterPass(rec, i)
    }
    onePass(0, trace)
    val t0 = System.nanoTime()
    var i = 1
    // a traced run alternates traced and untraced warm passes, so the
    // tracing overhead is measured inside one JVM
    while (i <= minWarm || System.nanoTime() - t0 < seconds * 1e9) {
      onePass(i, trace && i % 2 == 1)
      i += 1
    }
    org.apache.spark.perfbench.BusDrain.drain(spark.sparkContext)
    wl.verify(rec, trace)
    org.apache.spark.perfbench.BusDrain.drain(spark.sparkContext)

    val passes = rec.passes.map { p =>
      Json.Raw(Json.obj("idx" -> p.idx, "traced" -> p.traced, "wall_s" -> p.wallNs / 1e9,
        "ok" -> p.ok, "gc_ms" -> p.gcMs, "jit_ms" -> p.jitMs, "heap_mb" -> p.heapAfterMb,
        "counters" -> Json.Raw(rec.listener.sum(s"p${p.idx}|").json)))
    }
    val calls = rec.calls.map { c =>
      Json.Raw(Json.obj("pass" -> c.pass, "name" -> c.name, "wall_ms" -> c.wallNs / 1e6,
        "ok" -> c.ok, "traced" -> c.traced))
    }
    write(out, Json.obj(
      "workload" -> name, "setup_s" -> setupS, "build_ms" -> buildMs, "cores" -> cores,
      "items_per_pass" -> wl.itemsPerPass, "attempted" -> rec.attempted, "failed" -> rec.failed,
      "failures" -> rec.failures.toSeq, "passes" -> passes, "calls" -> calls,
      "extras" -> wl.extras))
    if (trace) {
      val lines = rec.spans.map { s =>
        Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "run" -> rec.runId, "group" -> s.group,
          "start_ns" -> s.startNs, "end_ns" -> s.endNs, "end_ms" -> s.endMs,
          "counters" -> (if (s.group.isEmpty) null else Json.Raw(rec.listener.sum(s.group).json)),
          "attrs" -> rec.attrs.getOrElse(s.id, Map.empty))
      }
      write(out + ".spans.jsonl", lines.mkString("", "\n", "\n"))
    }
    spark.stop()
  }

  private def load(name: String, spark: SparkSession, dir: String): Workload = name match {
    case "pu_mapreduce" => new PuMapReduce(spark, dir)
    case "curate_batch" => new CurateBatch(spark, dir)
    case "index_ingest" => new IndexIngest(spark, dir)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def write(path: String, text: String): Unit =
    Files.write(Paths.get(path), text.getBytes(StandardCharsets.UTF_8))
}
