package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark counters of one job group. Every count here except
  * `lastJobEndMs` and the CPU times is independent of timing. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var runCpuNs = 0L
  var deserCpuNs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleRecords = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var outputRecords = 0L
  var lastJobEndMs = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks
    runCpuNs += o.runCpuNs; deserCpuNs += o.deserCpuNs
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    shuffleRecords += o.shuffleRecords; spillBytes += o.spillBytes
    inputBytes += o.inputBytes; outputBytes += o.outputBytes; outputRecords += o.outputRecords
    lastJobEndMs = math.max(lastJobEndMs, o.lastJobEndMs)
  }

  def json: String = Json.obj(
    "jobs" -> jobs, "tasks" -> tasks,
    "run_cpu_ns" -> runCpuNs, "deser_cpu_ns" -> deserCpuNs,
    "shuffle_write_bytes" -> shuffleWriteBytes, "shuffle_read_bytes" -> shuffleReadBytes,
    "shuffle_records" -> shuffleRecords, "spill_bytes" -> spillBytes,
    "input_bytes" -> inputBytes, "output_bytes" -> outputBytes,
    "output_records" -> outputRecords, "last_job_end_ms" -> lastJobEndMs)
}

/** Attributes task metrics to the job group that was set on the driver
  * thread when the job was submitted. Events arrive on one listener
  * thread; readers drain the bus first. */
final class GroupListener extends SparkListener {
  private val groups = new ConcurrentHashMap[String, Counters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()

  private def of(g: String): Counters = groups.computeIfAbsent(g, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobGroup.put(e.jobId, g)
    val c = of(g)
    c.jobs += 1
    e.stageIds.foreach(s => stageGroup.put(s, g))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobGroup.get(e.jobId)).foreach { g =>
      val c = of(g)
      c.lastJobEndMs = math.max(c.lastJobEndMs, e.time)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = Option(stageGroup.get(e.stageId)).getOrElse("")
    val c = of(g)
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runCpuNs += m.executorCpuTime
      c.deserCpuNs += m.executorDeserializeCpuTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.outputBytes += m.outputMetrics.bytesWritten
      c.outputRecords += m.outputMetrics.recordsWritten
    }
  }

  /** Sum of the counters of every group whose name starts with `prefix`. */
  def sum(prefix: String): Counters = {
    val acc = new Counters
    groups.asScala.foreach { case (g, c) => if (g.startsWith(prefix)) acc.add(c) }
    acc
  }
}

/** One traced interval. `group` names the job-group prefix whose Spark
  * counters belong to the span (empty for spans that own no jobs). */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long,
                      endMs: Long, group: String)

/** One pass: its wall, whether it was traced, whether every call in it
  * succeeded, and the JVM's GC and JIT time while it ran. */
final case class PassRecord(idx: Int, traced: Boolean, wallNs: Long, ok: Boolean,
                            gcMs: Long, jitMs: Long, heapAfterMb: Double)

final case class CallRecord(pass: Int, name: String, wallNs: Long, ok: Boolean, traced: Boolean)

/** Raised by an output check; the call counts as failed. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

object Check {
  def apply(cond: Boolean, what: => String): Unit = if (!cond) throw new CheckFailed(what)
  def equal[A](got: A, want: A, what: String): Unit =
    apply(got == want, s"$what: got $got, want $want")
}

/** Times passes and calls. In a traced pass it also records spans
  * (pass -> call -> construct/execute or op) and sets a job group per
  * call phase so the listener can attribute Spark counters to them; an
  * untraced pass sets only one job group for the whole pass. */
final class Recorder(sc: SparkContext, val runId: String) {
  val listener = new GroupListener
  sc.addSparkListener(listener)

  val spans = ArrayBuffer.empty[Span]
  val passes = ArrayBuffer.empty[PassRecord]
  val calls = ArrayBuffer.empty[CallRecord]
  val failures = ArrayBuffer.empty[String]
  /** Extra measurements attached to traced spans, by span id. */
  val attrs = scala.collection.mutable.Map.empty[Int, Map[String, Double]]
  private var lastCallSpan = -1
  var attempted = 0L
  var failed = 0L

  private var traced = false
  private var passIdx = -1
  private var passOk = true
  private var callSeq = 0
  private var callGroup = ""
  private var parentStack: List[Int] = Nil

  private def setGroup(g: String): Unit = sc.setJobGroup(g, g, interruptOnCancel = false)

  private def openSpan(name: String, group: String)(body: => Unit): Unit = {
    val id = spans.length
    val parent = parentStack.headOption.getOrElse(-1)
    spans += Span(id, parent, name, System.nanoTime(), 0L, 0L, group)
    parentStack = id :: parentStack
    try body
    finally {
      parentStack = parentStack.tail
      spans(id) = spans(id).copy(endNs = System.nanoTime(), endMs = System.currentTimeMillis())
    }
  }

  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  private def jitMs(): Long =
    Option(java.lang.management.ManagementFactory.getCompilationMXBean)
      .map(_.getTotalCompilationTime).getOrElse(0L)

  /** Run one pass. After it, outside its wall: a full GC to read the
    * heap the pass left behind. */
  def pass(idx: Int, traceThis: Boolean)(body: => Unit): PassRecord = {
    traced = traceThis
    passIdx = idx
    passOk = true
    val g0 = gcMs(); val j0 = jitMs()
    callSeq = 0
    setGroup(s"p$idx|")
    val t0 = System.nanoTime()
    if (traced) openSpan("pass", s"p$idx|")(body) else body
    val wall = System.nanoTime() - t0
    val gc = gcMs() - g0
    val jit = jitMs() - j0
    sc.clearJobGroup()
    System.gc()
    val rt = Runtime.getRuntime
    val heapMb = (rt.totalMemory() - rt.freeMemory()) / 1e6
    val rec = PassRecord(idx, traced, wall, passOk, gc, jit, heapMb)
    passes += rec
    rec
  }

  /** The two phases of an operator call: building the result (which
    * for some operators already runs eager jobs) and forcing it. */
  final class Phases {
    def construct[T](body: => T): T = phase("construct")(body)
    def execute[T](body: => T): T = phase("execute")(body)
  }
  private val phases = new Phases

  private def phase[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      val g = callGroup + name
      setGroup(g)
      var out: Option[T] = None
      try openSpan(name, g) { out = Some(body) }
      finally setGroup(callGroup + "-")
      out.get
    }

  /** A traced-only sub-interval of a call that runs no Spark job (the
    * driver point-op loops). */
  def op[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      var out: Option[T] = None
      openSpan(name, "") { out = Some(body) }
      out.get
    }

  /** Time one public call. `check` runs after the wall is taken; a call
    * that throws or fails its check counts as failed and is not timed
    * as a result. */
  def call[T](name: String)(body: Phases => T)(check: T => Unit): Option[T] = {
    attempted += 1
    callSeq += 1
    callGroup = s"p$passIdx|$callSeq|"
    if (traced) setGroup(callGroup + "-")
    var out: Option[T] = None
    val t0 = System.nanoTime()
    val res = scala.util.Try {
      if (traced) { lastCallSpan = spans.length; openSpan(name, callGroup) { out = Some(body(phases)) } }
      else out = Some(body(phases))
    }
    val wall = System.nanoTime() - t0
    if (traced) setGroup(s"p$passIdx|")
    val verdict = res.flatMap(_ => scala.util.Try(check(out.get)))
    verdict.failed.foreach { e =>
      failed += 1
      passOk = false
      failures += s"pass $passIdx $name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(600)
    }
    calls += CallRecord(passIdx, name, wall, verdict.isSuccess, traced)
    if (verdict.isSuccess) out else None
  }

  /** In a traced pass, attach a measurement to the last call's span. */
  def annotate(key: String)(value: => Double): Unit =
    if (traced && lastCallSpan >= 0)
      attrs(lastCallSpan) = attrs.getOrElse(lastCallSpan, Map.empty) + (key -> value)

  /** Record a failed check outside any call (the post-run verification). */
  def checkAfter(name: String)(body: => Unit): Unit = {
    attempted += 1
    scala.util.Try(body).failed.foreach { e =>
      failed += 1
      failures += s"verify $name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(600)
    }
  }

  /** A check of pass `idx`'s output that runs after the pass's wall, with
    * no job group set; when it fails, the pass is not timed as a result. */
  def checkPass(idx: Int, name: String)(body: => Unit): Unit = {
    attempted += 1
    scala.util.Try(body).failed.foreach { e =>
      failed += 1
      failures += s"pass $idx $name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(600)
      val i = passes.lastIndexWhere(_.idx == idx)
      if (i >= 0) passes(i) = passes(i).copy(ok = false)
    }
  }
}
