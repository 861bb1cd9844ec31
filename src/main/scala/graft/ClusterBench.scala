package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool: multi-JVM rehearsal of headline gates. Every bench and
  * gate run executes on `local[32]` — one JVM, where closure
  * serialization, reference-object shipping (the native expressions'
  * codegen calls back into driver-built objects), and cross-executor
  * shuffle/bucket-table reads are all short-circuited. A real cluster
  * is not. This probe runs the headline queries on a
  * `local-cluster[4,8,2048]` master (four separate executor JVMs,
  * netty shuffle, real task serialization) and asserts each result's
  * order-insensitive digest is IDENTICAL to the single-JVM session's —
  * the "would it run on a 1000-executor cluster" claim demonstrated
  * at the whole-query tier, complementing [[FaultProbe]]'s
  * executor-loss rehearsal.
  *
  * Usage: runMain graft.ClusterBench [sfDir] [query ...]
  */
object ClusterBench {
  private val DefaultQueries = Seq(
    "q1_agg", "q5_region_revenue", "dd_exact", "dd_minhash_lsh",
    "srch_bm25", "txt_unigram_lm", "txt_tfidf", "q_bucketed_join",
    "pmr_sum_large", "txt_chunks",
    // round-7 third wave: the trainer's integer-gradient law and the
    // span-hash shuffle must survive real cross-JVM serialization
    "txt_lr_train", "dd_span_overlap", "emb_moments", "q_funnel",
    // round-12 fourth wave: the SELECTIVE salt ships a typedLit
    // hot-key map inside the join expressions and the CC survivors
    // path collects edges to the driver — both must survive real
    // cross-JVM task serialization, not just local[32]'s
    // short-circuit
    "dd_fp_jaccard", "dd_survivors", "knn_ivf",
    // round-12 fifth wave: the edit-distance join's PosQGramTokensExpr
    // reference object + prefix collect_list sort + banded levenshtein
    // across real executor JVMs
    "dd_edit_join",
    // round-12 sixth wave: the fuzzy-index sweep — bucketed index
    // WRITE from one set of executor JVMs, then the probe's
    // exchange-free bucketed read + broadcast hot-bucket cap from others
    "dd_incr_fuzzy",
    // round-12 seventh wave: the DSIR pair — the 65536-long λ array
    // rides task closures as a reference object inside the fused
    // scoring expression, and the Gumbel draw's TakeOrdered merges
    // per-partition heaps across real executors
    "txt_dsir", "q_dsir_sample",
    // round-13 wave: image dHash dedup — the mapPartitions fingerprint
    // closure (ImageIO decode + pooled-grid fallback) deserializes in
    // real executor JVMs, then the chunked Hamming join shuffles the
    // fingerprints across them; the incremental form additionally
    // writes the bucketed chunk index from one set of executor JVMs
    // and probes it exchange-free from others
    "mm_dedup", "mm_incr_dedup",
    // frame-level (video) near-dup: the frame-slicing mapPartitions
    // closure + the fingerprint shuffle across real executor JVMs;
    // the survivors composition adds the driver-side CC fold over
    // executor-produced pair edges
    "mm_frame_dedup", "mm_survivors",
    // image ANN: the feature-extraction mapPartitions closure + the
    // broadcast query set + rank window across real executor JVMs
    "mm_knn")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq else DefaultQueries
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")

    // Pass 1: the single-JVM reference session.
    val local = GraftSession.build("local[32]", 32, "graft-clusterbench-local")
    local.sparkContext.setLogLevel("WARN")
    val want = names.map { n =>
      n -> digest(SparkEntry.queries(n)(local, sfDir))
    }.toMap
    local.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()

    // Pass 2: four executor JVMs, under the engine session's own
    // configuration.
    val cluster = localCluster(4, 8, 2048, "graft-clusterbench").getOrCreate()
    cluster.sparkContext.setLogLevel("WARN")

    // Task-time next to wall (r13 verdict #5): TaskEnd metrics flow to
    // driver listeners in local-cluster mode too, so the multi-JVM
    // rehearsal now records the same contention-invariant executor-CPU
    // series as the single-JVM bench — the cross-check that
    // serialization + netty shuffle don't change a gate's CPU class.
    val metrics = new graft.obs.RunMetrics(cluster.sparkContext)
    var failed = 0
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      val got = digest(fn(cluster, sfDir))
      val t = (1 to 3).map { _ =>
        val c0 = metrics.snapshot().taskCpuSec
        val t0 = System.nanoTime()
        fn(cluster, sfDir).write.format("noop").mode("overwrite").save()
        ((System.nanoTime() - t0) / 1e9, metrics.snapshot().taskCpuSec - c0)
      }.minBy(_._1)
      val ok = got == want(n)
      if (!ok) failed += 1
      println(f"CLUSTERBENCH $n%-22s ${if (ok) "match" else s"MISMATCH got=$got want=${want(n)}"}%-10s min=${t._1}%.2f s task=${t._2}%.2f s")
      cluster.catalog.clearCache()
    }
    cluster.stop()
    if (failed > 0) {
      println(s"CLUSTERBENCH FAILED: $failed digests differ")
      sys.exit(1)
    }
    println(s"CLUSTERBENCH OK ${names.size} queries digest-identical across 4 executor JVMs")
  }

  /** [[GraftSession.builder]] on a `local-cluster[executors,cores,memMb]`
    * master, shuffle parallelism sized to all executor cores. The compiled
    * classes must reach the executors explicitly: local-cluster workers do
    * not inherit the driver's classpath. */
  private[graft] def localCluster(executors: Int, cores: Int, memMb: Int,
                                  appName: String): SparkSession.Builder =
    GraftSession.builder(s"local-cluster[$executors,$cores,$memMb]", executors * cores, appName)
      .config("spark.executor.memory", s"${memMb}m")
      .config("spark.executor.extraClassPath",
        new java.io.File("target/scala-2.13/classes").getAbsolutePath)

  /** Order-insensitive digest of a result: its row count and the xor of
    * every row's hash (xor, not sum: no overflow under ANSI). */
  private[graft] def digest(df: DataFrame): (Long, Long) = {
    val r = df.select(count(lit(1)),
      expr("bit_xor(xxhash64(to_json(struct(*))))")).collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }
}
