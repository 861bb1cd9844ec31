package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.NativeExprs

/** Distributed training of the hashed-feature quality classifier —
  * the step the scoring surface ([[graft.functions.TextFunctions
  * .hashedLinearScore]] / `hashedLinearScoreTrained`) was built to
  * receive: full-batch logistic regression by gradient descent, run
  * entirely as Spark aggregates (the fastText-style curation
  * classifier of the public data-pipeline literature, e.g. the CCNet /
  * LLaMA quality filters, trained at corpus scale).
  *
  * Model: `p(keep | doc) = σ(Σ_j w_j·x_j + w_D)` over `dim` hashed
  * bag-of-tokens counts `x_j` (never materialized: the margin is
  * [[NativeExprs.HashedMarginExpr]], the gradient explodes the
  * per-token buckets of [[NativeExprs.NgramBucketsExpr]] at n = 1 —
  * one native tokenize pass each per row) plus an intercept slot
  * `x_D = 1`.
  *
  * Determinism (the library's quantized-integer law, same as
  * [[LanguageModel]] / [[Search]]): weights live in integer
  * MICRO-units; the per-doc margin is an EXACT long dot product
  * (`Σ w_micro_j · x_j`, one double divide at the end); the sigmoid
  * is quantized to the 1e-4 grid (`pq = ⌊p·1e4 + 0.5⌋`) BEFORE it
  * enters the gradient, so every per-doc gradient contribution
  * `(pq − y·1e4) · x_j · 100` is an exact integer and the distributed
  * sum is independent of row order and partitioning; the driver-side
  * update `w_j ← w_j − ⌊lr·G_j/n + 0.5⌋` is the only floating step
  * and runs on one JVM. An engine recomputing the same law (the
  * DuckDB oracle unrolls the iterations as CTE stages) reproduces the
  * weights bit-for-bit.
  *
  * Scale shape: each iteration is ONE corpus scan — a native
  * one-pass margin ([[NativeExprs.HashedMarginExpr]]: the weight
  * array is a task-shipped reference object, never a plan literal,
  * so a fastText-sized 262k-bucket model costs 2 MiB per task) and a
  * SPARSE gradient explode (one row per token occurrence, so
  * gradient traffic scales with tokens-per-doc, never with `dim`)
  * into a map-side-combined per-bucket aggregate. Nothing is cached
  * and only the touched-bucket gradient rows reach the driver, so
  * the loop holds at any corpus size and any `dim`; `iters` scans is
  * the honest cost of full-batch GD (mini-batching would ride
  * [[Sampling.hashSample]] on the same law). */
object Training {

  /** Train `iters` full-batch GD steps; returns `dim+1` micro-unit
    * weights (index `dim` = intercept). `label` must evaluate to
    * 0/1 (cast to long). Null law (so no document's gradient is ever
    * silently dropped, matching the oracle's CASE/ELSE-0 semantics):
    * a null text trains as the empty document (intercept-only
    * features) and a null label as 0. */
  def trainLogRegWeights(docs: DataFrame, textCol: String, label: Column,
                         dim: Int = 32, iters: Int = 3,
                         lr: Double = 0.2): Array[Long] = {
    // forCompute: each iteration's gradient job runs the CPU-dense
    // fused margin/bucket pass on the scan's own splits — a
    // single-file corpus otherwise serializes it into ONE map task
    // per iteration (the dominant stage of the txt_lr_*/txt_softmax_*
    // gates by the jobs probe); the narrow (text, y) exchange is far
    // cheaper. Multi-split at scale → no-op. Gradient integers are
    // partitioning-independent, so results are bit-identical.
    // persist: the trainer is EAGER (one collect per iteration), so
    // the scan+exchange would otherwise re-run every iteration; the
    // narrow projection is cached for the loop and dropped before
    // returning (spill-safe at corpus scale — the standard iterative-
    // trainer layout, same as Spark ML's caching contract).
    val base = Repartition.forCompute(docs.select(
      coalesce(col(textCol), lit("")).as("t"),
      coalesce(label.cast("long"), lit(0L)).as("y")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var n = 0L // derived from the first iteration's intercept count
    val w = Array.fill(dim + 1)(0L)
    try {
      var it = 0
      while (it < iters) {
        // SPARSE gradient: gs_d = (pq_d − y_d·1e4)·100 once per TOKEN
        // occurrence of bucket j (plus one intercept row per doc) sums
        // to exactly Σ_d gs_d·x_dj — identical integers to the dense
        // Σ gs·count formulation by distributivity, but gradient rows
        // scale with tokens-per-doc, never with dim: a 262k-bucket
        // fastText-sized model trains with the same shuffle as dim=32.
        // Both the margin and the bucket list ride native one-pass
        // expressions whose weight array is a reference object, not a
        // plan literal (w.clone: the driver mutates w after collect).
        val grads = base
          .select(
            gradScale(NativeExprs.hashedMarginNative(col("t"), w.clone()),
              col("y")).as("gs"),
            concat(NativeExprs.hashedBucketsNative(col("t"), dim),
              array(lit(dim.toLong))).as("bk"))
          .select(col("gs"), explode(col("bk")).as("j"))
          .groupBy("j").agg(sum(col("gs")).as("g"), count(lit(1)).as("c"))
          .collect()
        if (grads.isEmpty) return w // empty corpus
        // n rides the gradient aggregate (the intercept bucket appears
        // exactly once per document) — no dedicated count scan.
        if (it == 0)
          n = grads.find(_.getLong(0) == dim.toLong).map(_.getLong(2)).getOrElse(0L)
        if (n == 0L) return w
        grads.foreach { r =>
          val j = r.getLong(0).toInt
          w(j) -= math.floor(lr * r.getLong(1) / n + 0.5).toLong
        }
        it += 1
      }
      w
    } finally {
      base.unpersist(false); ()
    }
  }

  /** `(pq − y·1e4)·100` where `pq = ⌊σ(m/1e6)·1e4 + 0.5⌋` — the
    * per-doc gradient scale; multiplied by the integer count x_j it
    * is the exact-integer contribution. */
  private def gradScale(mMicro: Column, y: Column): Column =
    (floor(lit(1e4) / (lit(1.0) + exp(-(mMicro.cast("double") / lit(1e6))))
      + lit(0.5)).cast("long") - y * lit(10000L)) * lit(100L)

  /** The trained model as data: `(bucket, w_micro)`, bucket `dim` =
    * intercept. */
  def trainLogReg(docs: DataFrame, textCol: String, label: Column,
                  dim: Int = 32, iters: Int = 3,
                  lr: Double = 0.2): DataFrame = {
    val w = trainLogRegWeights(docs, textCol, label, dim, iters, lr)
    val spark = docs.sparkSession
    import spark.implicits._
    w.toSeq.zipWithIndex.map { case (wm, j) => (j, wm) }
      .toDF("bucket", "w_micro")
  }

  /** Multiclass softmax (multinomial logistic regression) training by
    * the same quantized-integer law as [[trainLogRegWeights]] —
    * lang-ID-style K-way classification trained at corpus scale.
    *
    * Per doc: K exact long margins in ONE native tokenize pass
    * ([[NativeExprs.HashedMarginsExpr]]); the softmax is made
    * order/engine-independent by integer quantization at BOTH seams —
    * `eq_k = ⌊exp((m_k − m_max)/1e6)·1e6 + 0.5⌋` (m_max is an integer
    * max, so the shift is exact) and
    * `pq_k = ⌊eq_k/Σeq·1e4 + 0.5⌋`; the gradient contribution
    * `(pq_k − [y=k]·1e4)·100` is then an exact integer per token
    * occurrence per class, summed sparsely (rows scale with
    * tokens·K, never with dim). Update per class as the binary
    * trainer. The DuckDB oracle replays the iterations as CTE stages
    * over a (j, k, w) weight table and matches bit-for-bit.
    *
    * Returns K rows of dim+1 micro-weights (slot dim = intercept).
    * `labelIdx` must evaluate to 0..k-1 (nulls train as class 0). */
  def trainSoftmaxWeights(docs: DataFrame, textCol: String,
                          labelIdx: Column, k: Int, dim: Int = 16,
                          iters: Int = 2,
                          lr: Double = 0.2): Array[Array[Long]] = {
    require(k >= 2, s"k=$k")
    // forCompute + loop-scoped persist: same laws as
    // trainLogRegWeights (spread the dense map stage; scan+exchange
    // once, not once per iteration; dropped before returning).
    val base = Repartition.forCompute(docs.select(
      coalesce(col(textCol), lit("")).as("t"),
      coalesce(labelIdx.cast("long"), lit(0L)).as("y")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var n = 0L
    val w = Array.fill(k, dim + 1)(0L)
    try {
    var it = 0
    while (it < iters) {
      val margins = NativeExprs.hashedMarginsNative(col("t"),
        w.map(_.clone()))
      val mmax = array_max(col("m"))
      val eqs = transform(col("m"),
        m => floor(exp((m - mmax).cast("double") / lit(1e6)) * lit(1e6)
          + lit(0.5)).cast("long"))
      val seq_ = aggregate(col("eq"), lit(0L), (a, b) => a + b)
      val pqs = transform(col("eq"),
        eq => floor(eq.cast("double") / col("sq") * lit(1e4) + lit(0.5))
          .cast("long"))
      val gs = transform(sequence(lit(0), lit(k - 1)),
        i => (element_at(col("pq"), i.cast("int") + 1) -
          when(col("y") === i.cast("long"), lit(10000L)).otherwise(lit(0L)))
          * lit(100L))
      val grads = base
        .select(col("y"), margins.as("m"),
          concat(NativeExprs.hashedBucketsNative(col("t"), dim),
            array(lit(dim.toLong))).as("bk"))
        .select(col("y"), col("bk"), eqs.as("eq"))
        .select(col("y"), col("bk"), col("eq"), seq_.as("sq"))
        .select(col("y"), col("bk"), pqs.as("pq"))
        .select(gs.as("gs"), explode(col("bk")).as("j"))
        .groupBy("j")
        .agg(count(lit(1)).as("c"),
          (0 until k).map(c =>
            sum(element_at(col("gs"), c + 1)).as(s"g$c")): _*)
        .collect()
      if (grads.isEmpty) return w
      if (it == 0)
        n = grads.find(_.getLong(0) == dim.toLong).map(_.getLong(1)).getOrElse(0L)
      if (n == 0L) return w
      grads.foreach { r =>
        val j = r.getLong(0).toInt
        var c = 0
        while (c < k) {
          w(c)(j) -= math.floor(lr * r.getLong(2 + c) / n + 0.5).toLong
          c += 1
        }
      }
      it += 1
    }
    w
    } finally {
      base.unpersist(false); ()
    }
  }

  /** The trained softmax model as data: `(k, bucket, w_micro)`. */
  def trainSoftmax(docs: DataFrame, textCol: String, labelIdx: Column,
                   k: Int, dim: Int = 16, iters: Int = 2,
                   lr: Double = 0.2): DataFrame = {
    val w = trainSoftmaxWeights(docs, textCol, labelIdx, k, dim, iters, lr)
    val spark = docs.sparkSession
    import spark.implicits._
    w.zipWithIndex.flatMap { case (row, c) =>
      row.zipWithIndex.map { case (wm, j) => (c, j, wm) }
    }.toSeq.toDF("k", "bucket", "w_micro")
  }

  /** Predicted class (argmax margin, ties to the lower class id) with
    * trained softmax weights — one native pass, no shuffle. Margins
    * order-match softmax probabilities, so no exp is needed to
    * serve. */
  def predictSoftmax(text: Column, w: Array[Array[Long]]): Column = {
    val m = NativeExprs.hashedMarginsNative(coalesce(text, lit("")),
      w.map(_.clone()))
    // argmax with ties to the lower index: array_position of the max
    array_position(m, array_max(m)).cast("int") - 1
  }

  /** Exact distributed binary-classification evaluation over a scored
    * frame: confusion counts at the pq ≥ 5000 decision threshold plus
    * ROC-AUC by the Mann–Whitney rank statistic — the metric tier
    * that closes the train → score → evaluate loop.
    *
    * AUC law (exact integers end-to-end): scores are the quantized
    * `pq ∈ [0, 10000]`, so ties are the NORM; average-rank handling
    * is mandatory and exact — group by pq (≤ 10001 groups), cumulate
    * counts in pq order, and for each group the doubled average rank
    * `2·cum_before + n + 1` is an integer. `u2 = Σ_pos 2·avg_rank`
    * is an exact long; `auc = (u2/2 − P(P+1)/2) / (P·N)` is one
    * double division at the end (rounded to 6 dp), so the value is
    * independent of row order, partitioning, and engine.
    *
    * Scale shape: one map-side-combined aggregate to the ≤10001-row
    * pq histogram, one tiny ordered window over it, one 1-row fold.
    * The corpus is scanned once; nothing per-row ever reaches the
    * driver. Output: one row `(tp, fp, tn, fn, pos, neg, u2, auc)`. */
  def evalBinary(scored: DataFrame, pqCol: String,
                 labelCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val y = coalesce(labelCol.cast("long"), lit(0L)) // null label = 0
    val hist = scored.select(col(pqCol).as("pq"), y.as("y"))
      .groupBy("pq")
      .agg(count(lit(1)).as("n"), sum(col("y")).as("np"))
    // ≤10001 rows: the global-order window is driver-scale by design
    val w = Window.orderBy(col("pq").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = hist
      .withColumn("cum", sum(col("n")).over(w))
      .select(col("pq"), col("n"), col("np"),
        // doubled average rank of the tie group: 2·(cum−n) + n + 1
        ((col("cum") - col("n")) * 2 + col("n") + 1).as("ar2"))
    ranked.agg(
      sum(when(col("pq") >= 5000L, col("np"))).as("tpn"),
      sum(when(col("pq") >= 5000L, col("n") - col("np"))).as("fpn"),
      sum(when(col("pq") < 5000L, col("n") - col("np"))).as("tnn"),
      sum(when(col("pq") < 5000L, col("np"))).as("fnn"),
      sum(col("np")).as("pos"),
      sum(col("n") - col("np")).as("neg"),
      sum(col("np") * col("ar2")).as("u2"))
      .select(
        coalesce(col("tpn"), lit(0L)).as("tp"),
        coalesce(col("fpn"), lit(0L)).as("fp"),
        coalesce(col("tnn"), lit(0L)).as("tn"),
        coalesce(col("fnn"), lit(0L)).as("fn"),
        col("pos"), col("neg"), col("u2"),
        // AUC is undefined on a single-class frame (pos·neg = 0):
        // return null, never NaN/Infinity from the unguarded division.
        when(col("pos") > 0L && col("neg") > 0L,
          round((col("u2") / 2.0 - col("pos") * (col("pos") + 1) / 2.0) /
            (col("pos") * col("neg")), 6)).as("auc"))
  }

  /** Score with trained micro-weights: the quantized sigmoid
    * `pq ∈ [0, 10000]` (same law as training) and the keep decision
    * `pq ≥ 5000`. ONE native tokenize pass computes the exact long
    * margin (weights as a reference object — any dim); no shuffle. */
  def scoreLogReg(text: Column, w: Array[Long]): (Column, Column) = {
    val pq = floor(lit(1e4) / (lit(1.0) +
      exp(-(NativeExprs.hashedMarginNative(coalesce(text, lit("")), w.clone())
        .cast("double") / lit(1e6)))) + lit(0.5))
      .cast("long")
    (pq, (pq >= 5000L).cast("int"))
  }
}
