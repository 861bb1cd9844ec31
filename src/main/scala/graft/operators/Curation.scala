package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus curation operators: the selection passes a training-data
  * pipeline runs AFTER scoring/dedup — per-domain caps and
  * perplexity-band bucketing (public provenance: Gopher's per-domain
  * caps, CCNet's perplexity terciles).
  */
object Curation {

  /** Gopher-style per-group cap: keep at most `cap` rows per value of
    * `groupCol`, the TOP `cap` by `scoreCol` (desc), ties broken by
    * `idCol` (asc) so selection is total-ordered and deterministic.
    * Returns the kept rows plus their in-group rank `rk` (1-based).
    *
    * Scale shape: the rank-filter pattern compiles to
    * WindowGroupLimit, so each map task pre-prunes every group to its
    * local top-`cap` BEFORE the shuffle — a hot domain with 10^8 docs
    * ships `cap` rows per partition, not the domain. No driver state,
    * no per-group collect. */
  def capPerGroup(df: DataFrame, groupCol: String, scoreCol: Column,
                  idCol: String, cap: Int): DataFrame = {
    require(cap >= 1, s"cap=$cap")
    val w = Window.partitionBy(col(groupCol))
      .orderBy(scoreCol.desc, col(idCol).asc)
    df.withColumn("rk", row_number().over(w)).where(col("rk") <= cap)
  }

  /** CCNet-style perplexity bucketing: label each document head /
    * middle / tail by its unigram surprisal relative to its language's
    * corpus distribution (head = most probable text under the LM).
    *
    * DEVIATION from CCNet's exact terciles, on purpose: exact
    * per-language terciles need a global rank within each language —
    * a window over a handful of hot language partitions that one
    * task per language would have to sort at 100 TB. Instead the
    * thresholds are mean ± 0.4307·σ of the per-language surprisal
    * distribution (the exact tercile cuts IF surprisal were normal;
    * Φ(-0.4307) = 1/3), computed with one aggregate-only pass:
    * integer-quantized surprisal (already order-independent, see
    * [[LanguageModel]]) summed exactly as decimal — so mean and σ are
    * bit-reproducible — then broadcast back. Every stage is a
    * map-side-combined aggregate or a broadcast join; nothing sorts a
    * language.
    *
    * Output: (idCol, langCol, n_tok, bits_per_token, bucket) with
    * bucket ∈ {head, middle, tail}; thresholds rounded to 6 dp before
    * the comparison so the cut is cross-engine deterministic. */
  def surprisalBuckets(df: DataFrame, idCol: String, textCol: String,
                       langCol: String): DataFrame = {
    val sur = LanguageModel.unigramSurprisal(df, idCol, textCol)
      .join(df.select(col(idCol), col(langCol)), Seq(idCol))
    // Quantized surprisal: 6-dp value scaled to exact integers, so the
    // per-language sums below are order-independent (decimal, not
    // double — sum of squares at 2e7² × 10^9 rows overflows a long).
    // cache(): the scored frame feeds both the threshold aggregate and
    // the output join — query-scoped, same policy as the dedup family.
    val q = sur.withColumn("bq",
      graft.functions.Quantize.quantizeDecimal(col("bits_per_token"), 6)).cache()
    val stats = q.groupBy(langCol).agg(
      count(lit(1)).as("ln"),
      sum(col("bq")).as("s1"),
      sum(col("bq") * col("bq")).as("s2"))
    // Exact integer sums -> doubles with the SAME expression shape the
    // oracle uses; mq*mq (not pow: Math.pow is 1-ulp, not bit-exact
    // across engines), every op IEEE-deterministic, 6-dp round last.
    val mq = col("s1").cast("double") / col("ln")
    val sq = col("s2").cast("double") / col("ln")
    val sdq = sqrt(sq - mq * mq)
    val thr = stats.select(col(langCol),
      round(mq / 1e6 - lit(0.4307) * sdq / 1e6, 6).as("t_lo"),
      round(mq / 1e6 + lit(0.4307) * sdq / 1e6, 6).as("t_hi"))
    q.join(broadcast(thr), Seq(langCol))
      .select(col(idCol), col(langCol), col("n_tok"), col("bits_per_token"),
        when(col("bits_per_token") < col("t_lo"), lit("head"))
          .when(col("bits_per_token") >= col("t_hi"), lit("tail"))
          .otherwise(lit("middle")).as("bucket"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every
    * `raw` document by the log-likelihood ratio of its hashed word
    * n-grams under the TARGET distribution vs the RAW distribution —
    * the standard lever for tilting a web-scale corpus toward a
    * curated target domain before sampling. Both distributions are
    * add-1-smoothed bag-of-hashed-n-gram models over `dim` buckets
    * (the hashing trick; the paper's uni+bigram features are `n = 1`
    * and `n = 2` runs of this — compose by summing the two scores).
    *
    * Output: `(idCol, dsir_micro)` — the raw integer micro-nat sum
    * `Σ_g round(1e6 · (ln p_target(g) − ln p_raw(g)))`, quantized
    * PER BUCKET (once, driver-side, HALF_UP — the engine's
    * [[graft.functions.Quantize]] law) so the per-document sum is
    * order-independent integer arithmetic, cross-engine stable, and
    * exactly reproducible by the DuckDB oracle. Docs with fewer than
    * `n` tokens score 0. Resampling composes downstream: rank by
    * `dsir_micro` (ties to id) or feed it to [[Sampling]]'s weighted
    * draw.
    *
    * Scale shape (the 100 TB contract): TWO corpus scans total — one
    * map-side-combined bucket-count aggregate per corpus, each
    * emitting ≤ `dim` rows (the ONLY shuffles, both dim-bounded);
    * the λ table is built on the driver from those ≤ 2·dim rows
    * (bounded by construction, the centroids-≤-k collect rule) and
    * ships as ONE reference-object long array (512 KiB at the 65536
    * default) inside a fused tokenize→gram→bucket→integer-fold native
    * pass ([[graft.functions.NativeExprs.NgramWeightSumExpr]]) — the
    * scoring job is a pure map with zero joins and zero shuffles,
    * the same serve shape as the trained-classifier family. */
  def dsirLogWeights(raw: DataFrame, target: DataFrame,
                     idCol: String, textCol: String,
                     dim: Int = 65536, n: Int = 2): DataFrame = {
    require(n > 0, s"n=$n")
    require(dim > 0 && dim <= (1 << 24), s"dim=$dim (driver builds a dim-long array)")
    def counts(df: DataFrame): Map[Long, Long] =
      df.select(explode(graft.functions.NativeExprs.ngramBucketsNative(
          col(textCol), n, dim)).as("b"))
        .groupBy("b").agg(count(lit(1)).as("c"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cr = counts(raw)
    val ct = counts(target)
    val nr = cr.valuesIterator.sum
    val nt = ct.valuesIterator.sum
    // λ[b] in micro-nats, quantized HALF_UP per bucket (the Quantize
    // law). ln(x) − ln(y), NOT ln(x/y): two libm calls whose oracle
    // twins (DuckDB ln) agree far inside the 1e-6 grid, and the
    // subtraction is exact IEEE on same-magnitude logs.
    val denT = (nt + dim).toDouble
    val denR = (nr + dim).toDouble
    val lam = Array.tabulate(dim) { b =>
      graft.functions.Quantize.quantizeDouble(
        math.log((ct.getOrElse(b.toLong, 0L) + 1.0) / denT) -
          math.log((cr.getOrElse(b.toLong, 0L) + 1.0) / denR), 6)
    }
    // coalesce: a NULL text scores 0, like a doc with < n tokens —
    // the documented "no grams" rule, not SQL null propagation.
    raw.select(col(idCol),
      coalesce(graft.functions.NativeExprs.ngramWeightSumNative(
        col(textCol), n, lam), lit(0L)).as("dsir_micro"))
  }
}
