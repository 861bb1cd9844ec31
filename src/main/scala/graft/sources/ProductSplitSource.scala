package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.PMapReduce
import graft.plans.{PRange, ProductIndexMath, ProductSlice}

/** Typed row of the product-split source: global flat index, owning
  * rank under the split law, and the decoded element values (dimension
  * 1 first — reverse-lex order ≙ ascending `id`). */
final case class ProductRow(id: Long, rank: Int, dims: Seq[Double])

/** Spark sources for partitioned Cartesian products — the distributed
  * face of the reference's `ProductSplit`/`ProductSection`/`zip`
  * collections (/root/reference/src/productsplit.jl,
  * /root/reference/src/mapreduce.jl:45-78).
  *
  * The DataFrame path is `spark.range(0, L)` plus a pure-Column
  * mixed-radix decode — no UDFs, fully codegen'd, no shuffle; Catalyst
  * folds the constant radix weights and pushes `id` predicates into the
  * range scan, so point lookups and sections prune for free. Dimension 1
  * sits in the least-significant radix position (reverse-lex order,
  * /root/reference/src/productsplit.jl:26-27).
  *
  * The RDD path ([[productSliceRDD]]) gives EXACT rank-slice parity
  * with the reference split law (`nelementsdroptake`,
  * reference src/productsplit.jl:124-130): one `(rank, slice)`
  * row per rank, each holding its [[ProductSlice]] handle — O(1)
  * metadata, no data materialized until iterated.
  *
  * `np` is the rank count of the split law, not the partition count.
  * Every source here runs under the rank-block law of
  * [[graft.operators.PMapReduce.rankBlocks]]: at most
  * `defaultParallelism` partitions, each a contiguous ascending block
  * of ranks (of ids, for the DataFrames). The `rank` column is computed
  * by the split law, so it does not depend on the partition count.
  */
object ProductSplitSource {

  /** `spark.range` over `[first, end)` in `min(np, defaultParallelism)`
    * contiguous id blocks, trimmed so no block is empty. */
  private def idRange(spark: SparkSession, first: Long, end: Long, np: Int): DataFrame = {
    val parts = PMapReduce.ranksFor(np, end - first)
    spark.range(first, end, 1, math.min(parts, spark.sparkContext.defaultParallelism)).toDF("id")
  }

  /** True integral division (SQL `div`). The Column `/` operator is
    * DOUBLE division — exact only below 2^53, while products here can
    * exceed 10^15 elements (the reference benchmarks 4×10^10;
    * /root/reference/docs/src/pmapreduce.md:133). */
  private def divL(a: Column, b: Long): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(a),
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(lit(b))))

  /** Decode column for dimension `k` (0-based) of the product given flat
    * `id`. Pure integer arithmetic for integral ranges (exact to 2^63);
    * `start + i*step` for float ranges (no accumulation drift). */
  def decodeColumn(iters: IndexedSeq[PRange], k: Int, idCol: Column): Column = {
    val w = ProductIndexMath.weights(iters)(k)
    val r = iters(k)
    val childIdx = divL(idCol.cast("long"), w) % lit(r.numElems)
    if (r.integral) lit(r.start.toLong) + childIdx * lit(r.step.toLong)
    else lit(r.start) + childIdx.cast("double") * lit(r.step)
  }

  /** 1-based owning rank of flat `id` under the reference split law —
    * closed-form inverse of `nelementsdroptake`, usable in-plan. */
  def rankColumn(len: Long, np: Int, idCol: Column): Column = {
    val d = len / np
    val r = len % np
    val boundary = r * (d + 1)
    val id = idCol.cast("long")
    (when(id < lit(boundary), divL(id, d + 1))
      .otherwise(lit(r) + divL(id - lit(boundary), math.max(d, 1L)))
      + lit(1L)).cast("int")
  }

  private def withDecoded(base: DataFrame, iters: IndexedSeq[PRange], names: Seq[String]): DataFrame = {
    val cols = iters.indices.map { k =>
      val name = if (names.nonEmpty) names(k) else s"d${k + 1}"
      decodeColumn(iters, k, col("id")).as(name)
    }
    base.select(col("id") +: cols: _*)
  }

  /** Full product with columns `(id, rank, d1..dN)`: the union of all
    * rank slices, rank assigned by the split law. Global order is
    * `ORDER BY id` (≡ reverse-lex on the tuple). */
  def productDF(spark: SparkSession, iters: IndexedSeq[PRange], np: Int,
                names: Seq[String] = Nil): DataFrame = {
    val len = ProductIndexMath.totalLength(iters)
    withDecoded(idRange(spark, 0, len, np), iters, names)
      .withColumn("rank", rankColumn(len, np, col("id")))
  }

  /** Arbitrary window of the product by 1-based inclusive global indices
    * (`ProductSection`, /root/reference/src/productsplit.jl:89-100).
    * Backed by a pruned range scan — only the window is generated, in
    * at most `defaultParallelism` contiguous id blocks. */
  def sectionDF(spark: SparkSession, iters: IndexedSeq[PRange],
                firstInd1: Long, lastInd1: Long, names: Seq[String] = Nil): DataFrame = {
    val len = ProductIndexMath.totalLength(iters)
    require(firstInd1 >= 1 && lastInd1 <= len, "section bounds out of range")
    withDecoded(idRange(spark, firstInd1 - 1, lastInd1, spark.sparkContext.defaultParallelism),
      iters, names)
  }

  /** Zip of equal-position elements across ranges, truncated to the
    * shortest (`zipsplit`, /root/reference/src/mapreduce.jl:45-78):
    * columns `(id, rank, d1..dN)` where `dK = iters(K)(id)`. */
  def zippedDF(spark: SparkSession, iters: IndexedSeq[PRange], np: Int,
               names: Seq[String] = Nil): DataFrame = {
    val len = ProductIndexMath.zipLength(iters)
    val cols = iters.indices.map { k =>
      val r = iters(k)
      val name = if (names.nonEmpty) names(k) else s"d${k + 1}"
      val c =
        if (r.integral) lit(r.start.toLong) + col("id") * lit(r.step.toLong)
        else lit(r.start) + col("id").cast("double") * lit(r.step)
      c.as(name)
    }
    idRange(spark, 0, len, np).select(col("id") +: cols: _*)
      .withColumn("rank", rankColumn(len, np, col("id")))
  }

  /** Typed face of [[productDF]]: a `Dataset[ProductRow]` for
    * type-safe transforms (`ds.map`, `ds.filter` on case-class fields)
    * where schema-dynamic Column code isn't the right fit. Same plan
    * underneath — range scan + codegen'd decode, zero shuffle. */
  def productDS(spark: SparkSession, iters: IndexedSeq[PRange], np: Int): Dataset[ProductRow] = {
    import spark.implicits._
    productDF(spark, iters, np)
      .select(col("id"), col("rank").cast("int").as("rank"),
        array(iters.indices.map(k => col(s"d${k + 1}").cast("double")): _*).as("dims"))
      .as[ProductRow]
  }

  /** One `(rank, slice)` row per rank, in rank blocks — the analog of
    * "worker p owns ProductSplit(iters, np, p)". The slice is an O(1)
    * handle; `mapPartitions` iterates lazily (`takedrop`,
    * reference src/productsplit.jl:61-65). Ranks are trimmed to
    * `min(np, L)` so no rank is empty (`E8`,
    * /root/reference/src/clusterquery.jl:114-117). */
  def productSliceRDD(spark: SparkSession, iters: IndexedSeq[PRange], np: Int): RDD[(Int, ProductSlice)] = {
    val npEff = PMapReduce.ranksFor(np, ProductIndexMath.totalLength(iters))
    PMapReduce.rankBlocks(spark.sparkContext, npEff)
      .map(p => (p, ProductIndexMath.productSplit(iters, npEff, p)))
  }

  /** Zip-mode slices: `(rank, indices [drop, drop+take) into the zip)`. */
  def zipSliceRDD(spark: SparkSession, iters: IndexedSeq[PRange], np: Int): RDD[(Int, (Long, Long))] = {
    val len = ProductIndexMath.zipLength(iters)
    val npEff = PMapReduce.ranksFor(np, len)
    PMapReduce.rankBlocks(spark.sparkContext, npEff)
      .map { p => (p, ProductIndexMath.dropTake(len, npEff, p)) }
  }
}
