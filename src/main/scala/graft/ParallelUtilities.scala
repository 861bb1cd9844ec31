package graft

import scala.reflect.ClassTag
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.functions.ReduceOp
import graft.operators.PMapReduce
import graft.plans.{PRange, ProductIndexMath, ProductSlice}
import graft.sources.ProductSplitSource

/** The user-facing facade: one object exposing the reference's public
  * API surface under its own names, so a ParallelUtilities.jl user can
  * switch 1:1. Each member cites the function it replaces.
  *
  * Ranges are built with [[range]] / [[steppedRange]] / [[floatRange]]
  * (Julia `lo:hi`, `lo:step:hi`, float `lo:step:hi`).
  */
object ParallelUtilities {

  /** Julia `lo:hi`. */
  def range(lo: Long, hi: Long): PRange = PRange(lo, hi)
  /** Julia `lo:step:hi`. */
  def steppedRange(lo: Long, step: Long, hi: Long): PRange = PRange.stepped(lo, step, hi)
  /** Julia float range, e.g. 1:0.5:3. */
  def floatRange(lo: Double, step: Double, hi: Double): PRange = PRange.steppedD(lo, step, hi)

  /** `ProductSplit(iters, np, p)` (/root/reference/src/productsplit.jl:156-164):
    * the O(1) driver-side slice handle exposing the §2.2 point queries
    * (getindex/in/localindex/nelements/extrema/dropleading/...). */
  def productSplit(iters: IndexedSeq[PRange], np: Int, p: Int): ProductSlice =
    ProductIndexMath.productSplit(iters, np, p)

  /** `ProductSection(iters, firstInd:lastInd)`
    * (/root/reference/src/productsplit.jl:89-100), 1-based inclusive. */
  def productSection(iters: IndexedSeq[PRange], firstInd: Long, lastInd: Long): ProductSlice =
    ProductIndexMath.productSection(iters, firstInd, lastInd)

  /** `whichproc` (/root/reference/src/productsplit.jl:774-805). */
  def whichProc(iters: IndexedSeq[PRange], value: IndexedSeq[Double], np: Int): Option[Int] =
    ProductIndexMath.whichProc(iters, value, np)

  /** `whichproc_localindex` (/root/reference/src/productsplit.jl:922-928). */
  def whichProcLocalIndex(iters: IndexedSeq[PRange], value: IndexedSeq[Double],
                          np: Int): Option[(Int, Long)] =
    whichProc(iters, value, np).flatMap { p =>
      productSplit(iters, np, p).localIndex(value).map(li => (p, li))
    }

  /** `procrange_recast` (/root/reference/src/productsplit.jl:831-868). */
  def procRangeRecast(iters: IndexedSeq[PRange], slice: ProductSlice,
                      npNew: Int): Option[(Int, Int)] =
    ProductIndexMath.procRangeRecast(iters, slice, npNew)

  /** `pmapreduce(f, op, iterators...)` zip mode
    * (/root/reference/src/mapreduce.jl:266-287). */
  def pmapreduce[B: ClassTag](spark: SparkSession, iters: IndexedSeq[PRange], np: Int)
                             (f: IndexedSeq[Double] => B, op: ReduceOp[B],
                              init: Option[B] = None): B =
    PMapReduce.pmapreduce(spark, iters, np)(f, op, init)

  /** `pmapreduce(f, op, product(iterators...))`
    * (/root/reference/src/mapreduce.jl:18-30,266-287). */
  def pmapreduceProduct[B: ClassTag](spark: SparkSession, iters: IndexedSeq[PRange], np: Int)
                                    (f: IndexedSeq[Double] => B, op: ReduceOp[B],
                                     init: Option[B] = None): B =
    PMapReduce.pmapreduceProduct(spark, iters, np)(f, op, init)

  /** `pmapreduce_productsplit(f, op, iterators...)`
    * (/root/reference/src/mapreduce.jl:300-307): `f` sees each rank's
    * whole slice once, MPI-style. */
  def pmapreduceProductSplit[B: ClassTag](spark: SparkSession, iters: IndexedSeq[PRange], np: Int)
                                         (f: ProductSlice => B, op: ReduceOp[B],
                                          init: Option[B] = None): B =
    PMapReduce.pmapreduceProductSplit(spark, iters, np)(f, op, init)

  /** `SplittablesBase.halve` on a product slice
    * (/root/reference/src/productsplit.jl:221-233). */
  def halve(slice: ProductSlice): (ProductSlice, ProductSlice) = slice.halve

  /** `SplittablesBase.halve` on a zip window `(drop, take)`
    * (/root/reference/src/mapreduce.jl:64-67). */
  def halveZip(drop: Long, take: Long): ((Long, Long), (Long, Long)) =
    ProductIndexMath.halveZip(drop, take)

  /** T2 segmented two-stage reduction: fold each rank block in its
    * map task, then one segment per host, so the driver receives one
    * partial per host (reference src/trees.jl:42-63). Non-commutative
    * ops keep rank order. */
  def pmapreduceSegmented[B: ClassTag](spark: SparkSession, iters: IndexedSeq[PRange], np: Int)
                                      (f: IndexedSeq[Double] => B, op: ReduceOp[B],
                                       init: Option[B] = None,
                                       segments: Option[Int] = None): B =
    PMapReduce.pmapreduceSegmented(spark, iters, np)(f, op, init, segments)

  /** `pmapbatch` (/root/reference/src/mapreduce.jl:316-324). */
  def pmapbatch[T: ClassTag](spark: SparkSession, iters: IndexedSeq[PRange], np: Int)
                            (f: IndexedSeq[Double] => T): Vector[T] =
    PMapReduce.pmapbatch(spark, iters, np)(f)

  /** `pmapbatch_productsplit` (/root/reference/src/mapreduce.jl:334-342). */
  def pmapbatchProductSplit[T: ClassTag](spark: SparkSession, iters: IndexedSeq[PRange], np: Int)
                                        (f: ProductSlice => T): Vector[T] =
    PMapReduce.pmapbatchProductSplit(spark, iters, np)(f)

  // Reduction-operator algebra (/root/reference/src/reductionfunctions.jl):
  /** `Commutative(f)`. */
  def commutative[B](f: (B, B) => B): ReduceOp[B] = ReduceOp.commutative(f)
  /** Plain (ordered) op. */
  def op[B](f: (B, B) => B): ReduceOp[B] = ReduceOp(f)
  /** `Flip(f)`. */
  def flip[B](o: ReduceOp[B]): ReduceOp[B] = ReduceOp.flip(o)
  /** `elementwisesum!` family. */
  def elementwiseSum: ReduceOp[Array[Double]] = ReduceOp.elementwiseSum
  def elementwiseProduct: ReduceOp[Array[Double]] = ReduceOp.elementwiseProduct
  def elementwiseMin: ReduceOp[Array[Double]] = ReduceOp.elementwiseMin
  def elementwiseMax: ReduceOp[Array[Double]] = ReduceOp.elementwiseMax

  /** The distributed DataFrame view of the split product: columns
    * (id, d1..dN, rank) — the SQL face of `ProductSplit`. */
  def productDF(spark: SparkSession, iters: IndexedSeq[PRange], np: Int,
                names: Seq[String] = Nil): DataFrame =
    ProductSplitSource.productDF(spark, iters, np, names)

  def sectionDF(spark: SparkSession, iters: IndexedSeq[PRange],
                firstInd: Long, lastInd: Long, names: Seq[String] = Nil): DataFrame =
    ProductSplitSource.sectionDF(spark, iters, firstInd, lastInd, names)

  def zippedDF(spark: SparkSession, iters: IndexedSeq[PRange], np: Int,
               names: Seq[String] = Nil): DataFrame =
    ProductSplitSource.zippedDF(spark, iters, np, names)

  /** Typed face of [[productDF]]: `Dataset[ProductRow]` for type-safe
    * transforms (same range+decode plan, zero shuffle). */
  def productDS(spark: SparkSession, iters: IndexedSeq[PRange],
                np: Int): org.apache.spark.sql.Dataset[graft.sources.ProductRow] =
    ProductSplitSource.productDS(spark, iters, np)
}
