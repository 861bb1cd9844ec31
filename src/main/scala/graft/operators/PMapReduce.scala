package graft.operators

import scala.reflect.ClassTag
import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import graft.functions.ReduceOp
import graft.plans.{PRange, ProductIndexMath, ProductSlice}
import graft.sources.ProductSplitSource

/** The execution operators E1–E4: distributed map + rank-ordered reduce
  * over partitioned products/zips — the engine's `pmapreduce` family
  * (/root/reference/src/mapreduce.jl:266-342).
  *
  * `np` is the rank count of the split law: it fixes which elements
  * each rank folds and the order the rank partials combine in. It is
  * not the Spark task count. Ranks run under the rank-block law
  * ([[rankBlocks]]): ranks `1..npEff` go into
  * `min(npEff, defaultParallelism)` partitions, each a contiguous
  * ascending block of ranks, so a call costs at most one task per core
  * however many ranks it splits into.
  *
  * Spark-first design: per-rank partial aggregation happens inside each
  * task (map-side combine ≙ the reference's per-worker serial
  * `mapreduce`, reference src/mapreduce.jl:104-124), one serial
  * fold per rank over that rank's `dropTake` window. Commutative
  * ops then combine partials with `treeReduce` (the two-level
  * aggregation tree subsumes the reference's host-segmented reduction
  * tree, /root/reference/src/trees.jl:42-63). Non-commutative ops use
  * the one semantic Spark doesn't give natively: partials are tagged
  * with their rank, gathered, sorted by rank, and left-folded — exactly
  * the reference's root combine (`_maybesort` + `reducechannel`,
  * reference src/mapreduce.jl:138-146). There are `np` partials
  * (one per rank, not per row), so the gather is O(np), not O(data).
  *
  * `init` is folded exactly once, on the driver, after the distributed
  * reduce — never per partition (the init-once law,
  * /root/reference/src/mapreduce.jl:110-117).
  */
object PMapReduce {

  /** The effective rank count `npEff`: `np` trimmed to the `len`
    * elements, so no rank is empty (`E8`, reference
    * src/clusterquery.jl:114-117), and at least 1 for an empty
    * collection. `np < 1` is refused. */
  private[graft] def ranksFor(np: Int, len: Long): Int = {
    require(np >= 1, s"np must be >= 1, got $np")
    math.max(1L, math.min(np.toLong, len)).toInt
  }

  /** The rank-block law: ranks `1..npEff` as an RDD of
    * `min(npEff, defaultParallelism)` partitions. `parallelize` slices a
    * `Range` into contiguous ascending sub-ranges, so every partition
    * holds a block of consecutive ranks and partition order is rank
    * order. */
  private[graft] def rankBlocks(sc: SparkContext, npEff: Int): RDD[Int] =
    sc.parallelize(1 to npEff, math.min(npEff, sc.defaultParallelism))

  /** Combine rank-tagged partials respecting the commutativity tag. */
  private[graft] def reducePartials[B: ClassTag](partials: RDD[(Int, B)], op: ReduceOp[B]): B = {
    if (op.commutative) {
      val n = partials.getNumPartitions
      partials.values.treeReduce(op, depth = if (n > 16) 2 else 1)
    } else {
      // Rank-sorted left fold at the root: reference semantics for
      // non-commutative ops. O(np) values gathered, one per rank.
      partials.collect().sortBy(_._1).map(_._2).reduceLeft(op)
    }
  }

  private def foldInit[B](init: Option[B], op: ReduceOp[B], result: B): B =
    init.map(i => op(i, result)).getOrElse(result)

  /** T2: host-segmented two-stage reduction for COMMUTATIVE ops — the
    * reference's `SegmentedOrderedBinaryTree` rationale: reduce WITHIN
    * each node before anything crosses the network
    * (/root/reference/src/trees.jl:42-63, docs/src/index.md:34).
    *
    * Stage 1 is a shuffle-free locality-aware `coalesce` to one
    * partition per host — Spark's partition coalescer groups parent
    * partitions by preferred location, so each group folds HOST-LOCAL
    * partials through a serial (in-place-friendly) `reduceLeft` with
    * zero network traffic. Stage 2 ships ONE partial per host to the
    * driver fold: with H hosts and np ranks carrying an 800 KB array
    * payload, the driver-bound traffic is H payloads, not np (and
    * unlike `treeReduce(depth=2)`, no intermediate partial ever
    * crosses a node boundary before being combined).
    *
    * `segments` overrides the segment count for single-host testing;
    * the reference fakes multi-host topologies the same way
    * (/root/reference/test/paralleltests.jl:472-485).
    *
    * Non-commutative ops keep full rank order — the reference's
    * segmented tree does because its rank->host layout is contiguous
    * by construction (/root/reference/src/trees.jl:108-137); Spark's
    * scheduler placement is not, so the same contiguous layout is
    * built explicitly: ranks are range-partitioned into segments with
    * the engine's own split law ([[ProductIndexMath.rankOfIndex]]),
    * rank-sorted within each segment, left-folded, and the per-segment
    * partials combine in segment (= min-rank) order on the driver.
    * That costs one shuffle of np partials; commutative ops keep the
    * shuffle-free locality-aware coalesce.
    *
    * `partials` is keyed by 1-based rank, every key in `1..np`; how the
    * ranks are spread over partitions does not matter (the pmapreduce*
    * callers build them under the rank-block law). */
  def hostSegmentedReduce[B: ClassTag](spark: SparkSession, partials: RDD[(Int, B)], np: Int,
                                       op: ReduceOp[B],
                                       segments: Option[Int] = None): B = {
    require(np >= 1, s"rank count must be positive, got $np")
    val nSeg = math.max(1, segments.getOrElse(
      new ClusterQuery(spark).nodenames.size))
    val perSeg: Array[(Int, B)] =
      if (op.commutative) {
        partials.values.coalesce(nSeg)
          .mapPartitions(it =>
            if (it.hasNext) Iterator((0, it.reduceLeft(op))) else Iterator.empty)
          .collect()
      } else {
        val nSegEff = math.min(nSeg, np)
        val bySeg = partials.partitionBy(new org.apache.spark.Partitioner {
          def numPartitions: Int = nSegEff
          def getPartition(key: Any): Int = {
            val rank = key.asInstanceOf[Int]
            require(1 <= rank && rank <= np, s"rank key $rank outside 1..$np")
            ProductIndexMath.rankOfIndex(np.toLong, nSegEff, rank - 1L) - 1
          }
        })
        bySeg.mapPartitions({ it =>
          val buf = it.toArray.sortBy(_._1)
          if (buf.isEmpty) Iterator.empty
          else Iterator((buf.head._1, buf.map(_._2).reduceLeft(op)))
        }, preservesPartitioning = true).collect()
      }
    require(perSeg.nonEmpty, "cannot reduce over an empty collection")
    perSeg.sortBy(_._1).map(_._2).reduceLeft(op)
  }

  /** E1 (zip mode) with the T2 host-segmented combine instead of
    * `treeReduce` — same per-rank serial fold as [[pmapreduce]],
    * then [[hostSegmentedReduce]] over the per-rank partials. */
  def pmapreduceSegmented[B: ClassTag](spark: SparkSession, iters: IndexedSeq[PRange], np: Int)
                                      (f: IndexedSeq[Double] => B, op: ReduceOp[B],
                                       init: Option[B] = None,
                                       segments: Option[Int] = None): B =
    mapReduceIndexed(spark, iters.map(_.numElems).min, np, zipped(iters, f), op, init)(
      (partials, npEff) => hostSegmentedReduce(spark, partials, npEff, op, segments))

  /** E2: `f` receives each rank's whole ProductSlice once (MPI-style;
    * /root/reference/docs/src/pmapreduce.md:58-93), partials reduced by
    * `op` in rank order. `f` may use every §2.2 point query on the
    * slice. Fast path: a single rank computes locally with no job
    * (/root/reference/src/mapreduce.jl:269-277). */
  def pmapreduceProductSplit[B: ClassTag](spark: SparkSession, iters: IndexedSeq[PRange], np: Int)
                                         (f: ProductSlice => B, op: ReduceOp[B],
                                          init: Option[B] = None): B = {
    val len = ProductIndexMath.totalLength(iters)
    val npEff = ranksFor(np, len)
    if (npEff == 1) {
      foldInit(init, op, f(ProductIndexMath.productSplit(iters, 1, 1)))
    } else {
      val partials = ProductSplitSource.productSliceRDD(spark, iters, npEff)
        .mapPartitions(_.map { case (p, slice) => (p, f(slice)) }, preservesPartitioning = true)
      foldInit(init, op, reducePartials(partials, op))
    }
  }

  /** Element `j` of the zip of `iters`, splatted into `f`. The element
    * tuple is built in a primitive array (one allocation, no builders)
    * — this runs once per element of potentially 10^8+. */
  private def zipped[B](iters: IndexedSeq[PRange], f: IndexedSeq[Double] => B): Long => B = {
    val rs = iters.toArray
    j => {
      val arr = new Array[Double](rs.length)
      var k = 0
      while (k < rs.length) { arr(k) = rs(k)(j); k += 1 }
      f(scala.collection.immutable.ArraySeq.unsafeWrapArray(arr))
    }
  }

  /** E1 (zip mode): splat the j-th element of every range into `f`,
    * reduce with `op` (reference src/mapreduce.jl:266-287). Each
    * rank left-folds its slice serially (ordered within rank), so
    * only one partial per rank crosses the network. */
  def pmapreduce[B: ClassTag](spark: SparkSession, iters: IndexedSeq[PRange], np: Int)
                             (f: IndexedSeq[Double] => B, op: ReduceOp[B],
                              init: Option[B] = None): B =
    mapReduceIndexed(spark, iters.map(_.numElems).min, np, zipped(iters, f), op, init)(
      (partials, _) => reducePartials(partials, op))

  /** E1 (product mode): elements of the full product split across ranks,
    * each splatted into `f` (`pmapreduce(f, op, product(...))`,
    * /root/reference/src/mapreduce.jl:18-30,266-287). The mixed-radix
    * decode runs inline into one primitive array per element (the
    * general `elementAt` builds two IndexedSeqs per call — too much
    * garbage for a loop that may run 10^8+ times). */
  def pmapreduceProduct[B: ClassTag](spark: SparkSession, iters: IndexedSeq[PRange], np: Int)
                                    (f: IndexedSeq[Double] => B, op: ReduceOp[B],
                                     init: Option[B] = None): B = {
    val len = ProductIndexMath.totalLength(iters)
    val rs = iters.toArray
    mapReduceIndexed(spark, len, np, { j =>
      val arr = new Array[Double](rs.length)
      var rem = j
      var k = 0
      while (k < rs.length) {
        val n = rs(k).numElems
        arr(k) = rs(k)(rem % n)
        rem /= n
        k += 1
      }
      f(scala.collection.immutable.ArraySeq.unsafeWrapArray(arr))
    }, op, init)((partials, _) => reducePartials(partials, op))
  }

  /** Fold element `j` = 0 until `len` per rank under the split law, then
    * `combine` the `(rank, partial)` pairs of the `npEff` ranks. */
  private def mapReduceIndexed[B: ClassTag](spark: SparkSession, len: Long, np: Int,
                                            f: Long => B, op: ReduceOp[B],
                                            init: Option[B])
                                           (combine: (RDD[(Int, B)], Int) => B): B = {
    require(len > 0, "cannot reduce over an empty collection")
    val npEff = ranksFor(np, len)
    // Plain while loops, not Range.iterator.map(f).reduceLeft(op): the
    // per-rank fold may run 10^8+ iterations, and the iterator
    // chain (NumericRange[Long] boxing + two megamorphic apply sites)
    // both costs per element and takes C2 several seconds of profiling
    // to JIT — which showed up as multi-second scatter in repeated
    // bench records of frozen code. A monomorphic while loop reaches
    // compiled steady state in a fraction of the iterations.
    def foldRange(drop: Long, take: Long): B = {
      var acc = f(drop)
      var j = drop + 1
      val end = drop + take
      while (j < end) { acc = op(acc, f(j)); j += 1 }
      acc
    }
    if (npEff == 1) {
      foldInit(init, op, foldRange(0L, len))
    } else {
      val partials = rankBlocks(spark.sparkContext, npEff).map { p =>
        val (drop, take) = ProductIndexMath.dropTake(len, npEff, p)
        (p, foldRange(drop, take))
      }
      foldInit(init, op, combine(partials, npEff))
    }
  }

  /** E3: `pmap` — ordered per-element results
    * (reference src/mapreduce.jl:316-324). Each task emits its
    * ranks' elements in rank order and partitions hold ascending rank
    * blocks, so `collect` reproduces the `vcat` concatenation. */
  def pmapbatch[T: ClassTag](spark: SparkSession, iters: IndexedSeq[PRange], np: Int)
                            (f: IndexedSeq[Double] => T): Vector[T] = {
    val len = iters.map(_.numElems).min
    require(len > 0, "cannot map over an empty collection")
    val npEff = ranksFor(np, len)
    val g = zipped(iters, f)
    if (npEff == 1) (0L until len).iterator.map(g).toVector
    else rankBlocks(spark.sparkContext, npEff).flatMap { p =>
      val (drop, take) = ProductIndexMath.dropTake(len, npEff, p)
      (drop until drop + take).iterator.map(g)
    }.collect().toVector
  }

  /** E4: per-rank `f(slice)` gathered in rank order
    * (/root/reference/src/mapreduce.jl:334-342). */
  def pmapbatchProductSplit[T: ClassTag](spark: SparkSession, iters: IndexedSeq[PRange], np: Int)
                                        (f: ProductSlice => T): Vector[T] = {
    val len = ProductIndexMath.totalLength(iters)
    val npEff = ranksFor(np, len)
    if (npEff == 1) Vector(f(ProductIndexMath.productSplit(iters, 1, 1)))
    else ProductSplitSource.productSliceRDD(spark, iters, npEff)
      .map { case (_, slice) => f(slice) }
      .collect().toVector
  }
}
