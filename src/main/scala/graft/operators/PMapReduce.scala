package graft.operators

import scala.collection.AbstractIterator
import scala.collection.immutable.{AbstractSeq, ArraySeq}
import scala.reflect.ClassTag
import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import graft.functions.ReduceOp
import graft.plans.{PRange, ProductIndexMath, ProductOdometer, ProductSlice}
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
  * fold per rank over that rank's `dropTake` window.
  *
  * The rank fold boxes nothing of its own per element. Each rank walks
  * its window with a [[Cursor]] whose element index is a primitive
  * field; a zip element reaches `f` as one immutable lazy [[ZipPoint]],
  * a product element through a [[ProductOdometer]] (one decode per
  * rank, then carry-increments). When `B` is `Long` and `op` is a
  * plain function ([[ReduceOp.Plain]]), the accumulator is a primitive
  * and each step calls the function's specialised `Function2` entry
  * (`apply$mcJJJ$sp`); an unspecialised function reaches the same
  * result through Scala's boxing default. Every other op folds through
  * `op.apply`. What is left per element is `f` itself: its argument
  * and, for a primitive `B`, its boxed result. Commutative
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

  /** One rank's walk over its elements in index order: `next()` is the
    * element under the cursor, then the cursor steps to the following
    * one. The element index is a primitive field, so the walk boxes no
    * index. Mutable: opened per rank, used by one thread. */
  private abstract class Cursor[B] {
    def next(): B
  }

  /** Element `j` of the zip of `rs`, read lazily: `apply(k)` is
    * `rs(k)(j)`. One 24-byte immutable object per element, so `f` may
    * keep it (no buffer is ever reused); serialized as the `ArraySeq`
    * of its values. A point's class is not part of the contract: one
    * kept on the driver of a one-rank call is a `ZipPoint`, one that
    * came back from a task an `ArraySeq`; both are `IndexedSeq[Double]`
    * and compare and hash as the seq of their values. */
  private final class ZipPoint(rs: Array[PRange], j: Long)
      extends AbstractSeq[Double] with IndexedSeq[Double] with Serializable {
    def length: Int = rs.length
    def apply(k: Int): Double = rs(k)(j)
    protected[this] def writeReplace(): AnyRef = ArraySeq.unsafeWrapArray(Array.tabulate(rs.length)(apply))
  }

  private final class ZipCursor[B](rs: Array[PRange], f: IndexedSeq[Double] => B, private[this] var j: Long)
      extends Cursor[B] {
    def next(): B = {
      val b = f(new ZipPoint(rs, j))
      j += 1
      b
    }
  }

  private final class ProductCursor[B](iters: IndexedSeq[PRange], f: IndexedSeq[Double] => B, first: Long)
      extends Cursor[B] {
    private[this] val walk = new ProductOdometer(iters, first)
    def next(): B = {
      val b = f(walk.element())
      walk.advance()
      b
    }
  }

  /** Cursors over the zip of `iters`, opened at a 0-based element index. */
  private def zipped[B](iters: IndexedSeq[PRange], f: IndexedSeq[Double] => B): Long => Cursor[B] = {
    val rs = iters.toArray
    j => new ZipCursor(rs, f, j)
  }

  /** The next `n` elements of `cur`, as an iterator. */
  private def elements[B](cur: Cursor[B], n: Long): Iterator[B] = new AbstractIterator[B] {
    private[this] var left = n
    def hasNext: Boolean = left > 0
    def next(): B = {
      if (left <= 0) throw new NoSuchElementException("next on an exhausted rank")
      left -= 1
      cur.next()
    }
  }

  /** The serial left fold of one rank's `take >= 1` elements. A plain
    * `op` over `Long` folds a primitive accumulator through the
    * function's specialised entry; anything else folds through
    * `op.apply`. Chosen once per call, on the driver; the two loops are
    * separate methods so their JIT profiles do not mix. */
  private def rankFold[B](op: ReduceOp[B])(implicit tag: ClassTag[B]): (Cursor[B], Long) => B =
    op match {
      case ReduceOp.Plain(g, _) if tag == ClassTag.Long =>
        val gl = g.asInstanceOf[(Long, Long) => Long]
        (cur, take) => foldLong(gl, cur.asInstanceOf[Cursor[Long]], take).asInstanceOf[B]
      case _ =>
        (cur, take) => foldAny(op, cur, take)
    }

  // Plain while loops, not an iterator chain: the per-rank fold may run
  // 10^8+ iterations, and a monomorphic while loop reaches compiled
  // steady state in a fraction of them.
  private def foldLong(g: (Long, Long) => Long, cur: Cursor[Long], take: Long): Long = {
    var acc = cur.next()
    var n = 1L
    while (n < take) { acc = g(acc, cur.next()); n += 1 }
    acc
  }

  private def foldAny[B](op: ReduceOp[B], cur: Cursor[B], take: Long): B = {
    var acc = cur.next()
    var n = 1L
    while (n < take) { acc = op(acc, cur.next()); n += 1 }
    acc
  }

  /** E1 (zip mode): splat the j-th element of every range into `f`,
    * reduce with `op` (reference src/mapreduce.jl:266-287). Each
    * rank left-folds its slice serially (ordered within rank), so
    * only one partial per rank crosses the network. A point that a
    * partial keeps is only an `IndexedSeq[Double]` (see [[ZipPoint]]). */
  def pmapreduce[B: ClassTag](spark: SparkSession, iters: IndexedSeq[PRange], np: Int)
                             (f: IndexedSeq[Double] => B, op: ReduceOp[B],
                              init: Option[B] = None): B =
    mapReduceIndexed(spark, iters.map(_.numElems).min, np, zipped(iters, f), op, init)(
      (partials, _) => reducePartials(partials, op))

  /** E1 (product mode): elements of the full product split across ranks,
    * each splatted into `f` (`pmapreduce(f, op, product(...))`,
    * reference src/mapreduce.jl:18-30,266-287). Each rank decodes
    * its first flat index once and then steps a [[ProductOdometer]]
    * (the general `elementAt` builds two IndexedSeqs per call — too
    * much garbage for a loop that may run 10^8+ times). */
  def pmapreduceProduct[B: ClassTag](spark: SparkSession, iters: IndexedSeq[PRange], np: Int)
                                    (f: IndexedSeq[Double] => B, op: ReduceOp[B],
                                     init: Option[B] = None): B =
    mapReduceIndexed(spark, ProductIndexMath.totalLength(iters), np,
      j => new ProductCursor(iters, f, j), op, init)((partials, _) => reducePartials(partials, op))

  /** Fold element `j` = 0 until `len` per rank under the split law, each
    * rank from a cursor `open`ed at its first index, then `combine` the
    * `(rank, partial)` pairs of the `npEff` ranks. */
  private def mapReduceIndexed[B: ClassTag](spark: SparkSession, len: Long, np: Int,
                                            open: Long => Cursor[B], op: ReduceOp[B],
                                            init: Option[B])
                                           (combine: (RDD[(Int, B)], Int) => B): B = {
    require(len > 0, "cannot reduce over an empty collection")
    val npEff = ranksFor(np, len)
    val fold = rankFold(op)
    if (npEff == 1) {
      foldInit(init, op, fold(open(0L), len))
    } else {
      val partials = rankBlocks(spark.sparkContext, npEff).map { p =>
        val (drop, take) = ProductIndexMath.dropTake(len, npEff, p)
        (p, fold(open(drop), take))
      }
      foldInit(init, op, combine(partials, npEff))
    }
  }

  /** E3: `pmap` — ordered per-element results
    * (reference src/mapreduce.jl:316-324). Each task emits its
    * ranks' elements in rank order and partitions hold ascending rank
    * blocks, so `collect` reproduces the `vcat` concatenation. A point
    * that `f` returns or keeps is only an `IndexedSeq[Double]`; its
    * class depends on the path (see [[ZipPoint]]). */
  def pmapbatch[T: ClassTag](spark: SparkSession, iters: IndexedSeq[PRange], np: Int)
                            (f: IndexedSeq[Double] => T): Vector[T] = {
    val len = iters.map(_.numElems).min
    require(len > 0, "cannot map over an empty collection")
    val npEff = ranksFor(np, len)
    val open = zipped(iters, f)
    if (npEff == 1) elements(open(0L), len).toVector
    else rankBlocks(spark.sparkContext, npEff).flatMap { p =>
      val (drop, take) = ProductIndexMath.dropTake(len, npEff, p)
      elements(open(drop), take)
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
