package graft.operators

import java.lang.invoke.MethodHandles
import scala.reflect.ClassTag
import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import graft.functions.ReduceOp
import graft.plans.{PRange, ProductIndexMath, ProductOdometer, ProductSlice, WalkPoint}
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
  * Each rank's loop runs in a copy of its own per lambda class
  * ([[RankLoops]]): the loop bytecode is copied into a hidden class per
  * class of `f`, so its calls to `f` and `op` have a profile of their
  * own and C2 inlines them. A zip element is one immutable lazy
  * [[ZipPoint]]; once `f` is inlined, a point that `f` does not keep
  * and `f`'s boxed result for a primitive `B` are scalar-replaced, so
  * a zip element allocates nothing that `f` does not. A product
  * element comes from a [[ProductOdometer]] (one decode per rank, then
  * carry-increments): an immutable `(v1, snapshot)` point whose
  * dimension 1 is a primitive and whose dimensions 2..N are an array
  * shared until dimension 1 wraps, so a product element allocates
  * nothing that `f` does not either, apart from one `N-1`-double
  * snapshot per `len(dim 1)` elements.
  * When `B` is `Long` and `op` is a plain function
  * ([[ReduceOp.Plain]]), the accumulator is a primitive and each step
  * calls the function's specialised `Function2` entry
  * (`apply$mcJJJ$sp`); an unspecialised function reaches the same
  * result through Scala's boxing default. Every other op folds through
  * `op.apply`. Commutative ops then combine partials with
  * `treeReduce` (the two-level aggregation tree subsumes the
  * reference's host-segmented reduction tree,
  * /root/reference/src/trees.jl:42-63). Non-commutative ops use
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

  /** T2: segmented two-stage reduction for COMMUTATIVE ops — the
    * reference's `SegmentedOrderedBinaryTree` rationale: fold as much
    * as possible where the partials are made, so few payloads cross
    * the network (reference src/trees.jl:42-63,
    * docs/src/index.md:34).
    *
    * Stage 1 folds each partition's partials (a rank block, under the
    * rank-block law) through a serial (in-place-friendly) `reduceLeft`
    * inside its own map task, so the map runs on every core. Stage 2
    * shuffles the one partial per map task into one segment per host,
    * folds each segment serially, and ships ONE partial per segment to
    * the driver fold: with H hosts, P map tasks (at most
    * `defaultParallelism`) and np ranks carrying an 800 KB array
    * payload, the shuffle moves P payloads and the driver receives H,
    * never np. The shuffle is not locality-aware, so a block partial
    * may cross a node boundary once before it is combined. With one
    * segment (one host) or with at least as many segments as map tasks,
    * stage 2 would combine no partials across hosts, so there is none:
    * the driver receives the P block partials and folds them itself,
    * with no shuffle write and read of every partial.
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
    * That costs one shuffle of np partials; commutative ops shuffle
    * only the P block partials.
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
        val fold = (it: Iterator[B]) => if (it.hasNext) Iterator(it.reduceLeft(op)) else Iterator.empty
        val blocks = partials.values.mapPartitions(fold)
        val perSegment =
          if (nSeg == 1 || nSeg >= blocks.getNumPartitions) blocks
          else blocks.coalesce(nSeg, shuffle = true).mapPartitions(fold)
        perSegment.map((0, _)).collect()
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
    mapReduceIndexed(spark, ProductIndexMath.zipLength(iters), np, zipFold(iters, f, op), op, init)(
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

  /** Element `j` of the zip of `rs`, read lazily: `apply(k)` is
    * `rs(k)(j)`. One 24-byte immutable object per element, so `f` may
    * keep it (no buffer is ever reused). Its class is no more part of
    * the contract than a product point's (see [[WalkPoint]]). */
  private[operators] final class ZipPoint(rs: Array[PRange], j: Long) extends WalkPoint {
    def length: Int = rs.length
    def apply(k: Int): Double = rs(k)(j)
  }

  /** `op`'s function when `B` is `Long` and `op` is a plain function:
    * the rank loop then folds a primitive accumulator. */
  private def plainLong[B](op: ReduceOp[B])(implicit tag: ClassTag[B]): Option[(Long, Long) => Long] =
    op match {
      case ReduceOp.Plain(g, _) if tag == ClassTag.Long => Some(g.asInstanceOf[(Long, Long) => Long])
      case _                                            => None
    }

  /** One rank's serial left fold over the zip of `iters`: `(first, take)`
    * folds the `take >= 1` elements from 0-based index `first` in `f`'s
    * copy of the rank loops. The loop is chosen once per call, on the
    * driver; the copy is looked up where the rank runs. */
  private def zipFold[B: ClassTag](iters: IndexedSeq[PRange], f: IndexedSeq[Double] => B,
                                   op: ReduceOp[B]): (Long, Long) => B = {
    val rs = iters.toArray
    plainLong(op) match {
      case Some(g) =>
        val fl = f.asInstanceOf[IndexedSeq[Double] => Long]
        (first, take) => RankLoops.of(f).zipLong(rs, fl, g, first, take).asInstanceOf[B]
      case None =>
        (first, take) => RankLoops.of(f).zipAny(rs, f, op, first, take)
    }
  }

  /** [[zipFold]] over the product of `iters`. */
  private def productFold[B: ClassTag](iters: IndexedSeq[PRange], f: IndexedSeq[Double] => B,
                                       op: ReduceOp[B]): (Long, Long) => B =
    plainLong(op) match {
      case Some(g) =>
        val fl = f.asInstanceOf[IndexedSeq[Double] => Long]
        (first, take) => RankLoops.of(f).productLong(iters, fl, g, first, take).asInstanceOf[B]
      case None =>
        (first, take) => RankLoops.of(f).productAny(iters, f, op, first, take)
    }

  /** E1 (zip mode): splat the j-th element of every range into `f`,
    * reduce with `op` (reference src/mapreduce.jl:266-287). Each
    * rank left-folds its slice serially (ordered within rank), so
    * only one partial per rank crosses the network. A point that a
    * partial keeps is only an `IndexedSeq[Double]` (see [[WalkPoint]]). */
  def pmapreduce[B: ClassTag](spark: SparkSession, iters: IndexedSeq[PRange], np: Int)
                             (f: IndexedSeq[Double] => B, op: ReduceOp[B],
                              init: Option[B] = None): B =
    mapReduceIndexed(spark, ProductIndexMath.zipLength(iters), np, zipFold(iters, f, op), op, init)(
      (partials, _) => reducePartials(partials, op))

  /** E1 (product mode): elements of the full product split across ranks,
    * each splatted into `f` (`pmapreduce(f, op, product(...))`,
    * reference src/mapreduce.jl:18-30,266-287). Each rank decodes
    * its first flat index once and then steps a [[ProductOdometer]]
    * (the general `elementAt` builds two IndexedSeqs per call — too
    * much garbage for a loop that may run 10^8+ times). `f` gets an
    * immutable point that it may keep; like a zip point, it is only an
    * `IndexedSeq[Double]` (see [[WalkPoint]]). */
  def pmapreduceProduct[B: ClassTag](spark: SparkSession, iters: IndexedSeq[PRange], np: Int)
                                    (f: IndexedSeq[Double] => B, op: ReduceOp[B],
                                     init: Option[B] = None): B =
    mapReduceIndexed(spark, ProductIndexMath.totalLength(iters), np, productFold(iters, f, op), op, init)(
      (partials, _) => reducePartials(partials, op))

  /** Fold element `j` = 0 until `len` per rank under the split law, each
    * rank's window through `fold(drop, take)`, then `combine` the
    * `(rank, partial)` pairs of the `npEff` ranks. */
  private def mapReduceIndexed[B: ClassTag](spark: SparkSession, len: Long, np: Int,
                                            fold: (Long, Long) => B, op: ReduceOp[B],
                                            init: Option[B])
                                           (combine: (RDD[(Int, B)], Int) => B): B = {
    require(len > 0, "cannot reduce over an empty collection")
    val npEff = ranksFor(np, len)
    if (npEff == 1) {
      foldInit(init, op, fold(0L, len))
    } else {
      val partials = rankBlocks(spark.sparkContext, npEff).map { p =>
        val (drop, take) = ProductIndexMath.dropTake(len, npEff, p)
        (p, fold(drop, take))
      }
      foldInit(init, op, combine(partials, npEff))
    }
  }

  /** E3: `pmap` — ordered per-element results
    * (reference src/mapreduce.jl:316-324). Each rank maps its window
    * in `f`'s copy of the rank loops; each task emits its ranks'
    * results in rank order and partitions hold ascending rank blocks,
    * so `collect` reproduces the `vcat` concatenation. A point that `f`
    * returns or keeps is only an `IndexedSeq[Double]`; its class
    * depends on the path (see [[WalkPoint]]). */
  def pmapbatch[T: ClassTag](spark: SparkSession, iters: IndexedSeq[PRange], np: Int)
                            (f: IndexedSeq[Double] => T): Vector[T] = {
    val len = ProductIndexMath.zipLength(iters)
    require(len > 0, "cannot map over an empty collection")
    val npEff = ranksFor(np, len)
    val rs = iters.toArray
    // `f` of the `take` elements from `first`, boxed where `T` is primitive
    val walk: (Long, Long) => Array[AnyRef] = { (first, take) =>
      val out = new Array[AnyRef](Math.toIntExact(take))
      RankLoops.of(f).zipMap(rs, f, first, out)
      out
    }
    if (npEff == 1) walk(0L, len).toVector.asInstanceOf[Vector[T]]
    else rankBlocks(spark.sparkContext, npEff).flatMap { p =>
      val (drop, take) = ProductIndexMath.dropTake(len, npEff, p)
      // typed as `T`, so a task's result is an `Array[T]`: a primitive
      // array ships whole, not as one serialized box per element
      walk(drop, take).iterator.asInstanceOf[Iterator[T]]
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

/** The rank loops of the `pmapreduce` family, one copy per lambda
  * class. [[RankLoops.of]] gives `f` a copy whose class is a hidden
  * class defined from the bytes of [[RankLoopTemplate]], cached per
  * class of `f`. Each copy's bytecode is its own, so its JIT profile
  * is too: the calls to `f` and `op` see one receiver class each and
  * C2 inlines them, which a loop shared by every caller does not get
  * once a second lambda runs through it. A copy holds nothing: `f`,
  * `op` and the ranges are arguments of every call. A copy's frames
  * are hidden-class frames, so stack traces leave them out; an
  * exception from `f` or `op` still shows their own frames. */
private[graft] abstract class RankLoops {
  /** The serial left fold of `f` over the `take >= 1` zip elements of
    * `rs` from 0-based index `first`, through a plain `Long` function. */
  def zipLong(rs: Array[PRange], f: IndexedSeq[Double] => Long, g: (Long, Long) => Long,
              first: Long, take: Long): Long
  /** [[zipLong]] through any op. */
  def zipAny[B](rs: Array[PRange], f: IndexedSeq[Double] => B, op: (B, B) => B,
                first: Long, take: Long): B
  /** [[zipLong]] over the product of `iters`, in flat-index order. */
  def productLong(iters: IndexedSeq[PRange], f: IndexedSeq[Double] => Long, g: (Long, Long) => Long,
                  first: Long, take: Long): Long
  /** [[productLong]] through any op. */
  def productAny[B](iters: IndexedSeq[PRange], f: IndexedSeq[Double] => B, op: (B, B) => B,
                    first: Long, take: Long): B
  /** `out(i) = f(zip element first + i)` for every slot of `out`. */
  def zipMap[T](rs: Array[PRange], f: IndexedSeq[Double] => T, first: Long, out: Array[AnyRef]): Unit
}

private[graft] object RankLoops {
  private[this] val template: Array[Byte] = {
    val in = classOf[RankLoopTemplate].getResourceAsStream(classOf[RankLoopTemplate].getSimpleName + ".class")
    try in.readAllBytes() finally in.close()
  }

  private[this] val copies = new ClassValue[RankLoops] {
    protected def computeValue(lambda: Class[_]): RankLoops =
      MethodHandles.lookup().defineHiddenClass(template, true).lookupClass()
        .getDeclaredConstructor().newInstance().asInstanceOf[RankLoops]
  }

  /** The copy of the rank loops for `f`'s class. */
  def of(f: AnyRef): RankLoops = copies.get(f.getClass)
}

/** The bytes that every [[RankLoops]] copy is defined from. Each loop
  * calls `f` and `op` itself, with no object in between whose method,
  * once inlined, would bring a profile shared by every lambda. It
  * declares no field and has no companion, so a copy keeps nothing of
  * any `f`; it uses no lambda, so a copy's bytes define no other class. */
private[graft] final class RankLoopTemplate extends RankLoops {
  // Plain while loops, not an iterator chain: a rank may fold 10^8+
  // elements.
  def zipLong(rs: Array[PRange], f: IndexedSeq[Double] => Long, g: (Long, Long) => Long,
              first: Long, take: Long): Long = {
    var acc = f(new PMapReduce.ZipPoint(rs, first))
    var j = first + 1
    val end = first + take
    while (j < end) { acc = g(acc, f(new PMapReduce.ZipPoint(rs, j))); j += 1 }
    acc
  }

  def zipAny[B](rs: Array[PRange], f: IndexedSeq[Double] => B, op: (B, B) => B,
                first: Long, take: Long): B = {
    var acc = f(new PMapReduce.ZipPoint(rs, first))
    var j = first + 1
    val end = first + take
    while (j < end) { acc = op(acc, f(new PMapReduce.ZipPoint(rs, j))); j += 1 }
    acc
  }

  def productLong(iters: IndexedSeq[PRange], f: IndexedSeq[Double] => Long, g: (Long, Long) => Long,
                  first: Long, take: Long): Long = {
    val walk = new ProductOdometer(iters, first)
    var i1 = walk.index1
    var acc = f(walk.point(i1))
    var n = 1L
    while (n < take) { i1 = walk.step(i1); acc = g(acc, f(walk.point(i1))); n += 1 }
    acc
  }

  def productAny[B](iters: IndexedSeq[PRange], f: IndexedSeq[Double] => B, op: (B, B) => B,
                    first: Long, take: Long): B = {
    val walk = new ProductOdometer(iters, first)
    var i1 = walk.index1
    var acc = f(walk.point(i1))
    var n = 1L
    while (n < take) { i1 = walk.step(i1); acc = op(acc, f(walk.point(i1))); n += 1 }
    acc
  }

  def zipMap[T](rs: Array[PRange], f: IndexedSeq[Double] => T, first: Long, out: Array[AnyRef]): Unit = {
    var i = 0
    while (i < out.length) { out(i) = f(new PMapReduce.ZipPoint(rs, first + i)).asInstanceOf[AnyRef]; i += 1 }
  }
}
