package graft.functions

/** The reduction-operator algebra passed to pmapreduce — the engine's
  * equivalent of the reference's reduction-function surface
  * (/root/reference/src/reductionfunctions.jl). A [[ReduceOp]] carries a
  * commutativity tag: commutative ops may combine partials out of rank
  * order (plain treeReduce); non-commutative ops force the ordered
  * gather-sort-fold path (reference `_maybesort`,
  * /root/reference/src/mapreduce.jl:138-139).
  */
trait ReduceOp[B] extends ((B, B) => B) with Serializable {
  def commutative: Boolean
}

object ReduceOp {
  /** An op built from a plain function. `private[graft]` so the rank
    * fold can call `f`'s specialised `Function2` entry with a primitive
    * accumulator (`PMapReduce`'s unboxed Long fold). */
  private[graft] final case class Plain[B](f: (B, B) => B, commutative: Boolean) extends ReduceOp[B] {
    def apply(a: B, b: B): B = f(a, b)
  }

  /** Non-commutative by default — order-preserving reduction. */
  def apply[B](f: (B, B) => B): ReduceOp[B] = Plain(f, commutative = false)

  /** Tag an op commutative (`Commutative`,
    * /root/reference/src/reductionfunctions.jl:7-11). No check performed. */
  def commutative[B](f: (B, B) => B): ReduceOp[B] = Plain(f, commutative = true)

  private final case class Flipped[B](inner: ReduceOp[B]) extends ReduceOp[B] {
    def apply(a: B, b: B): B = inner(b, a)
    def commutative: Boolean = inner.commutative
  }

  /** Argument swap; two flips pop the original back; preserves the
    * commutative tag (`Flip`,
    * /root/reference/src/reductionfunctions.jl:258-269). */
  def flip[B](op: ReduceOp[B]): ReduceOp[B] = op match {
    case Flipped(inner) => inner
    case other          => Flipped(other)
  }

  // ---- Elementwise array ops (R2–R4). The reference's in-place
  // broadcast ops (`elementwisesum!` etc.,
  // /root/reference/src/reductionfunctions.jl:84-123) become mutating
  // combines on Array[Double] — Spark aggregation buffers are naturally
  // in-place, so `x` is overwritten and returned.

  private def elementwiseInPlace(f: (Double, Double) => Double): ReduceOp[Array[Double]] =
    commutative { (x, y) =>
      require(x.length == y.length, "arrays must have identical length")
      var i = 0
      while (i < x.length) { x(i) = f(x(i), y(i)); i += 1 }
      x
    }

  val elementwiseSum: ReduceOp[Array[Double]] = elementwiseInPlace(_ + _)
  val elementwiseProduct: ReduceOp[Array[Double]] = elementwiseInPlace(_ * _)
  val elementwiseMin: ReduceOp[Array[Double]] = elementwiseInPlace(math.min)
  val elementwiseMax: ReduceOp[Array[Double]] = elementwiseInPlace(math.max)

  /** Allocating elementwise broadcast (`BroadcastFunction`,
    * /root/reference/src/reductionfunctions.jl:31-41). */
  def broadcastFn(f: (Double, Double) => Double): ReduceOp[Array[Double]] =
    ReduceOp { (x, y) =>
      require(x.length == y.length, "arrays must have identical length")
      Array.tabulate(x.length)(i => f(x(i), y(i)))
    }

  /** Dict-union with last-wins, the reference's `merge` reduction
    * (/root/reference/test/paralleltests.jl:502-514). */
  def mergeMaps[K, V]: ReduceOp[Map[K, V]] = ReduceOp((a, b) => a ++ b)

  /** Ordered concatenation — `vcat` (/root/reference/test/paralleltests.jl:573-589). */
  def concat[T]: ReduceOp[Vector[T]] = ReduceOp((a, b) => a ++ b)
}

/** Dense N-d array with arbitrary (possibly non-1-based) inclusive axis
  * bounds — the engine's model of OffsetArrays
  * (/root/reference/test/misctests_singleprocess.jl:55-63). Column-major:
  * dimension 1 varies fastest, matching the product order. */
final case class OffsetArrayND(axes: IndexedSeq[(Int, Int)], data: Array[Double]) extends Serializable {
  def nDims: Int = axes.length
  def dimLen(d: Int): Int = axes(d)._2 - axes(d)._1 + 1
  require(data.length == axes.map(a => a._2 - a._1 + 1).product, "data length must match axes")

  def flatIndex(idx: IndexedSeq[Int]): Int = {
    var acc = 0
    var w = 1
    var d = 0
    while (d < nDims) {
      val i = idx(d) - axes(d)._1
      require(i >= 0 && i < dimLen(d), s"index $idx out of bounds for axes $axes")
      acc += i * w
      w *= dimLen(d)
      d += 1
    }
    acc
  }

  def apply(idx: Int*): Double = data(flatIndex(idx.toIndexedSeq))

  def indices: Iterator[IndexedSeq[Int]] = {
    val lens = axes.map(a => a._2 - a._1 + 1)
    (0 until data.length).iterator.map { flat =>
      var rem = flat
      axes.indices.map { d =>
        val i = rem % lens(d)
        rem /= lens(d)
        axes(d)._1 + i
      }
    }
  }

  override def equals(o: Any): Boolean = o match {
    case other: OffsetArrayND => axes == other.axes && java.util.Arrays.equals(data, other.data)
    case _                    => false
  }
  override def hashCode: Int = axes.hashCode * 31 + java.util.Arrays.hashCode(data)
}

object OffsetArrayND {
  def fill(axes: IndexedSeq[(Int, Int)], v: Double): OffsetArrayND =
    OffsetArrayND(axes, Array.fill(axes.map(a => a._2 - a._1 + 1).product)(v))
  /** 1-based dense array, Julia `ones(n, m)`-style. */
  def dense(dims: Int*): OffsetArrayND = fill(dims.map(n => (1, n)).toIndexedSeq, 1.0)
}

/** Stack two arrays along `dims`, combining overlapping indices with `f`,
  * copying non-overlap, zero-filling holes; result axes along `dims` are
  * the (min..max) union (`BroadcastStack`,
  * /root/reference/src/reductionfunctions.jl:173-230). */
final case class BroadcastStack(f: (Double, Double) => Double, dims: Set[Int]) extends ReduceOp[OffsetArrayND] {
  def commutative: Boolean = false

  def apply(x: OffsetArrayND, y: OffsetArrayND): OffsetArrayND = {
    require(x.nDims == y.nDims, "arrays must have the same number of dimensions")
    for (d <- 1 to x.nDims if !dims.contains(d))
      require(x.axes(d - 1) == y.axes(d - 1), "non-concatenated axes must be identical")
    require(dims.forall(d => 1 <= d && d <= x.nDims), s"dims must lie in 1..${x.nDims}")

    val outAxes = x.axes.indices.map { i =>
      if (dims.contains(i + 1))
        (math.min(x.axes(i)._1, y.axes(i)._1), math.max(x.axes(i)._2, y.axes(i)._2))
      else x.axes(i)
    }
    val common = x.axes.indices.map { i =>
      if (dims.contains(i + 1))
        (math.max(x.axes(i)._1, y.axes(i)._1), math.min(x.axes(i)._2, y.axes(i)._2))
      else x.axes(i)
    }
    def inCommon(idx: IndexedSeq[Int]): Boolean =
      idx.indices.forall(d => common(d)._1 <= idx(d) && idx(d) <= common(d)._2)

    val out = OffsetArrayND.fill(outAxes, 0.0)
    for (arr <- Seq(x, y); idx <- arr.indices if !inCommon(idx))
      out.data(out.flatIndex(idx)) = arr.data(arr.flatIndex(idx))
    if (common.forall(c => c._1 <= c._2)) {
      val commonArr = OffsetArrayND.fill(common, 0.0)
      for (idx <- commonArr.indices)
        out.data(out.flatIndex(idx)) = f(x.data(x.flatIndex(idx)), y.data(y.flatIndex(idx)))
    }
    out
  }
}
