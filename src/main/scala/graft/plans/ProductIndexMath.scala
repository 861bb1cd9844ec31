package graft.plans

/** Thrown when a slice's values are absent from a recast product.
  * Mirrors reference `TaskNotPresentError` (/root/reference/src/productsplit.jl:1-7). */
final case class TaskNotPresentException(msg: String) extends RuntimeException(msg)

/** A strictly-increasing arithmetic range of `numElems` values
  * `start, start+step, …` — the engine's model of the reference's
  * `AbstractRange` iterators (/root/reference/src/productsplit.jl:42-44
  * requires strictly increasing steps).
  *
  * `integral` marks ranges whose values are exact integers (rendered as
  * Long in Spark schemas); float ranges (e.g. 1:0.5:3,
  * /root/reference/test/productsplit.jl:20) set it false. Values are
  * generated as `start + i*step` from the integer index — no
  * accumulation drift.
  */
final case class PRange(start: Double, step: Double, numElems: Long, integral: Boolean) {
  require(step > 0, "all the ranges need to be strictly increasing")
  require(numElems >= 0, "range length must be non-negative")

  /** 0-based element access. */
  def apply(i: Long): Double = start + i * step
  def head: Double = start
  def last: Double = apply(numElems - 1)
  def min: Double = head
  def max: Double = last

  /** 0-based index of `v`, or -1 if absent. */
  def indexOf(v: Double): Long = {
    if (numElems == 0) return -1L
    val i = math.round((v - start) / step)
    if (i >= 0 && i < numElems && apply(i) == v) i else -1L
  }
  def contains(v: Double): Boolean = indexOf(v) >= 0
}

object PRange {
  /** Julia-style `lo:hi` unit range. */
  def apply(lo: Long, hi: Long): PRange =
    PRange(lo.toDouble, 1.0, math.max(0L, hi - lo + 1), integral = true)
  /** Julia-style `lo:step:hi` (number of elements = floor((hi-lo)/step)+1). */
  def stepped(lo: Long, step: Long, hi: Long): PRange = {
    val n = if (hi < lo) 0L else (hi - lo) / step + 1
    PRange(lo.toDouble, step.toDouble, n, integral = true)
  }
  def steppedD(lo: Double, step: Double, hi: Double): PRange = {
    val n = if (hi < lo) 0L else math.floor((hi - lo) / step + 1e-10).toLong + 1
    PRange(lo, step, n, integral = false)
  }
  def oneTo(n: Long): PRange = apply(1L, n)
}

/** Pure driver-side O(1)/O(log np) partition arithmetic over the outer
  * (Cartesian) product of ranges — the engine's equivalent of the
  * reference's `ProductSplit`/`ProductSection` index surface
  * (/root/reference/src/productsplit.jl). Iteration order is
  * reverse-lexicographic: dimension 1 varies fastest
  * (/root/reference/src/productsplit.jl:26-27), so the flat index puts
  * dim 1 in the least-significant radix position.
  *
  * All flat indices here are 0-based internally; the public Julia-parity
  * accessors (`indexInProduct`, `localIndex`, …) return 1-based values
  * matching the reference's doctests.
  */
object ProductIndexMath {

  /** Mixed-radix weights: w(0)=1, w(k)=len_1*…*len_k. Flat index of a
    * per-dim 0-based index tuple is sum(idx_k * w(k-1)). Equivalent to
    * the reference's `togglelevels` (`_cumprod`,
    * /root/reference/src/productsplit.jl:52-59). */
  def weights(iters: IndexedSeq[PRange]): IndexedSeq[Long] =
    iters.scanLeft(1L)((acc, r) => acc * r.numElems).dropRight(1)

  /** Number of elements of the product. Zero ranges are refused, not
    * read as the one-element empty product: every product entry point
    * sizes its collection here. */
  def totalLength(iters: IndexedSeq[PRange]): Long = {
    // while-loop, not foldLeft: called on the whichProc hot path, which
    // must stay allocation-free (no iterator objects).
    val n = iters.length
    require(n > 0, "need at least one iterator")
    var acc = 1L
    var k = 0
    while (k < n) { acc *= iters(k).numElems; k += 1 }
    acc
  }

  /** Number of elements of the zip of `iters`: the shortest range's
    * length (`zip` truncates). Zero ranges are refused, as in
    * [[totalLength]]. */
  def zipLength(iters: IndexedSeq[PRange]): Long = {
    require(iters.nonEmpty, "need at least one iterator")
    iters.iterator.map(_.numElems).min
  }

  /** The even contiguous split law: worker `p` of `np` (1-based) over a
    * collection of `len` elements gets `(drop, take)` with the first
    * `len mod np` ranks receiving one extra element. Exact mirror of
    * `nelementsdroptake` (/root/reference/src/productsplit.jl:124-130). */
  def dropTake(len: Long, np: Int, p: Int): (Long, Long) = {
    require(1 <= p && p <= np, "processor rank out of range")
    val d = len / np
    val r = len % np
    val drop = d * (p - 1) + math.min(r, p - 1L)
    val lastind = d * p + math.min(r, p.toLong)
    (drop, lastind - drop)
  }

  /** Closed-form inverse of the split law: which 1-based rank owns
    * 0-based flat index `id`. Used as the in-plan `rank` column and by
    * tests against `whichproc`'s binary search. */
  def rankOfIndex(len: Long, np: Int, id: Long): Int = {
    val d = len / np
    val r = len % np
    val boundary = r * (d + 1)
    if (id < boundary) (id / (d + 1)).toInt + 1
    else (r + (id - boundary) / d).toInt + 1
  }

  /** Decode 0-based flat index into per-dimension 0-based indices
    * (`childindex`, /root/reference/src/productsplit.jl:264-276). */
  def childIndex(iters: IndexedSeq[PRange], flat: Long): IndexedSeq[Long] = {
    val w = weights(iters)
    iters.indices.map(k => (flat / w(k)) % iters(k).numElems)
  }

  /** Decode 0-based flat index into element values. */
  def elementAt(iters: IndexedSeq[PRange], flat: Long): IndexedSeq[Double] = {
    val ci = childIndex(iters, flat)
    iters.indices.map(k => iters(k)(ci(k)))
  }

  /** 0-based flat index of `val` in the product, or -1 if absent
    * (`indexinproduct`, /root/reference/src/productsplit.jl:719-728,
    * which returns the 1-based form). Radix weights are accumulated
    * incrementally — no weights array is allocated (hot path: the
    * reference holds this op to the ~100 ns class,
    * /root/reference/docs/src/pmapreduce.md:133-138). */
  def flatIndexOf(iters: IndexedSeq[PRange], value: IndexedSeq[Double]): Long = {
    require(iters.nonEmpty, "need at least one iterator")
    require(value.length == iters.length, "value arity must match iterators")
    var acc = 0L
    var scale = 1L
    var k = 0
    while (k < iters.length) {
      val i = iters(k).indexOf(value(k))
      if (i < 0) return -1L
      acc += i * scale
      scale *= iters(k).numElems
      k += 1
    }
    acc
  }

  /** Julia-parity 1-based `indexinproduct`. */
  def indexInProduct(iters: IndexedSeq[PRange], value: IndexedSeq[Double]): Option[Long] = {
    val f = flatIndexOf(iters, value)
    if (f < 0) None else Some(f + 1)
  }

  /** Reverse-lexicographic comparison of element tuples: last dimension
    * most significant (`ReverseLexicographicTuple`,
    * /root/reference/src/productsplit.jl:743-748). */
  def revLexCompare(a: IndexedSeq[Double], b: IndexedSeq[Double]): Int = {
    var k = a.length - 1
    while (k >= 0) {
      val c = java.lang.Double.compare(a(k), b(k))
      if (c != 0) return c
      k -= 1
    }
    0
  }

  /** Owning 1-based rank of `val` when the product of `iters` is split
    * over `np` ranks; None if absent. Binary search over ranks as in the
    * reference (`whichproc`, /root/reference/src/productsplit.jl:774-805),
    * but each probe compares the value's FLAT index against the probed
    * rank's `[drop, drop+take)` window — flat order IS reverse-lex order
    * for strictly increasing ranges, so the comparison is identical and
    * no ProductSlice/tuple is constructed per probe (allocation-free;
    * the reference holds this to ~100 ns,
    * /root/reference/docs/src/pmapreduce.md:133-138). */
  def whichProc(iters: IndexedSeq[PRange], value: IndexedSeq[Double], np: Int): Option[Int] = {
    require(np >= 1, "np must be >= 1")
    val f = flatIndexOf(iters, value)
    if (f < 0) return None
    if (np == 1) return Some(1)
    val len = totalLength(iters)
    val d = len / np
    val r = len % np
    var left = 1
    var right = np
    while (left < right) {
      val mid = (left + right) >>> 1
      val drop = d * (mid - 1) + math.min(r, mid - 1L)
      val end = d * mid + math.min(r, mid.toLong)
      if (f < drop) right = mid - 1
      else if (f >= end) left = mid + 1
      else return Some(mid)
    }
    Some(left)
  }

  def productSplit(iters: IndexedSeq[PRange], np: Int, p: Int): ProductSlice = {
    val len = totalLength(iters)
    val (drop, take) = dropTake(len, np, p)
    ProductSlice(iters, drop, drop + take - 1)
  }

  /** Julia-parity section over 1-based inclusive global indices
    * (`ProductSection`, /root/reference/src/productsplit.jl:89-100). */
  def productSection(iters: IndexedSeq[PRange], firstInd1: Long, lastInd1: Long): ProductSlice = {
    val len = totalLength(iters)
    require(firstInd1 >= 1, "the range of indices must start from a number >= 1")
    require(lastInd1 <= len, s"the maximum index must be less than or equal to the total number of elements = $len")
    ProductSlice(iters, firstInd1 - 1, lastInd1 - 1)
  }

  /** Rank range that would hold `slice`'s values if the (possibly
    * different) product of `iters` were split over `npNew` ranks
    * (`procrange_recast`, /root/reference/src/productsplit.jl:831-868).
    * None for an empty slice; throws [[TaskNotPresentException]] if a
    * boundary value is absent from `iters`. */
  def procRangeRecast(iters: IndexedSeq[PRange], slice: ProductSlice, npNew: Int): Option[(Int, Int)] = {
    if (slice.isEmpty) return None
    val start = whichProc(iters, slice.firstElement, npNew).getOrElse(
      throw TaskNotPresentException(s"could not find the task ${slice.firstElement} in the list $iters"))
    val end =
      if (slice.length == 1) start
      else whichProc(iters, slice.lastElement, npNew).getOrElse(
        throw TaskNotPresentException(s"could not find the task ${slice.lastElement} in the list $iters"))
    Some((start, end))
  }

  /** Zip-mode halve (`SplittablesBase.halve` on a `ZipSplit`,
    * /root/reference/src/mapreduce.jl:64-67): split a contiguous zip
    * window `(drop, take)` into two, floor-half left — the same law as
    * [[ProductSlice.halve]]. Returns ((dropL, takeL), (dropR, takeR)). */
  def halveZip(drop: Long, take: Long): ((Long, Long), (Long, Long)) = {
    val takeL = take / 2
    ((drop, takeL), (drop + takeL, take - takeL))
  }
}

/** A point of a zip or product walk: an immutable `IndexedSeq[Double]`
  * that `f` may keep. A point's class is not part of the contract: one
  * kept on the driver of a one-rank call is a subclass of this, one that
  * came back from a task an `ArraySeq`, because a point is serialized as
  * the `ArraySeq` of its values. On every path it compares and hashes
  * as the seq of its values. */
private[graft] abstract class WalkPoint
    extends scala.collection.immutable.AbstractSeq[Double] with IndexedSeq[Double] with Serializable {
  protected[this] def writeReplace(): AnyRef =
    scala.collection.immutable.ArraySeq.unsafeWrapArray(Array.tabulate(length)(apply))
}

/** A product point: dimension 1's value `v1`, then the values of
  * dimensions 2..N in `rest`, a snapshot that no one writes once it is
  * shared. */
private[graft] final class ProductPoint(v1: Double, rest: Array[Double]) extends WalkPoint {
  def length: Int = rest.length + 1
  def apply(k: Int): Double = if (k == 0) v1 else rest(k - 1)
}

/** A walk over the product of `iters` in flat (reverse-lex) order from
  * 0-based flat index `first` — the reference `ProductSplit`'s
  * `iterate`. `first` is decoded once. Dimension 1's index is a
  * primitive that the caller holds: it starts at [[index1]] and each
  * [[step]] returns the next one. Only when dimension 1 wraps does the
  * walk carry-increment the index tuple of dimensions 2..N, into a new
  * snapshot of their values (copy, then update), so a step costs no
  * `%` or `/` and a snapshot never changes once a point shares it.
  * [[point]] is a [[ProductPoint]] over the current snapshot: one
  * `N-1`-double array per `len(dim 1)` steps, and nothing else that
  * outlives an inlined `f`. Values are `start + i*step` from the
  * integer index, exactly [[ProductIndexMath.elementAt]]'s. Stepping
  * past the last element wraps to the first; callers count their
  * steps. Mutable: one walk per thread; its points are immutable. */
private[graft] final class ProductOdometer(iters: IndexedSeq[PRange], first: Long) {
  private[this] val rs: Array[PRange] = iters.toArray
  private[this] val dim1: PRange = rs(0)
  // idx(k) is dimension k+1's index; idx(0) is unused (dimension 1's
  // index is the caller's)
  private[this] val idx: Array[Long] = new Array[Long](rs.length)
  private[this] var rest: Array[Double] = new Array[Double](rs.length - 1)

  /** Dimension 1's index at `first`. */
  val index1: Long = first % dim1.numElems

  {
    var rem = first / dim1.numElems
    var k = 1
    while (k < rs.length) {
      val n = rs(k).numElems
      idx(k) = rem % n
      rest(k - 1) = rs(k)(idx(k))
      rem /= n
      k += 1
    }
  }

  /** The element whose dimension 1 index is `i1`, the index that the
    * last [[step]] returned (or [[index1]] before any step); the caller
    * may keep it. */
  def point(i1: Long): IndexedSeq[Double] = new ProductPoint(dim1(i1), rest)

  /** Step from dimension 1 index `i1` to the next flat index: returns
    * the new dimension 1 index. */
  def step(i1: Long): Long = {
    val i = i1 + 1
    if (i < dim1.numElems) i
    else { carry(); 0L }
  }

  /** Dimension 1 wrapped: step dimensions 2..N into a new snapshot. */
  private def carry(): Unit = {
    val next = rest.clone()
    var k = 1
    var carrying = true
    while (carrying && k < rs.length) {
      val i = idx(k) + 1
      if (i < rs(k).numElems) { idx(k) = i; next(k - 1) = rs(k)(i); carrying = false }
      else { idx(k) = 0L; next(k - 1) = rs(k)(0L); k += 1 }
    }
    rest = next
  }
}

/** A contiguous window `[firstFlat, lastFlat]` (0-based inclusive; empty
  * when lastFlat < firstFlat) into the outer product of `iters` — the
  * engine's `ProductSplit`/`ProductSection`
  * (/root/reference/src/productsplit.jl:33-50,113-122). All point ops
  * are O(1) arithmetic except the documented O(n) scans. */
final case class ProductSlice(iters: IndexedSeq[PRange], firstFlat: Long, lastFlat: Long) {
  import ProductIndexMath._
  require(iters.nonEmpty, "need at least one iterator")

  // Cached primitive radix state: every point op below runs on these
  // flat arrays with zero per-call allocation — the engine's answer to
  // the reference's ~100 ns point-op class
  // (/root/reference/docs/src/pmapreduce.md:133-158). Built once per
  // slice (N is tiny); plain fields so the slice stays serializable
  // into Spark closures.
  private[this] val nDims: Int = iters.length
  private[this] val starts: Array[Double] = Array.tabulate(nDims)(iters(_).start)
  private[this] val steps: Array[Double] = Array.tabulate(nDims)(iters(_).step)
  private[this] val lens: Array[Long] = Array.tabulate(nDims)(iters(_).numElems)
  private[this] val strides: Array[Long] = {
    val w = new Array[Long](nDims)
    var acc = 1L
    var k = 0
    while (k < nDims) { w(k) = acc; acc *= lens(k); k += 1 }
    w
  }

  /** 0-based per-dim child index of global flat position `flat`. */
  @inline private def childIdx(flat: Long, k: Int): Long =
    (flat / strides(k)) % lens(k)

  /** Value of dimension `k` (0-based) at global flat position `flat`. */
  @inline private def valueAtDim(flat: Long, k: Int): Double =
    starts(k) + childIdx(flat, k) * steps(k)

  /** Element at global flat position `flat`: the same values as
    * [[ProductIndexMath.elementAt]], decoded from the cached radix state
    * into one primitive array (no weights vector, no boxed seqs). */
  private def decode(flat: Long): IndexedSeq[Double] = {
    val arr = new Array[Double](nDims)
    var k = 0
    while (k < nDims) { arr(k) = valueAtDim(flat, k); k += 1 }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(arr)
  }

  /** 0-based global flat index of `value`, or -1 if absent anywhere in
    * the full product. Allocation-free (hot path for `contains`/
    * `localIndex`). */
  private def flatOf(value: IndexedSeq[Double]): Long = {
    if (value.length != nDims) return -1L
    var acc = 0L
    var k = 0
    while (k < nDims) {
      val len = lens(k)
      if (len == 0) return -1L
      val v = value(k)
      val i = math.round((v - starts(k)) / steps(k))
      if (i < 0 || i >= len || starts(k) + i * steps(k) != v) return -1L
      acc += i * strides(k)
      k += 1
    }
    acc
  }

  def nIterators: Int = nDims
  def length: Long = math.max(0L, lastFlat - firstFlat + 1)
  def isEmpty: Boolean = length == 0L

  /** First/last element values, O(1) (`first`/`last`,
    * /root/reference/src/productsplit.jl:188-218). */
  def firstElement: IndexedSeq[Double] = { requireNonEmpty(); decode(firstFlat) }
  def lastElement: IndexedSeq[Double] = { requireNonEmpty(); decode(lastFlat) }

  private def requireNonEmpty(): Unit =
    if (isEmpty) throw new IllegalArgumentException("collection must be non - empty")

  /** O(1) random access, 1-based local index (`getindex`,
    * /root/reference/src/productsplit.jl:308-324). */
  def apply(ind1: Long): IndexedSeq[Double] = {
    require(1 <= ind1 && ind1 <= length, s"index $ind1 out of bounds for slice of length $length")
    decode(firstFlat + ind1 - 1)
  }

  /** Materialize the slice (lazy iterator ≙ `takedrop`,
    * reference src/productsplit.jl:61-65), walked by a
    * [[ProductOdometer]] from `firstFlat`. Each point is immutable, so
    * the caller may keep every one. */
  def iterator: Iterator[IndexedSeq[Double]] = new Iterator[IndexedSeq[Double]] {
    private[this] var left = ProductSlice.this.length
    // an empty slice may sit on a zero-length dimension: no walk to decode
    private[this] val walk = if (left > 0) new ProductOdometer(iters, firstFlat) else null
    private[this] var i1 = if (left > 0) walk.index1 else 0L
    def hasNext: Boolean = left > 0
    def next(): IndexedSeq[Double] = {
      if (!hasNext) throw new NoSuchElementException("next on an exhausted slice iterator")
      val e = walk.point(i1)
      left -= 1
      if (left > 0) i1 = walk.step(i1)
      e
    }
  }
  def toVector: Vector[IndexedSeq[Double]] = iterator.toVector

  /** O(1) membership (`in`, /root/reference/src/productsplit.jl:730-740).
    * The flat-index bound check is equivalent to the reference's
    * reverse-lex comparison because the flat order IS reverse-lex order
    * for strictly increasing ranges. Allocation-free. */
  def contains(value: IndexedSeq[Double]): Boolean = {
    val f = flatOf(value)
    f >= firstFlat && f <= lastFlat
  }

  /** 1-based index of `value` within this slice, or None
    * (`localindex`, /root/reference/src/productsplit.jl:891-896). */
  def localIndex(value: IndexedSeq[Double]): Option[Long] = {
    val f = flatOf(value)
    if (f >= firstFlat && f <= lastFlat) Some(f - firstFlat + 1) else None
  }

  /** Number of distinct values of dimension `dim` (1-based) in the
    * slice, O(1) (`nelements`,
    * /root/reference/src/productsplit.jl:406-432).
    *
    * Closed form: with stride w = weights(dim) the child index of flat
    * position f is (f/w) mod n, so over a contiguous window [a, b] the
    * distinct count is min(n, b/w - a/w + 1).
    *
    * DELIBERATE DEVIATION: the reference derives rollovers from
    * `nelements(dims+1) - 1`, which undercounts when a HIGHER dimension
    * has length 1 (the constant dimension masks the rollovers of the
    * dimension below it; e.g. (1:4, 5:5, 1:12) split 5, rank 1 —
    * reference says 2 distinct d1 values, truth is 4). The closed form
    * is exact for every shape; discovered by the ScalaCheck property
    * suite (ProductIndexMathProps). */
  def nElements(dim: Int): Long = {
    require(1 <= dim && dim <= nIterators, s"1 <= dims <= N=$nIterators not satisfied for dims=$dim")
    requireNonEmpty()
    val k = dim - 1
    val w = strides(k)
    math.min(lens(k), lastFlat / w - firstFlat / w + 1)
  }

  /** Does any dimension after `dim` differ between the first and last
    * element — i.e. does dim wrap (`_checkrollover`,
    * /root/reference/src/productsplit.jl:345-368)? Allocation-free. */
  private def rollsOver(dim: Int): Boolean = {
    var j = dim // 0-based index of the first HIGHER dimension
    while (j < nDims) {
      if (childIdx(firstFlat, j) != childIdx(lastFlat, j)) return true
      j += 1
    }
    false
  }

  /** O(1) per-dimension extrema (`maximumelement`/`minimumelement`/
    * `extremaelement`, /root/reference/src/productsplit.jl:456-596).
    * Allocation-free: single-dimension decode, no element tuple built. */
  def maximumElement(dim: Int): Double = {
    requireNonEmpty()
    if (dim == nIterators) valueAtDim(lastFlat, dim - 1)
    else if (rollsOver(dim)) starts(dim - 1) + (lens(dim - 1) - 1) * steps(dim - 1)
    else valueAtDim(lastFlat, dim - 1)
  }

  def minimumElement(dim: Int): Double = {
    requireNonEmpty()
    if (dim == nIterators) valueAtDim(firstFlat, dim - 1)
    else if (rollsOver(dim)) starts(dim - 1)
    else valueAtDim(firstFlat, dim - 1)
  }

  def extremaElement(dim: Int): (Double, Double) =
    (minimumElement(dim), maximumElement(dim))

  /** Extrema along every dimension (`extremadims`,
    * /root/reference/src/productsplit.jl:627-634). */
  def extremaDims: IndexedSeq[(Double, Double)] =
    (1 to nIterators).map(extremaElement)

  /** Extrema of the leading dims restricted to rows carrying the
    * min/max last-dim value; one O(n) scan
    * (`extrema_commonlastdim`,
    * /root/reference/src/productsplit.jl:664-691). None if empty. */
  def extremaCommonLastDim: Option[(IndexedSeq[(Double, Double)], IndexedSeq[(Double, Double)])] = {
    if (isEmpty) return None
    val n = nIterators
    val (lastMin, lastMax) = extremaElement(n)
    val minVals = firstElement.dropRight(1).toArray
    val maxVals = lastElement.dropRight(1).toArray
    iterator.foreach { v =>
      val lastVar = v(n - 1)
      if (!(lastMin < lastVar && lastVar < lastMax)) {
        var i = 0
        while (i < n - 1) {
          if (lastVar == lastMin) minVals(i) = math.min(minVals(i), v(i))
          if (lastVar == lastMax) maxVals(i) = math.max(maxVals(i), v(i))
          i += 1
        }
      }
    }
    Some((minVals.toIndexedSeq.map(v => (v, lastMin)), maxVals.toIndexedSeq.map(v => (v, lastMax))))
  }

  /** 1-based inclusive global index window (the reference's
    * `firstindex`/`lastindex` view of the slice,
    * /root/reference/src/productsplit.jl:188-218). */
  def firstIndexGlobal: Long = firstFlat + 1
  def lastIndexGlobal: Long = lastFlat + 1

  /** Split into two contiguous halves, O(1) — the work-stealing hook
    * (`SplittablesBase.halve`, /root/reference/src/productsplit.jl:221-233):
    * left half has exactly `length/2` (floor) elements. */
  def halve: (ProductSlice, ProductSlice) = {
    val mid = firstFlat + length / 2
    (ProductSlice(iters, firstFlat, mid - 1), ProductSlice(iters, mid, lastFlat))
  }

  /** Project away dimension 1: the ProductSection of distinct remaining
    * tuples covered by this slice — exact thanks to contiguity
    * (`dropleading`, /root/reference/src/productsplit.jl:960-968). */
  def dropLeading: ProductSlice = {
    requireNonEmpty()
    require(nIterators > 1, "need at least one iterator")
    val tailIters = iters.tail
    val f = flatIndexOf(tailIters, firstElement.tail)
    val l = flatIndexOf(tailIters, lastElement.tail)
    ProductSlice(tailIters, f, l)
  }
}
