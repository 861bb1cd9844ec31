package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll
import graft.plans.{PRange, ProductIndexMath, ProductOdometer}

/** ScalaCheck upgrade of the bounded sweeps (SURVEY §5): the partition
  * laws as properties over arbitrary iterator shapes and (np, p). */
object ProductIndexMathProps extends Properties("ProductIndexMath") {

  private val genRange: Gen[PRange] = for {
    lo <- Gen.chooseNum(-50L, 50L)
    n <- Gen.chooseNum(1L, 12L)
    step <- Gen.oneOf(1L, 2L, 3L)
  } yield PRange(lo.toDouble, step.toDouble, n, integral = true)

  private val genIters: Gen[IndexedSeq[PRange]] =
    Gen.chooseNum(1, 3).flatMap(n => Gen.listOfN(n, genRange).map(_.toIndexedSeq))

  property("dropTake partitions exactly: sizes sum to L, contiguous, first r ranks get +1") =
    forAll(genIters, Gen.chooseNum(1, 15)) { (iters, np) =>
      val L = ProductIndexMath.totalLength(iters)
      val dts = (1 to np).map(p => ProductIndexMath.dropTake(L, np, p))
      val sizes = dts.map(_._2)
      val d = L / np
      val r = L % np
      Prop(sizes.sum == L) &&
        Prop(dts.head._1 == 0) &&
        Prop(dts.sliding(2).forall {
          case Seq((d1, t1), (d2, _)) => d2 == d1 + t1
          case _ => true
        }) &&
        Prop(sizes.zipWithIndex.forall { case (sz, i) =>
          sz == d + (if (i < r) 1L else 0L)
        })
    }

  property("rankOfIndex is the exact inverse of dropTake") =
    forAll(genIters, Gen.chooseNum(1, 15)) { (iters, np) =>
      val L = ProductIndexMath.totalLength(iters)
      Prop((0L until L).forall { id =>
        val rk = ProductIndexMath.rankOfIndex(L, np, id)
        val (drop, take) = ProductIndexMath.dropTake(L, np, rk)
        drop <= id && id < drop + take
      })
    }

  property("decode/encode roundtrip: flatIndexOf(elementAt(i)) == i") =
    forAll(genIters) { iters =>
      val L = ProductIndexMath.totalLength(iters)
      Prop((0L until L).forall { i =>
        ProductIndexMath.flatIndexOf(iters, ProductIndexMath.elementAt(iters, i)) == i
      })
    }

  property("flat order IS reverse-lex order") =
    forAll(genIters) { iters =>
      val L = ProductIndexMath.totalLength(iters)
      Prop((1L until L).forall { i =>
        ProductIndexMath.revLexCompare(
          ProductIndexMath.elementAt(iters, i - 1),
          ProductIndexMath.elementAt(iters, i)) < 0
      })
    }

  property("whichProc agrees with direct rank computation for every element") =
    forAll(genIters, Gen.chooseNum(1, 12)) { (iters, np) =>
      val L = ProductIndexMath.totalLength(iters)
      Prop((0L until L).forall { i =>
        val v = ProductIndexMath.elementAt(iters, i)
        ProductIndexMath.whichProc(iters, v, np)
          .contains(ProductIndexMath.rankOfIndex(L, np, i))
      })
    }

  property("nElements O(1) law equals brute-force distinct count") =
    forAll(genIters, Gen.chooseNum(1, 10), Gen.chooseNum(1, 10)) { (iters, np0, p0) =>
      val np = np0
      val p = math.min(p0, np)
      val sl = ProductIndexMath.productSplit(iters, np, p)
      Prop(sl.isEmpty || (1 to iters.length).forall { dim =>
        sl.nElements(dim) == sl.toVector.map(_(dim - 1)).distinct.size
      })
    }

  private val genFloatRange: Gen[PRange] = for {
    lo <- Gen.chooseNum(-5.0, 5.0)
    n <- Gen.chooseNum(1L, 9L)
    step <- Gen.oneOf(0.1, 0.25, 1.5)
  } yield PRange(lo, step, n, integral = false)

  property("ProductSlice apply/iterator decode == elementAt for every index of random slices") =
    forAll(Gen.chooseNum(1, 3).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf(genRange, genFloatRange)).map(_.toIndexedSeq)),
      Gen.chooseNum(1, 10), Gen.chooseNum(1, 10)) { (iters, np, p0) =>
      val sl = ProductIndexMath.productSplit(iters, np, math.min(p0, np))
      val want = (1L to sl.length).map(i => ProductIndexMath.elementAt(iters, sl.firstFlat + i - 1))
      Prop((1L to sl.length).forall(i => sl(i) == want((i - 1).toInt))) &&
        Prop(sl.iterator.toVector == want) &&
        Prop(sl.isEmpty || (sl.firstElement == want.head && sl.lastElement == want.last))
    }

  private val genWalkRange: Gen[PRange] = Gen.frequency(
    3 -> genRange,
    1 -> Gen.chooseNum(-5L, 5L).map(lo => PRange(lo, lo)),
    2 -> (for {
      lo <- Gen.chooseNum(-3.0, 3.0)
      step <- Gen.oneOf(0.1, 0.25, 0.3, 1.5)
      n <- Gen.chooseNum(1, 9)
    } yield PRange.steppedD(lo, step, lo + step * (n - 1))))

  property("odometer walk == elementAt for every flat index of every rank window") =
    forAll(Gen.chooseNum(1, 4).flatMap(n => Gen.listOfN(n, genWalkRange).map(_.toIndexedSeq)),
      Gen.chooseNum(1, 12)) { (iters, np) =>
      val L = ProductIndexMath.totalLength(iters)
      Prop((1 to np).forall { p =>
        val (drop, take) = ProductIndexMath.dropTake(L, np, p)
        take == 0 || {
          val walk = new ProductOdometer(iters, drop)
          var i1 = walk.index1
          (drop until drop + take).forall { flat =>
            val same = walk.point(i1) == ProductIndexMath.elementAt(iters, flat)
            i1 = walk.step(i1)
            same
          }
        }
      })
    }

  property("slice iterator: every kept point equals and hashes as elementAt once the walk moved on") =
    forAll(Gen.chooseNum(1, 4).flatMap(n => Gen.listOfN(n, genWalkRange).map(_.toIndexedSeq)),
      Gen.chooseNum(1, 12), Gen.chooseNum(1, 12)) { (iters, np, p0) =>
      val sl = ProductIndexMath.productSplit(iters, np, math.min(p0, np))
      val kept = sl.iterator.toVector
      val want = (0L until sl.length).map(i => ProductIndexMath.elementAt(iters, sl.firstFlat + i))
      Prop(kept == want) && Prop(kept.map(_.hashCode) == want.map(_.hashCode))
    }
}
