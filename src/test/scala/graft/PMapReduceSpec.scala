package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.functions.{BroadcastStack, OffsetArrayND, ReduceOp}
import graft.operators.PMapReduce._
import graft.plans.{PRange, ProductIndexMath, ProductSlice}
import graft.sources.ProductSplitSource

/** Differential tests of the distributed execution operators against
  * serial oracles — the reference's dominant test pattern
  * (/root/reference/test/paralleltests.jl:491-671). */
class PMapReduceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("pmapreduce-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val npSweep = Seq(1, 2, 4, 8)

  test("flagship: pmapreduce(x => x*x, +, 1:100_000) == 333338333350000") {
    for (np <- npSweep) {
      val got = pmapreduce(spark, IndexedSeq(PRange(1, 100000)), np)(
        v => v(0).toLong * v(0).toLong, ReduceOp.commutative[Long](_ + _))
      assert(got == 333338333350000L, s"np=$np")
    }
  }

  test("pmapreduce vs serial mapreduce with init (paralleltests.jl:492-499)") {
    for (np <- npSweep; init <- Seq(None, Some(100L))) {
      val got = pmapreduce(spark, IndexedSeq(PRange(1, 10)), np)(
        v => v(0).toLong * v(0).toLong, ReduceOp.commutative[Long](_ + _), init)
      val want = (1L to 10L).map(x => x * x).sum + init.getOrElse(0L)
      assert(got == want, s"np=$np init=$init")
    }
  }

  test("zip-mode pmapreduce (x,y) => x*y over (1:10, 2:2:20) (paralleltests.jl:516-544)") {
    val iters = IndexedSeq(PRange(1, 10), PRange.stepped(2, 2, 20))
    val want = (1 to 10).map(x => x.toLong * (2 * x)).sum
    for (np <- npSweep) {
      val got = pmapreduce(spark, iters, np)(
        v => (v(0) * v(1)).toLong, ReduceOp.commutative[Long](_ + _))
      assert(got == want, s"np=$np")
    }
  }

  test("product-mode pmapreduce over product(1:5, 2:4)") {
    val iters = IndexedSeq(PRange(1, 5), PRange(2, 4))
    val want = (for (y <- 2 to 4; x <- 1 to 5) yield x.toLong * y).sum
    for (np <- npSweep) {
      val got = pmapreduceProduct(spark, iters, np)(
        v => (v(0) * v(1)).toLong, ReduceOp.commutative[Long](_ + _))
      assert(got == want, s"np=$np")
    }
  }

  test("dict merge reduction (paralleltests.jl:502-514)") {
    for (np <- Seq(1, 4)) {
      val got = pmapreduce(spark, IndexedSeq(PRange(1, 200)), np)(
        v => Map(v(0).toLong -> v(0).toLong), ReduceOp.mergeMaps[Long, Long])
      assert(got == (1L to 200L).map(x => x -> x).toMap, s"np=$np")
    }
  }

  test("non-commutative vcat preserves rank order (docs/src/pmapreduce.md:79-89)") {
    // pmapreduce_productsplit(collect, vcat, 1:3, 1:2): 6 tuples reverse-lex
    val iters = IndexedSeq(PRange(1, 3), PRange(1, 2))
    val want = ProductIndexMath.productSplit(iters, 1, 1).toVector
    for (np <- npSweep) {
      val got = pmapreduceProductSplit(spark, iters, np)(
        ps => ps.toVector, ReduceOp.concat[IndexedSeq[Double]])
      assert(got == want, s"np=$np")
    }
  }

  test("rank-sensitive hcat-style op (docs/src/pmapreduce.md:105-109)") {
    // f(ps) = [rank of first element's owner]; concat must come out rank-ordered
    val iters = IndexedSeq(PRange(1, 97)) // 97 not divisible: remainder law exercised
    for (np <- npSweep) {
      val npEff = math.min(np, 97)
      val got = pmapreduceProductSplit(spark, iters, np)(
        ps => Vector(ps.firstFlat), ReduceOp.concat[Long])
      val want = (1 to npEff).map(p => ProductIndexMath.dropTake(97, npEff, p)._1).toVector
      assert(got == want, s"np=$np")
    }
  }

  test("elementwise in-place array reductions vs allocating oracle (paralleltests.jl:555-571)") {
    for (np <- npSweep) {
      val sum = pmapreduceProductSplit(spark, IndexedSeq(PRange(1, 20)), np)(
        ps => Array.fill(2)(ps.length.toDouble), ReduceOp.elementwiseSum)
      // each rank contributes [len, len]; total = 20
      assert(sum.toVector == Vector(20.0, 20.0), s"np=$np sum")
      val mx = pmapreduceProductSplit(spark, IndexedSeq(PRange(1, 20)), np)(
        ps => Array(ps.firstElement(0), ps.lastElement(0)), ReduceOp.elementwiseMax)
      assert(mx(1) == 20.0, s"np=$np max")
    }
  }

  test("host-segmented reduce equals treeReduce path for every segment count (trees.jl:42-63)") {
    for (np <- npSweep; segs <- Seq(1, 2, 4, 7, 64)) {
      val got = pmapreduceSegmented(spark, IndexedSeq(PRange(1, 50)), np)(
        t => Array(t(0), t(0) * t(0)), ReduceOp.elementwiseSum,
        segments = Some(segs))
      // serial oracle: sum 1..50 = 1275, sum of squares = 42925
      assert(got.toVector == Vector(1275.0, 42925.0), s"np=$np segs=$segs")
      val withInit = pmapreduceSegmented(spark, IndexedSeq(PRange(1, 50)), np)(
        t => Array(t(0), 0.0), ReduceOp.elementwiseSum,
        init = Some(Array(1000.0, 0.0)), segments = Some(segs))
      assert(withInit(0) == 2275.0, s"init once, np=$np segs=$segs")
    }
    // defaults to the real host count (1 in local mode) when unset
    val auto = pmapreduceSegmented(spark, IndexedSeq(PRange(1, 10)), 4)(
      t => Array(t(0)), ReduceOp.elementwiseSum)
    assert(auto.toVector == Vector(55.0))
  }

  test("host-segmented reduce keeps rank order for non-commutative ops (trees.jl:108-137)") {
    // ordered concat through every segment topology: the result must be
    // the identity permutation regardless of how ranks group into
    // segments — rank-contiguous segment assignment + in-segment sort
    // + min-rank segment fold reproduce the reference's segmented-tree
    // order exactly.
    for (np <- npSweep; segs <- Seq(1, 2, 4, 7, 64)) {
      val got = pmapreduceSegmented(spark, IndexedSeq(PRange(1, 50)), np)(
        t => Vector(t(0).toLong), ReduceOp.concat[Long], segments = Some(segs))
      assert(got == (1L to 50L).toVector, s"np=$np segs=$segs")
    }
    // raw entry point: deliberately scrambled rank keys still fold 1..8
    val partials = spark.sparkContext
      .parallelize(Seq(5, 3, 8, 1, 7, 2, 6, 4), 8)
      .map(r => (r, Vector(r)))
    val folded = graft.operators.PMapReduce.hostSegmentedReduce(
      spark, partials, 8, ReduceOp.concat[Int], segments = Some(3))
    assert(folded == (1 to 8).toVector)
  }

  test("host-segmented reduce takes the rank count from its caller, not the partition count") {
    // 8 scrambled ranks in 3 partitions: fewer partitions than ranks, as
    // the rank-block law builds them
    val partials = spark.sparkContext
      .parallelize(Seq(5, 3, 8, 1, 7, 2, 6, 4), 3)
      .map(r => (r, Vector(r)))
    for (segs <- Seq(1, 2, 3, 7)) {
      val folded = graft.operators.PMapReduce.hostSegmentedReduce(
        spark, partials, 8, ReduceOp.concat[Int], segments = Some(segs))
      assert(folded == (1 to 8).toVector, s"segs=$segs")
    }
    // a key outside 1..np is refused, naming the key
    val ex = intercept[Exception] {
      graft.operators.PMapReduce.hostSegmentedReduce(
        spark, partials, 7, ReduceOp.concat[Int], segments = Some(3))
    }
    assert(Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .exists(e => e.getMessage != null && e.getMessage.contains("rank key 8 outside 1..7")),
      ex.toString)
  }

  /** Element-by-element comparison with the first mismatch in the message. */
  private def assertSameSeq[T](got: Seq[T], want: Seq[T], clue: String): Unit = {
    assert(got.length == want.length, s"$clue: length ${got.length} != ${want.length}")
    val bad = got.indices.find(i => got(i) != want(i))
    assert(bad.isEmpty, s"$clue: first mismatch at ${bad.map(i => (i, got(i), want(i)))}")
  }

  test("rank blocks: ranks outnumbering the cores keep every entry point's rank order") {
    val zip = IndexedSeq(PRange(1, 1009), PRange.stepped(3, 2, 3001)) // 1009 elements
    val zipWant = (0L until 1009L).map(j => Vector(1L + j, 3L + 2 * j))
    val prod = IndexedSeq(PRange(1, 7), PRange(1, 11), PRange(1, 17)) // 1309 elements
    val prodWant = (0L until 1309L).map(ProductIndexMath.elementAt(prod, _))
    val sumOp = ReduceOp.commutative[Long](_ + _)
    for (np <- Seq(5, 13, 64, 224)) {
      assert(1009 % np != 0 && 1309 % np != 0, s"np=$np must not divide the lengths")
      assertSameSeq(
        pmapreduce(spark, zip, np)(v => Vector(v.map(_.toLong).toVector), ReduceOp.concat[Vector[Long]]),
        zipWant, s"pmapreduce concat np=$np")
      assert(pmapreduce(spark, zip, np)(v => v(0).toLong * v(1).toLong, sumOp) ==
        zipWant.map(v => v(0) * v(1)).sum, s"pmapreduce sum np=$np")
      assertSameSeq(
        pmapreduceProduct(spark, prod, np)(v => Vector(v), ReduceOp.concat[IndexedSeq[Double]]),
        prodWant, s"pmapreduceProduct concat np=$np")
      assertSameSeq(
        pmapreduceProductSplit(spark, prod, np)(_.toVector, ReduceOp.concat[IndexedSeq[Double]]),
        prodWant, s"pmapreduceProductSplit concat np=$np")
      // rank-sensitive: each rank contributes its own window start
      assertSameSeq(
        pmapreduceProductSplit(spark, prod, np)(ps => Vector(ps.firstFlat), ReduceOp.concat[Long]),
        (1 to np).map(p => ProductIndexMath.dropTake(1309, np, p)._1), s"firstFlat np=$np")
      for (segs <- Seq(1, 2, 7, 64)) {
        assertSameSeq(
          pmapreduceSegmented(spark, zip, np)(v => Vector(v.map(_.toLong).toVector),
            ReduceOp.concat[Vector[Long]], segments = Some(segs)),
          zipWant, s"pmapreduceSegmented concat np=$np segs=$segs")
      }
      assertSameSeq(pmapbatch(spark, zip, np)(v => v.map(_.toLong).toVector), zipWant,
        s"pmapbatch np=$np")
      assertSameSeq(pmapbatchProductSplit(spark, prod, np)(ps => (ps.firstFlat, ps.length)),
        (1 to np).map(p => ProductIndexMath.dropTake(1309, np, p)), s"pmapbatchProductSplit np=$np")
    }
  }

  test("retention: f may keep its point — pmapbatch(v => v) and concat of Vector(v) for every np") {
    val zip = IndexedSeq(PRange(1, 97), PRange.stepped(5, 3, 5 + 3 * 96), PRange.steppedD(0.5, 0.25, 40.0))
    val zipWant = (0L until 97L).map(j => zip.map(_(j)))
    val prods = Seq(
      // dimension 1 wraps inside a rank window
      IndexedSeq(PRange(1, 4), PRange(3, 3), PRange.steppedD(0.5, 0.25, 2.0)), // 4 * 1 * 7
      // dimension 1 of length 1: a new snapshot every element
      IndexedSeq(PRange(5, 5), PRange(1, 6), PRange.stepped(2, 3, 14)), // 1 * 6 * 5
      IndexedSeq(PRange.steppedD(-1.0, 0.5, 20.0)), // N = 1: 43
      IndexedSeq(PRange(1, 3), PRange.stepped(2, 2, 6), PRange(0, 1), PRange.steppedD(0.5, 0.5, 2.0))) // 3 * 3 * 2 * 4
    val concat = ReduceOp.concat[IndexedSeq[Double]]
    // a point's class is unspecified (it depends on whether it crossed
    // to the driver); on every path it equals and hashes as the seq of
    // its values
    def samePoints(got: Seq[IndexedSeq[Double]], want: Seq[IndexedSeq[Double]], clue: String): Unit = {
      assertSameSeq(got, want, clue)
      assert(got.map(_.hashCode) == want.map(_.hashCode), s"$clue: hashCode")
    }
    for (np <- Seq(1, 3, 16, 64)) {
      samePoints(pmapbatch(spark, zip, np)(v => v), zipWant, s"pmapbatch np=$np")
      samePoints(pmapreduce(spark, zip, np)(v => Vector(v), concat), zipWant, s"pmapreduce np=$np")
      for (prod <- prods) {
        val prodWant = (0L until ProductIndexMath.totalLength(prod)).map(ProductIndexMath.elementAt(prod, _))
        samePoints(pmapreduceProduct(spark, prod, np)(v => Vector(v), concat), prodWant,
          s"pmapreduceProduct $prod np=$np")
      }
    }
  }

  test("plain Long and Double ops fold as the generic fold does, with and without init") {
    // the same function behind an op that is not a plain function, so
    // the rank fold can only reach it through op.apply
    def generic[B](op: ReduceOp[B]): ReduceOp[B] = new ReduceOp[B] {
      def apply(a: B, b: B): B = op(a, b)
      def commutative: Boolean = op.commutative
    }
    // built where T is erased: an unspecialised Function2
    def numericPlus[T](implicit num: Numeric[T]): ReduceOp[T] = ReduceOp.commutative[T](num.plus)
    val zip = IndexedSeq(PRange(1, 1000), PRange.steppedD(-3.0, 0.1, 200.0))
    val prod = IndexedSeq(PRange(1, 9), PRange(4, 4), PRange.stepped(2, 3, 62)) // 9 * 1 * 21
    def check[B: scala.reflect.ClassTag](name: String, f: IndexedSeq[Double] => B, op: ReduceOp[B],
                                         init: B): Unit =
      for (np <- Seq(1, 3, 16); in <- Seq(None, Some(init))) {
        val clue = s"$name np=$np init=$in"
        val z = pmapreduce(spark, zip, np)(f, op, in)
        assert(z == pmapreduce(spark, zip, np)(f, generic(op), in), s"zip $clue")
        val p = pmapreduceProduct(spark, prod, np)(f, op, in)
        assert(p == pmapreduceProduct(spark, prod, np)(f, generic(op), in), s"product $clue")
        if (np == 1) {
          // one rank: the serial left fold, then init
          def serial(points: Seq[IndexedSeq[Double]]): B = {
            val r = points.map(f).reduceLeft(op)
            in.fold(r)(op(_, r))
          }
          assert(z == serial((0L until 1000L).map(j => zip.map(_(j)))), s"zip serial $clue")
          assert(p == serial((0L until 189L).map(ProductIndexMath.elementAt(prod, _))), s"product serial $clue")
        }
      }
    val fl: IndexedSeq[Double] => Long = v => math.round(v(0) * 7 + v(v.length - 1) * 10)
    // quarter-multiples well inside 2^53: every partial sum is exact, so
    // a commutative Double op gives one result in any combine order
    // (treeReduce merges task results as they arrive)
    val fd: IndexedSeq[Double] => Double = v => v(0) * 0.25 + math.rint(v(v.length - 1) * 4) / 4
    check("Long +", fl, ReduceOp.commutative[Long](_ + _), 5L)
    check("Long 31a+b", fl, ReduceOp[Long]((a, b) => 31 * a + b), 5L)
    check("Long flip(31a+b)", fl, ReduceOp.flip(ReduceOp[Long]((a, b) => 31 * a + b)), 5L)
    check("Long Numeric.plus", fl, numericPlus[Long], 5L)
    check("Double +", fd, ReduceOp.commutative[Double](_ + _), 2.5)
    check("Double 0.5a+b", fd, ReduceOp[Double]((a, b) => 0.5 * a + b), 2.5)
    check("Double Numeric.plus", fd, numericPlus[Double], 2.5)
  }

  /** One lambda class: every instance is the same class, whatever `k`. */
  private def scaled(k: Long): IndexedSeq[Double] => Long = v => k * v(0).toLong

  test("capturing lambda: two instances of one class, interleaved, each folds its own capture") {
    val (a, b) = (scaled(3), scaled(7))
    assert(a.getClass eq b.getClass, "the two instances must share a lambda class")
    val zip = IndexedSeq(PRange(1, 1000), PRange.stepped(2, 2, 2000))
    val prod = IndexedSeq(PRange(1, 9), PRange(4, 4), PRange.stepped(2, 3, 62)) // 9 * 1 * 21
    // the same sum behind an op that is not a plain function, so the
    // fold takes its generic loop
    val plain = ReduceOp.commutative[Long](_ + _)
    val generic = new ReduceOp[Long] {
      def apply(x: Long, y: Long): Long = x + y
      def commutative: Boolean = true
    }
    for (np <- Seq(1, 3, 16); op <- Seq(plain, generic); k <- Seq(3L, 7L)) {
      val f = if (k == 3L) a else b
      val clue = s"k=$k np=$np op=${if (op eq plain) "plain" else "generic"}"
      assert(pmapreduce(spark, zip, np)(f, op) == k * 500500L, s"zip $clue")
      assert(pmapreduceProduct(spark, prod, np)(f, op) == k * 45L * 21L, s"product $clue")
      assert(pmapbatch(spark, zip, np)(f) == (1L to 1000L).map(k * _).toVector, s"pmapbatch $clue")
    }
  }

  test("call order does not matter: five lambdas through zip, product and pmapbatch, in two orders") {
    val zip = IndexedSeq(PRange(1, 301), PRange.stepped(2, 3, 2 + 3 * 300))
    val prod = IndexedSeq(PRange(1, 7), PRange(2, 2), PRange.stepped(1, 2, 41)) // 7 * 1 * 21
    val zipPoints = (0L until 301L).map(j => zip.map(_(j)))
    val prodPoints = (0L until 147L).map(ProductIndexMath.elementAt(prod, _))
    def norm(x: Any): Any = x match {
      case a: Array[Double] => a.toVector
      case other            => other
    }
    // every rank's serial left fold, then the rank partials left-folded in
    // rank order: the serial left fold at np = 1, and for a commutative
    // op what any combine order gives
    def ranked[B](points: IndexedSeq[IndexedSeq[Double]], np: Int, f: IndexedSeq[Double] => B,
                  op: ReduceOp[B]): B = {
      val npEff = math.min(np, points.length)
      (1 to npEff).map { p =>
        val (drop, take) = ProductIndexMath.dropTake(points.length.toLong, npEff, p)
        points.slice(drop.toInt, (drop + take).toInt).map(f).reduceLeft(op)
      }.reduceLeft(op)
    }
    def check[B: scala.reflect.ClassTag](name: String, f: IndexedSeq[Double] => B, op: ReduceOp[B])
                                        (np: Int): Unit = {
      val clue = s"$name np=$np"
      assert(norm(pmapreduce(spark, zip, np)(f, op)) == norm(ranked(zipPoints, np, f, op)), s"zip $clue")
      assert(norm(pmapreduceProduct(spark, prod, np)(f, op)) == norm(ranked(prodPoints, np, f, op)),
        s"product $clue")
      assertSameSeq(pmapbatch(spark, zip, np)(f).map(norm), zipPoints.map(f).map(norm), s"pmapbatch $clue")
    }
    val cases: Seq[Int => Unit] = Seq(
      check("Long +", v => v(0).toLong * 3 + v(v.length - 1).toLong, ReduceOp.commutative[Long](_ + _)),
      check("Long 31a+b", v => v(0).toLong - 2 * v(v.length - 1).toLong, ReduceOp[Long]((x, y) => 31 * x + y)),
      check("flip(Long 31a+b)", v => v(v.length - 1).toLong + 5,
        ReduceOp.flip(ReduceOp[Long]((x, y) => 31 * x + y))),
      check("Vector concat", v => Vector(v(0).toLong, v(v.length - 1).toLong), ReduceOp.concat[Long]),
      check("elementwiseSum", v => Array(v(0), v(0) * v(v.length - 1)), ReduceOp.elementwiseSum))
    for (order <- Seq(cases, cases.reverse); np <- Seq(1, 3, 16); run <- order) run(np)
  }

  test("rank loops: one hidden-class copy per lambda class, from a template with no fields or companion") {
    import graft.operators.{RankLoops, RankLoopTemplate}
    val template = classOf[RankLoopTemplate]
    assert(template.getDeclaredFields.isEmpty, template.getDeclaredFields.toSeq)
    assert(scala.util.Try(Class.forName(template.getName + "$", false, template.getClassLoader)).isFailure,
      "the template has a companion")
    val (a, b) = (scaled(1), scaled(2))
    val c: IndexedSeq[Double] => Long = v => v(0).toLong
    assert(a.getClass eq b.getClass)
    assert(a.getClass ne c.getClass)
    assert(RankLoops.of(a) eq RankLoops.of(b), "two instances of one lambda class share a copy")
    assert(RankLoops.of(a).getClass ne RankLoops.of(c).getClass, "two lambda classes share a copy")
    for (g <- Seq(a, c)) {
      val copy = RankLoops.of(g).getClass
      assert(copy.isHidden, s"$copy is not a hidden class")
      assert(copy.getSuperclass eq classOf[RankLoops])
    }
  }

  test("rank blocks: 224 ranks run as at most defaultParallelism tasks; productDF(np = 25) likewise") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val group = "rank-block-pin"
    val stageTasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          e.stageInfos.foreach(si => stageTasks.add(si.numTasks))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "pmapreduce over 224 ranks")
      val got = try pmapreduce(spark, IndexedSeq(PRange(1, 1000)), 224)(
        v => v(0).toLong, ReduceOp.commutative[Long](_ + _))
      finally sc.clearJobGroup()
      assert(got == 500500L)
      org.apache.spark.graftbridge.ListenerBusDrain.drain(sc)
      val tasks = stageTasks.asScala.toSeq
      assert(tasks.nonEmpty, "no stage recorded for the pmapreduce job")
      assert(tasks.forall(_ <= sc.defaultParallelism),
        s"stage task counts $tasks exceed defaultParallelism ${sc.defaultParallelism}")
    } finally sc.removeSparkListener(listener)
    val df = ProductSplitSource.productDF(spark, IndexedSeq(PRange(1, 40), PRange(1, 30)), 25)
    assert(df.rdd.getNumPartitions <= sc.defaultParallelism)
    val section = ProductSplitSource.sectionDF(spark, IndexedSeq(PRange(1, 40), PRange(1, 30)), 5, 1100)
    assert(section.rdd.getNumPartitions <= sc.defaultParallelism)
  }

  test("segmented reduce: the map runs in min(npEff, defaultParallelism) tasks, then one per segment") {
    val sc = spark.sparkContext
    val metrics = new graft.obs.RunMetrics(sc)
    def withStageTasks[T](call: => T): (T, Vector[Int]) = {
      val before = metrics.snapshot()
      val result = call
      (result, (metrics.snapshot() - before).stageRows.map(_.tasks))
    }
    for (np <- Seq(3, 224)) {
      val (got, tasks) = withStageTasks(pmapreduceSegmented(spark, IndexedSeq(PRange(1, 224)), np)(
        t => Array(t(0), 1.0), ReduceOp.elementwiseSum))
      assert(got.toVector == Vector(25200.0, 224.0), s"np=$np")
      // the one segment of a local run is folded on the driver: no second stage
      assert(tasks == Vector(math.min(np, sc.defaultParallelism)), s"np=$np stage task counts $tasks")
    }
    // two segments over four map blocks: one shuffle task per segment
    val partials = sc.parallelize((1 to 8).map(r => (r, Array(r.toDouble, 1.0))), 4)
    val (got, tasks) = withStageTasks(
      hostSegmentedReduce(spark, partials, 8, ReduceOp.elementwiseSum, segments = Some(2)))
    assert(got.toVector == Vector(36.0, 8.0))
    assert(tasks == Vector(4, 2), s"segments=2 stage task counts $tasks")
  }

  test("zero ranges are refused by name at every entry point") {
    val none = IndexedSeq.empty[PRange]
    def refused(call: => Any): Unit = {
      val e = intercept[IllegalArgumentException](call)
      assert(e.getMessage.contains("need at least one iterator"), e.getMessage)
    }
    val sum = ReduceOp.commutative[Long](_ + _)
    refused(ProductIndexMath.productSplit(none, 2, 1))
    refused(ProductIndexMath.productSection(none, 1, 1))
    refused(ProductIndexMath.flatIndexOf(none, IndexedSeq()))
    refused(ProductSlice(none, 0, 0))
    refused(pmapreduceProduct(spark, none, 2)(_ => 1L, sum))
    refused(pmapreduceProductSplit(spark, none, 2)(_ => 1L, sum))
    refused(pmapbatchProductSplit(spark, none, 2)(_.length))
    refused(ProductSplitSource.productDF(spark, none, 2))
    refused(ProductSplitSource.sectionDF(spark, none, 1, 1))
    refused(ProductSplitSource.productSliceRDD(spark, none, 2))
    refused(pmapreduce(spark, none, 2)(_ => 1L, sum))
    refused(pmapreduceSegmented(spark, none, 2)(_ => 1L, sum))
    refused(pmapbatch(spark, none, 2)(_ => 1L))
    refused(ProductSplitSource.zippedDF(spark, none, 2))
    refused(ProductSplitSource.zipSliceRDD(spark, none, 2))
  }

  test("np < 1 is refused by name: productDF, pmapreduce, pmapbatchProductSplit") {
    val iters = IndexedSeq(PRange(1, 4), PRange(1, 3))
    def refused(np: Int)(call: => Any): Unit = {
      val e = intercept[IllegalArgumentException](call)
      assert(e.getMessage.contains(s"np must be >= 1, got $np"), e.getMessage)
    }
    for (np <- Seq(0, -1)) refused(np)(ProductSplitSource.productDF(spark, iters, np))
    refused(0)(pmapreduce(spark, iters, 0)(v => v(0).toLong, ReduceOp.commutative[Long](_ + _)))
    refused(0)(pmapbatchProductSplit(spark, iters, 0)(_.length))
  }

  test("BroadcastStack axis-union reduction on OffsetArrays (misctests_singleprocess.jl:55-63)") {
    // golden: BroadcastStack(min,1)(2*ones(2), 3*ones(3)) == [2,2,3]
    val a = OffsetArrayND(IndexedSeq((1, 2)), Array(2.0, 2.0))
    val b = OffsetArrayND(IndexedSeq((1, 3)), Array(3.0, 3.0, 3.0))
    assert(BroadcastStack(math.min, Set(1))(a, b).data.toVector == Vector(2.0, 2.0, 3.0))
    // golden: BroadcastStack(+,2)(2*ones(2,2), 3*ones(2,3)) == [5 5 3; 5 5 3]
    val c = OffsetArrayND(IndexedSeq((1, 2), (1, 2)), Array.fill(4)(2.0))
    val d = OffsetArrayND(IndexedSeq((1, 2), (1, 3)), Array.fill(6)(3.0))
    val st = BroadcastStack(_ + _, Set(2))(c, d)
    assert(st.axes == IndexedSeq((1, 2), (1, 3)))
    assert(st.data.toVector == Vector(5.0, 5.0, 5.0, 5.0, 3.0, 3.0))
    // offset axes: ones(2:4) + ones(3:5) -> overlap 3:4 combined, holes none
    val e = OffsetArrayND(IndexedSeq((2, 4)), Array(1.0, 1.0, 1.0))
    val g = OffsetArrayND(IndexedSeq((3, 5)), Array(1.0, 1.0, 1.0))
    val s2 = BroadcastStack(_ + _, Set(1))(e, g)
    assert(s2.axes == IndexedSeq((2, 5)) && s2.data.toVector == Vector(1.0, 2.0, 2.0, 1.0))
    // distributed: stack per-rank offset vectors along dim 1
    for (np <- Seq(2, 4)) {
      val got = pmapreduceProductSplit(spark, IndexedSeq(PRange(1, 8)), np)(
        ps => OffsetArrayND(IndexedSeq((ps.firstFlat.toInt + 1, ps.lastFlat.toInt + 1)),
          Array.fill(ps.length.toInt)(1.0)),
        BroadcastStack(_ + _, Set(1)))
      assert(got.axes == IndexedSeq((1, 8)) && got.data.toVector == Vector.fill(8)(1.0), s"np=$np")
    }
  }

  test("Flip pops and preserves commutativity (reductionfunctions.jl:238-269)") {
    val vcat = ReduceOp.concat[Int]
    val flipped = ReduceOp.flip(vcat)
    assert(flipped(Vector(2), Vector(3)) == Vector(3, 2))
    assert(ReduceOp.flip(flipped) eq vcat)
    assert(ReduceOp.flip(ReduceOp.commutative[Int](_ - _)).commutative)
  }

  test("pmapbatch ordered per-element concat (paralleltests.jl:661-671)") {
    for (np <- npSweep) {
      val got = pmapbatch(spark, IndexedSeq(PRange(1, 23)), np)(v => v(0).toLong * 2)
      assert(got == (1L to 23L).map(_ * 2).toVector, s"np=$np")
    }
  }

  test("pmapbatch_productsplit per-rank results in rank order") {
    val iters = IndexedSeq(PRange(1, 5), PRange(2, 4), PRange(1, 3))
    for (np <- npSweep) {
      val got = pmapbatchProductSplit(spark, iters, np)(ps => ps.length)
      val npEff = math.min(np, 45)
      assert(got == (1 to npEff).map(p => ProductIndexMath.dropTake(45, npEff, p)._2).toVector, s"np=$np")
    }
  }

  test("error in mapper propagates to driver (paralleltests.jl:644-659)") {
    val ex = intercept[Exception] {
      pmapreduceProductSplit(spark, IndexedSeq(PRange(1, 10)), 4)(
        ps => { if (ps.firstFlat > 2) throw new RuntimeException("boom"); 1L },
        ReduceOp.commutative[Long](_ + _))
    }
    assert(ex.getMessage != null)
  }

  test("init law on the product-split path: applied once, after the distributed reduce") {
    for (np <- npSweep) {
      // Non-commutative concat with init: init must prepend exactly once
      // (reference init-once law, src/mapreduce.jl:110-117).
      val got = pmapreduceProductSplit(spark, IndexedSeq(PRange(1, 6)), np)(
        sl => Vector(sl.firstElement(0).toLong),
        ReduceOp.concat[Long], init = Some(Vector(-1L)))
      assert(got.head == -1L, s"np=$np: init must fold exactly once, first")
      assert(got.count(_ == -1L) == 1, s"np=$np: init folded more than once: $got")
      // Commutative sum with init over a multi-partition reduce.
      val sum = pmapreduceProductSplit(spark, IndexedSeq(PRange(1, 100)), np)(
        _.iterator.map(_(0).toLong).sum,
        ReduceOp.commutative[Long](_ + _), init = Some(1000L))
      assert(sum == 5050L + 1000L, s"np=$np")
    }
  }

  test("error thrown inside the reduce op propagates to the driver") {
    val ex = intercept[Exception] {
      pmapreduce(spark, IndexedSeq(PRange(1, 100)), 4)(
        v => v(0).toLong,
        ReduceOp.commutative[Long]((a, b) =>
          if (a + b > 50) throw new RuntimeException("reduce-boom") else a + b))
    }
    assert(ex.getMessage != null)
  }

  test("empty collection reduce throws (reference: reducing over an empty collection)") {
    intercept[IllegalArgumentException] {
      pmapreduce(spark, IndexedSeq(PRange(1L, 0L)), 4)(
        v => v(0), ReduceOp.commutative[Double](_ + _))
    }
  }

  test("typed productDS matches driver-side math and supports typed transforms") {
    import graft.sources.ProductSplitSource
    val iters = IndexedSeq(PRange(1L, 4L), PRange(2L, 3L))
    val ds = ProductSplitSource.productDS(spark, iters, 3)
    val rows = ds.collect().sortBy(_.id)
    assert(rows.length == 8)
    rows.foreach { r =>
      assert(r.dims == graft.plans.ProductIndexMath.elementAt(iters, r.id))
      assert(r.rank == graft.plans.ProductIndexMath.rankOfIndex(8, 3, r.id))
    }
    // typed map over case-class fields
    import spark.implicits._
    val sums = ds.map(r => r.dims.sum).collect().sorted
    assert(sums.head == 3.0 && sums.last == 7.0)
  }

  test("productDF decode matches driver-side math; rank column matches split law") {
    import org.apache.spark.sql.functions.col
    val iters = IndexedSeq(PRange(1, 5), PRange(2, 4), PRange(1, 3))
    val np = 7
    val df = ProductSplitSource.productDF(spark, iters, np).orderBy(col("id"))
    val rows = df.collect()
    assert(rows.length == 45)
    for (row <- rows) {
      val id = row.getLong(0)
      val want = ProductIndexMath.elementAt(iters, id)
      assert(Seq(row.getLong(1), row.getLong(2), row.getLong(3)).map(_.toDouble) == want.toSeq, s"id=$id")
      assert(row.getInt(4) == ProductIndexMath.rankOfIndex(45, np, id), s"rank id=$id")
    }
  }

  test("sectionDF window matches golden doctest rows") {
    import org.apache.spark.sql.functions.col
    val df = ProductSplitSource.sectionDF(spark, IndexedSeq(PRange(1, 3), PRange(4, 6)), 5, 8)
    val rows = df.orderBy(col("id")).collect().map(r => (r.getLong(1), r.getLong(2))).toVector
    assert(rows == Vector((2L, 5L), (3L, 5L), (1L, 6L), (2L, 6L)))
  }

  test("float-range product decode is drift-free (I9 fixture)") {
    import org.apache.spark.sql.functions.col
    val iters = IndexedSeq(PRange.steppedD(1, 0.5, 3), PRange(2, 4))
    val df = ProductSplitSource.productDF(spark, iters, 3).orderBy(col("id"))
    val got = df.collect().map(r => (r.getDouble(1), r.getLong(2))).toVector
    val want = ProductIndexMath.productSplit(iters, 1, 1).toVector.map(v => (v(0), v(1).toLong))
    assert(got == want)
  }

  test("zippedDF truncates to shortest and matches positions") {
    import org.apache.spark.sql.functions.col
    val iters = IndexedSeq(PRange(1, 10), PRange.stepped(2, 2, 20))
    val df = ProductSplitSource.zippedDF(spark, iters, 4).orderBy(col("id"))
    val got = df.collect().map(r => (r.getLong(1), r.getLong(2))).toVector
    assert(got == (1 to 10).map(x => (x.toLong, 2L * x)).toVector)
  }
}
