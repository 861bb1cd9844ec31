package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.ReduceOp
import graft.operators.PMapReduce
import graft.plans.PRange
import graft.sources.ProductSplitSource

/** Correctness-gate queries over the engine's own surface (SURVEY §2.1,
  * §2.3): product-split sources, sections, zips, rank statistics, and
  * the pmapreduce family. Each has an exact DuckDB oracle built from
  * `range()` + the same mixed-radix / split-law arithmetic.
  *
  * Scale note: every source here is `spark.range` + pure-Column decode —
  * codegen'd, no shuffle, no UDF; the rank-stats aggregation is the only
  * shuffle and it is a partial-agg hash aggregate.
  */
object CoreQueries {

  // Fixture A: (1:10, 4:6, 1:4), L = 120, np = 7 (SURVEY FIXTURES I5).
  private val fixA = IndexedSeq(PRange(1L, 10L), PRange(4L, 6L), PRange(1L, 4L))
  // Fixture B: (1:100, 1:50, 1:40), L = 200_000, np = 32.
  private val fixB = IndexedSeq(PRange(1L, 100L), PRange(1L, 50L), PRange(1L, 40L))
  private val names3 = Seq("d1", "d2", "d3")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S1: ProductSplit decode + split-law rank assignment.
    "ps_product_decode" -> ((s, _) =>
      ProductSplitSource.productDF(s, fixA, 7, names3)
        .withColumnRenamed("rank", "prank")),

    // S2: ProductSection window (1-based global indices 5..11 of (1:5,2:4,1:3)).
    "ps_section" -> ((s, _) =>
      ProductSplitSource.sectionDF(s,
        IndexedSeq(PRange(1L, 5L), PRange(2L, 4L), PRange(1L, 3L)), 5L, 11L, names3)),

    // S4: zipped ranges (1:10) zip (2:2:20), np = 4.
    "ps_zip" -> ((s, _) =>
      ProductSplitSource.zippedDF(s,
        IndexedSeq(PRange(1L, 10L), PRange.stepped(2L, 2L, 20L)), 4, Seq("d1", "d2"))
        .withColumnRenamed("rank", "prank")),

    // I7 stepped-range fixture (1:2:9, 4:1:6): non-unit-step decode.
    "ps_stepped_product" -> ((s, _) =>
      ProductSplitSource.productDF(s,
        IndexedSeq(PRange.stepped(1L, 2L, 9L), PRange(4L, 6L)), 4, Seq("d1", "d2"))
        .withColumnRenamed("rank", "prank")),

    // I9 float-range fixture (1:0.5:3, 2:4): drift-free decode via
    // start + i*step (/root/reference/test/productsplit.jl:20).
    "ps_float_product" -> ((s, _) =>
      ProductSplitSource.productDF(s,
        IndexedSeq(PRange.steppedD(1.0, 0.5, 3.0), PRange(2L, 4L)), 3, Seq("d1", "d2"))
        .withColumnRenamed("rank", "prank")),

    // E1 at depth: sum over 1:10^8 (large-range distributed reduce).
    "pmr_sum_large" -> ((s, _) => {
      val v = PMapReduce.pmapreduce(s, IndexedSeq(PRange(1L, 100000000L)), 32)(
        t => t(0).toLong, ReduceOp.commutative[Long](_ + _))
      s.createDataFrame(Seq(Tuple1(v))).toDF("total")
    }),

    // P9-P11 distributed analog: per-rank count/distinct/extrema over fixture B.
    "ps_rank_stats" -> ((s, _) =>
      ProductSplitSource.productDF(s, fixB, 32, names3)
        .withColumnRenamed("rank", "prank")
        .groupBy("prank")
        .agg(
          count(lit(1)).as("n"),
          countDistinct(col("d1")).as("nd1"),
          countDistinct(col("d2")).as("nd2"),
          countDistinct(col("d3")).as("nd3"),
          min("d1").as("min1"), max("d1").as("max1"),
          min("d2").as("min2"), max("d2").as("max2"),
          min("d3").as("min3"), max("d3").as("max3"))),

    // E1 flagship: pmapreduce(x -> x^2, +, 1:100_000) == 333338333350000
    // (/root/reference/docs/src/pmapreduce.md:32-41).
    "pmr_sum_squares" -> ((s, _) => {
      val v = PMapReduce.pmapreduce(s, IndexedSeq(PRange(1L, 100000L)), 32)(
        t => { val x = t(0).toLong; x * x }, ReduceOp.commutative[Long](_ + _))
      s.createDataFrame(Seq(Tuple1(v))).toDF("total")
    }),

    // E1 + R4: elementwise array reduction (sum, sum of squares, count).
    "pmr_elementwise" -> ((s, _) => {
      val v = PMapReduce.pmapreduce(s, IndexedSeq(PRange(1L, 10000L)), 32)(
        t => Array(t(0), t(0) * t(0), 1.0), ReduceOp.elementwiseSum)
      s.createDataFrame(Seq((v(0), v(1), v(2)))).toDF("s1", "s2", "n")
    }),

    // E4: per-rank slices gathered in rank order; concatenation restores
    // the global reverse-lex order (/root/reference/docs/src/pmapreduce.md:79-89).
    "pmr_product_collect" -> ((s, _) => {
      val slices = PMapReduce.pmapbatchProductSplit(s,
        IndexedSeq(PRange(1L, 3L), PRange(1L, 2L)), 4)(_.toVector)
      val rows = slices.flatten.zipWithIndex.map { case (t, i) =>
        (i + 1L, t(0).toLong, t(1).toLong)
      }
      s.createDataFrame(rows).toDF("ord", "d1", "d2")
    }),

    // P2/P9/P10/P11 driver-side O(1) point ops: per-rank slice length,
    // distinct counts, extrema — computed with NO Spark job from the
    // closed-form index arithmetic, then cross-checked against DuckDB's
    // brute-force aggregation over the decoded product. This is the
    // ~100ns metadata surface (/root/reference/docs/src/pmapreduce.md:123-158).
    "ps_point_ops" -> ((s, _) => {
      val rows = (1 to 7).map { p =>
        val sl = graft.plans.ProductIndexMath.productSplit(fixA, 7, p)
        (p, sl.length,
          sl.nElements(1), sl.nElements(2), sl.nElements(3),
          sl.minimumElement(1).toLong, sl.maximumElement(1).toLong,
          sl.minimumElement(2).toLong, sl.maximumElement(2).toLong,
          sl.minimumElement(3).toLong, sl.maximumElement(3).toLong)
      }
      s.createDataFrame(rows).toDF("prank", "n", "nd1", "nd2", "nd3",
        "min1", "max1", "min2", "max2", "min3", "max3")
    }),

    // P6 whichproc: owning rank of EVERY product element via the
    // driver-side binary search — oracle recomputes ranks with the
    // closed-form split law in SQL.
    "ps_whichproc" -> ((s, _) => {
      val rows = for {
        d3 <- 1L to 4L; d2 <- 4L to 6L; d1 <- 1L to 10L
      } yield {
        val rk = graft.plans.ProductIndexMath
          .whichProc(fixA, IndexedSeq(d1.toDouble, d2.toDouble, d3.toDouble), 7).get
        (d1, d2, d3, rk)
      }
      s.createDataFrame(rows).toDF("d1", "d2", "d3", "prank")
    }),

    // P7 whichproc_localindex: owning rank + 1-based local index of
    // EVERY element, driver-side O(log np) — oracle recomputes both
    // from the closed-form split law.
    "ps_local_index" -> ((s, _) => {
      val rows = for {
        d3 <- 1L to 4L; d2 <- 4L to 6L; d1 <- 1L to 10L
      } yield {
        val (p, li) = graft.ParallelUtilities
          .whichProcLocalIndex(fixA, IndexedSeq(d1.toDouble, d2.toDouble, d3.toDouble), 7).get
        (d1, d2, d3, p, li)
      }
      s.createDataFrame(rows).toDF("d1", "d2", "d3", "prank", "lidx")
    }),

    // P8 procrange_recast: the rank window each np=5 slice occupies
    // when the same product is recast over 7 and over 10 ranks.
    "ps_recast" -> ((s, _) => {
      val rows = (1 to 5).map { p =>
        val sl = graft.plans.ProductIndexMath.productSplit(fixA, 5, p)
        val (lo7, hi7) = graft.plans.ProductIndexMath.procRangeRecast(fixA, sl, 7).get
        val (lo10, hi10) = graft.plans.ProductIndexMath.procRangeRecast(fixA, sl, 10).get
        (p, lo7, hi7, lo10, hi10)
      }
      s.createDataFrame(rows).toDF("p", "lo7", "hi7", "lo10", "hi10")
    }),

    // P12 extrema_commonlastdim per rank (np=8): leading-dim extrema
    // restricted to rows carrying the slice's min/max last-dim value.
    "ps_extrema_lastdim" -> ((s, _) => {
      val rows = (1 to 8).map { p =>
        val sl = graft.plans.ProductIndexMath.productSplit(fixA, 8, p)
        val Some((mins, maxs)) = sl.extremaCommonLastDim
        (p, mins(0)._1.toLong, mins(1)._1.toLong, mins(0)._2.toLong,
          maxs(0)._1.toLong, maxs(1)._1.toLong, maxs(0)._2.toLong)
      }
      s.createDataFrame(rows).toDF("prank", "min1", "min2", "lastmin",
        "max1", "max2", "lastmax")
    }),

    // P13 dropleading: the distinct remaining (d2, d3) tuples covered by
    // each np=7 slice — exact via contiguity, no scan.
    "ps_dropleading" -> ((s, _) => {
      val rows = for {
        p <- 1 to 7
        sl = graft.plans.ProductIndexMath.productSplit(fixA, 7, p)
        if !sl.isEmpty
        v <- sl.dropLeading.iterator
      } yield (p, v(0).toLong, v(1).toLong)
      s.createDataFrame(rows).toDF("prank", "d2", "d3")
    }),

    // S6 halve: the work-stealing split law (floor-half left) on both
    // product slices and zip windows, 1-based inclusive global bounds.
    "ps_halve" -> ((s, _) => {
      val prod = (1 to 5).flatMap { p =>
        val sl = graft.plans.ProductIndexMath.productSplit(IndexedSeq(PRange(1L, 120L)), 5, p)
        val (a, b) = sl.halve
        Seq(("prod", p, 0, a.firstIndexGlobal, a.lastIndexGlobal),
          ("prod", p, 1, b.firstIndexGlobal, b.lastIndexGlobal))
      }
      val zip = (1 to 4).flatMap { p =>
        val (drop, take) = graft.plans.ProductIndexMath.dropTake(35L, 4, p)
        val ((dl, tl), (dr, tr)) = graft.plans.ProductIndexMath.halveZip(drop, take)
        Seq(("zip", p, 0, dl + 1, dl + tl), ("zip", p, 1, dr + 1, dr + tr))
      }
      s.createDataFrame(prod ++ zip).toDF("kind", "p", "side", "first1", "last1")
    }),

    // R5 BroadcastStack: per-rank OffsetArrays over OVERLAPPING global
    // windows (rank's slice ±3) stacked with + along the axis union —
    // emitted sparse as (index, value) so the oracle can recompute
    // value(i) = i × #windows covering i.
    "pmr_broadcast_stack" -> ((s, _) => {
      val iters = IndexedSeq(PRange(1L, 120L))
      val stacked = PMapReduce.pmapreduceProductSplit(s, iters, 6)(
        sl => {
          val lo = math.max(1L, sl.firstIndexGlobal - 3).toInt
          val hi = math.min(120L, sl.lastIndexGlobal + 3).toInt
          graft.functions.OffsetArrayND(IndexedSeq((lo, hi)),
            Array.tabulate(hi - lo + 1)(k => (lo + k).toDouble))
        },
        graft.functions.BroadcastStack(_ + _, Set(1)))
      val rows = (stacked.axes(0)._1 to stacked.axes(0)._2)
        .map(i => (i.toLong, stacked(i)))
      s.createDataFrame(rows).toDF("i", "v")
    }),

    // R7 merge: pmapreduce with Dict-union reduction
    // (/root/reference/test/paralleltests.jl:502-514).
    "pmr_merge_dicts" -> ((s, _) => {
      val m = PMapReduce.pmapreduce(s, IndexedSeq(PRange(1L, 200L)), 16)(
        t => Map(t(0).toLong -> t(0).toLong * t(0).toLong),
        ReduceOp.mergeMaps[Long, Long])
      s.createDataFrame(m.toSeq.sortBy(_._1)).toDF("k", "v")
    }),

    // Reference flagship payload (docs/src/index.md:22-45): reduce
    // large arrays with in-place elementwise sum — per-partition
    // map-side combine means one 800 KB partial per rank crosses the
    // "network", not 224 of them. 224 × 100k-double arrays -> one array.
    "pmr_array_elsum" -> ((s, _) => {
      val v = PMapReduce.pmapreduce(s, IndexedSeq(PRange(1L, 224L)), 32)(
        _ => Array.fill(100000)(1.0), ReduceOp.elementwiseSum)
      s.createDataFrame(Seq((v.length, v(0), v.sum))).toDF("len", "v0", "total")
    }),

    // T2: the same array-payload reduction through the host-segmented
    // two-stage combine (each rank block folded in its map task, a
    // shuffle into segments, one partial per segment to the driver) — 4 segments
    // emulate a 4-node topology on local mode, the reference's own
    // fake-multi-host test pattern (test/paralleltests.jl:472-485).
    "pmr_hostseg_elsum" -> ((s, _) => {
      val v = PMapReduce.pmapreduceSegmented(s, IndexedSeq(PRange(1L, 224L)), 32)(
        _ => Array.fill(100000)(1.0), ReduceOp.elementwiseSum,
        segments = Some(4))
      s.createDataFrame(Seq((v.length, v(0), v.sum))).toDF("len", "v0", "total")
    }),

    // T2 + non-commutative: ordered concat through the host-segmented
    // combine — rank-contiguous segment assignment + in-segment rank
    // sort + min-rank segment fold must reproduce the exact element
    // order (the reference segmented tree's ordered semantics,
    // /root/reference/src/trees.jl:108-137). 57 elements over 16 ranks
    // in 4 segments: uneven splits at both levels.
    "pmr_hostseg_concat" -> ((s, _) => {
      val parts = PMapReduce.pmapreduceSegmented(s, IndexedSeq(PRange(1L, 57L)), 16)(
        t => Vector(t(0).toLong), ReduceOp.concat[Long], segments = Some(4))
      val rows = parts.zipWithIndex.map { case (v, i) => (i + 1L, v) }
      s.createDataFrame(rows).toDF("pos", "v")
    }),

    // E2 + non-commutative concat: rank-ordered reduce of per-slice
    // summaries over (1:7,1:5) split 8 ways — exercises the ordered
    // gather-sort-fold path (/root/reference/src/mapreduce.jl:138-146).
    "pmr_ordered_concat" -> ((s, _) => {
      val parts = PMapReduce.pmapreduceProductSplit(s,
        IndexedSeq(PRange(1L, 7L), PRange(1L, 5L)), 8)(
        sl => Vector((sl.length, sl.firstElement(0).toLong, sl.lastElement(1).toLong)),
        ReduceOp.concat[(Long, Long, Long)])
      val rows = parts.zipWithIndex.map { case ((len, f1, l2), i) =>
        (i + 1L, len, f1, l2)
      }
      s.createDataFrame(rows).toDF("pos", "slice_len", "first_d1", "last_d2")
    }))

  val oracleSql: Map[String, String] = Map(
    "ps_product_decode" ->
      """SELECT id, 1 + (id % 10) AS d1, 4 + ((id // 10) % 3) AS d2,
        |       1 + ((id // 30) % 4) AS d3,
        |       CAST(1 + (CASE WHEN id < 18 THEN id // 18 ELSE 1 + (id - 18) // 17 END) AS INT) AS prank
        |FROM (SELECT range AS id FROM range(0, 120)) ORDER BY id""".stripMargin,

    "ps_section" ->
      """SELECT id, 1 + (id % 5) AS d1, 2 + ((id // 5) % 3) AS d2,
        |       1 + ((id // 15) % 3) AS d3
        |FROM (SELECT range AS id FROM range(4, 11)) ORDER BY id""".stripMargin,

    "ps_zip" ->
      """SELECT id, 1 + id AS d1, 2 + 2 * id AS d2,
        |       CAST(1 + (CASE WHEN id < 6 THEN id // 3 ELSE 2 + (id - 6) // 2 END) AS INT) AS prank
        |FROM (SELECT range AS id FROM range(0, 10)) ORDER BY id""".stripMargin,

    // L = 5*3 = 15, np = 4: d = 3, r = 3, boundary = 12.
    "ps_stepped_product" ->
      """SELECT id, 1 + 2 * (id % 5) AS d1, 4 + ((id // 5) % 3) AS d2,
        |       CAST(1 + (CASE WHEN id < 12 THEN id // 4 ELSE 3 + (id - 12) // 3 END) AS INT) AS prank
        |FROM (SELECT range AS id FROM range(0, 15)) ORDER BY id""".stripMargin,

    // L = 5*3 = 15, np = 3: d = 5, r = 0 -> prank = 1 + id//5.
    "ps_float_product" ->
      """SELECT id, CAST(1.0 AS DOUBLE) + (id % 5) * CAST(0.5 AS DOUBLE) AS d1, 2 + (id // 5) AS d2,
        |       CAST(1 + id // 5 AS INT) AS prank
        |FROM (SELECT range AS id FROM range(0, 15)) ORDER BY id""".stripMargin,

    "pmr_sum_large" ->
      "SELECT CAST(SUM(x) AS BIGINT) AS total FROM (SELECT range + 1 AS x FROM range(0, 100000000))",

    "ps_rank_stats" ->
      """SELECT prank, count(*) AS n,
        |       count(DISTINCT d1) AS nd1, count(DISTINCT d2) AS nd2, count(DISTINCT d3) AS nd3,
        |       min(d1) AS min1, max(d1) AS max1, min(d2) AS min2, max(d2) AS max2,
        |       min(d3) AS min3, max(d3) AS max3
        |FROM (SELECT CAST(1 + id // 6250 AS INT) AS prank,
        |             1 + (id % 100) AS d1, 1 + ((id // 100) % 50) AS d2,
        |             1 + ((id // 5000) % 40) AS d3
        |      FROM (SELECT range AS id FROM range(0, 200000)))
        |GROUP BY prank ORDER BY prank""".stripMargin,

    "pmr_sum_squares" ->
      "SELECT CAST(SUM(x * x) AS BIGINT) AS total FROM (SELECT range + 1 AS x FROM range(0, 100000))",

    // Brute-force per-rank stats over the decoded fixture-A product;
    // the Spark side computed them O(1) on the driver.
    "ps_point_ops" ->
      """SELECT CAST(prank AS INT) AS prank, count(*) AS n,
        |       count(DISTINCT d1) AS nd1, count(DISTINCT d2) AS nd2, count(DISTINCT d3) AS nd3,
        |       min(d1) AS min1, max(d1) AS max1, min(d2) AS min2, max(d2) AS max2,
        |       min(d3) AS min3, max(d3) AS max3
        |FROM (SELECT 1 + (CASE WHEN id < 18 THEN id // 18 ELSE 1 + (id - 18) // 17 END) AS prank,
        |             1 + (id % 10) AS d1, 4 + ((id // 10) % 3) AS d2, 1 + ((id // 30) % 4) AS d3
        |      FROM (SELECT range AS id FROM range(0, 120)))
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "ps_whichproc" ->
      """SELECT 1 + (id % 10) AS d1, 4 + ((id // 10) % 3) AS d2, 1 + ((id // 30) % 4) AS d3,
        |       CAST(1 + (CASE WHEN id < 18 THEN id // 18 ELSE 1 + (id - 18) // 17 END) AS INT) AS prank
        |FROM (SELECT range AS id FROM range(0, 120)) ORDER BY id""".stripMargin,

    // np=7 over L=120: d=17, r=1, boundary=18; drop(p)=17(p-1)+min(1,p-1).
    "ps_local_index" ->
      """WITH r AS (
        |  SELECT id, 1 + (id % 10) AS d1, 4 + ((id // 10) % 3) AS d2, 1 + ((id // 30) % 4) AS d3,
        |    CAST(1 + (CASE WHEN id < 18 THEN id // 18 ELSE 1 + (id - 18) // 17 END) AS INT) AS prank
        |  FROM (SELECT range AS id FROM range(0, 120)))
        |SELECT d1, d2, d3, prank,
        |  CAST(id - (17 * (prank - 1) + CASE WHEN prank > 1 THEN 1 ELSE 0 END) + 1 AS BIGINT) AS lidx
        |FROM r ORDER BY id""".stripMargin,

    // np=5: d=24, r=0 -> slice p covers [24(p-1), 24p-1]; recast ranks
    // via the closed-form law for np=7 (d=17, r=1) and np=10 (d=12, r=0).
    "ps_recast" ->
      """SELECT CAST(p AS INT) AS p,
        |  CAST(1 + (CASE WHEN f < 18 THEN f // 18 ELSE 1 + (f - 18) // 17 END) AS INT) AS lo7,
        |  CAST(1 + (CASE WHEN l < 18 THEN l // 18 ELSE 1 + (l - 18) // 17 END) AS INT) AS hi7,
        |  CAST(1 + f // 12 AS INT) AS lo10,
        |  CAST(1 + l // 12 AS INT) AS hi10
        |FROM (SELECT p, 24 * (p - 1) AS f, 24 * p - 1 AS l
        |      FROM (SELECT range AS p FROM range(1, 6)))
        |ORDER BY p""".stripMargin,

    // np=8: d=15, r=0 -> prank = 1 + id//15.
    "ps_extrema_lastdim" ->
      """WITH t AS (
        |  SELECT 1 + (id % 10) AS d1, 4 + ((id // 10) % 3) AS d2, 1 + ((id // 30) % 4) AS d3,
        |    CAST(1 + id // 15 AS INT) AS prank
        |  FROM (SELECT range AS id FROM range(0, 120))),
        |m AS (SELECT prank, min(d3) AS lastmin, max(d3) AS lastmax FROM t GROUP BY 1)
        |SELECT t.prank,
        |  min(CASE WHEN d3 = lastmin THEN d1 END) AS min1,
        |  min(CASE WHEN d3 = lastmin THEN d2 END) AS min2,
        |  min(lastmin) AS lastmin,
        |  max(CASE WHEN d3 = lastmax THEN d1 END) AS max1,
        |  max(CASE WHEN d3 = lastmax THEN d2 END) AS max2,
        |  min(lastmax) AS lastmax
        |FROM t JOIN m ON t.prank = m.prank
        |GROUP BY t.prank ORDER BY 1""".stripMargin,

    "ps_dropleading" ->
      """SELECT DISTINCT
        |  CAST(1 + (CASE WHEN id < 18 THEN id // 18 ELSE 1 + (id - 18) // 17 END) AS INT) AS prank,
        |  4 + ((id // 10) % 3) AS d2, 1 + ((id // 30) % 4) AS d3
        |FROM (SELECT range AS id FROM range(0, 120)) ORDER BY 1, 3, 2""".stripMargin,

    // prod: np=5 over L=120 (d=24, r=0); zip: np=4 over L=35 (d=8, r=3).
    "ps_halve" ->
      """WITH u AS (
        |  SELECT 'prod' AS kind, p, 24 * (p - 1) AS drp, 24 AS tk
        |  FROM (SELECT range AS p FROM range(1, 6))
        |  UNION ALL
        |  SELECT 'zip', p, 8 * (p - 1) + least(3, p - 1),
        |         8 + CASE WHEN p <= 3 THEN 1 ELSE 0 END
        |  FROM (SELECT range AS p FROM range(1, 5)))
        |SELECT kind, CAST(p AS INT) AS p, CAST(0 AS INT) AS side,
        |  CAST(drp + 1 AS BIGINT) AS first1, CAST(drp + tk // 2 AS BIGINT) AS last1 FROM u
        |UNION ALL
        |SELECT kind, CAST(p AS INT), CAST(1 AS INT),
        |  CAST(drp + tk // 2 + 1 AS BIGINT), CAST(drp + tk AS BIGINT) FROM u
        |ORDER BY 1, 2, 3""".stripMargin,

    // np=6 over L=120 (d=20): rank p's 1-based window is
    // [20(p-1)+1, 20p], extended ±3 and clipped to [1, 120].
    "pmr_broadcast_stack" ->
      """SELECT CAST(i AS BIGINT) AS i, CAST(i * cnt AS DOUBLE) AS v
        |FROM (
        |  SELECT i, count(*) AS cnt
        |  FROM (SELECT range AS i FROM range(1, 121)) t
        |  JOIN (SELECT range AS p FROM range(1, 7)) r
        |    ON i BETWEEN greatest(20 * (p - 1) + 1 - 3, 1) AND least(20 * p + 3, 120)
        |  GROUP BY i)
        |ORDER BY i""".stripMargin,

    "pmr_merge_dicts" ->
      """SELECT x AS k, x * x AS v FROM (SELECT range + 1 AS x FROM range(0, 200)) ORDER BY k""".stripMargin,

    "pmr_array_elsum" ->
      "SELECT CAST(100000 AS INT) AS len, CAST(224 AS DOUBLE) AS v0, CAST(224 * 100000 AS DOUBLE) AS total",

    "pmr_hostseg_elsum" ->
      "SELECT CAST(100000 AS INT) AS len, CAST(224 AS DOUBLE) AS v0, CAST(224 * 100000 AS DOUBLE) AS total",

    // Ordered concat of 1..57: the result IS the identity sequence iff
    // every segment/rank boundary preserved order.
    "pmr_hostseg_concat" ->
      """SELECT CAST(range + 1 AS BIGINT) AS pos, CAST(range + 1 AS BIGINT) AS v
        |FROM range(0, 57) ORDER BY pos""".stripMargin,

    "pmr_elementwise" ->
      """SELECT CAST(SUM(x) AS DOUBLE) AS s1, CAST(SUM(x * x) AS DOUBLE) AS s2,
        |       CAST(COUNT(*) AS DOUBLE) AS n
        |FROM (SELECT range + 1 AS x FROM range(0, 10000))""".stripMargin,

    "pmr_product_collect" ->
      """SELECT CAST(id + 1 AS BIGINT) AS ord, 1 + (id % 3) AS d1, 1 + (id // 3) AS d2
        |FROM (SELECT range AS id FROM range(0, 6)) ORDER BY ord""".stripMargin,

    // Split law over L=35, np=8: d=4, r=3; drop(p) = 4(p-1)+min(3,p-1).
    "pmr_ordered_concat" ->
      """SELECT CAST(p AS BIGINT) AS pos,
        |       CAST(lastf - firstf + 1 AS BIGINT) AS slice_len,
        |       1 + (firstf % 7) AS first_d1,
        |       1 + ((lastf // 7) % 5) AS last_d2
        |FROM (SELECT p, 4 * (p - 1) + least(3, p - 1) AS firstf,
        |             4 * p + least(3, p) - 1 AS lastf
        |      FROM (SELECT range AS p FROM range(1, 9)))
        |ORDER BY pos""".stripMargin)
}
