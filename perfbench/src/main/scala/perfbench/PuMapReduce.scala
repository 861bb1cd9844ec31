package perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}
import scala.collection.immutable.ArraySeq
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.functions.ReduceOp
import graft.operators.PMapReduce
import graft.plans.{PRange, ProductIndexMath, ProductSlice}
import graft.sources.ProductSplitSource

/** The ParallelUtilities surface: every pmapreduce variant, pmapbatch,
  * a per-rank query over the product DataFrame, and driver point
  * queries on BASELINE's (1:10^5)^3 split over 25000 ranks. Reads no
  * parquet. */
final class PuMapReduce(spark: SparkSession, dir: String) extends Workload {
  private val p = new KeyValues(s"$dir/params.txt")
  private val truth = new KeyValues(s"$dir/truth.txt")

  private def box(off: String, dims: String): IndexedSeq[PRange] = {
    val o = p.longs(off); val d = p.longs(dims)
    d.indices.map(k => PRange(o(k) + 1, o(k) + d(k)))
  }
  private def len(iters: IndexedSeq[PRange]): Long = ProductIndexMath.totalLength(iters)

  private val zipLen = p.long("zip_len")
  private val zipIters = IndexedSeq(
    PRange(p.long("zip_a"), p.long("zip_a") + zipLen - 1),
    PRange.stepped(p.long("zip_b"), p.long("zip_step"), p.long("zip_b") + p.long("zip_step") * (zipLen - 1)))
  private val prodIters = box("prod_off", "prod_dims")
  private val splitIters = box("split_off", "split_dims")
  private val statsIters = box("stats_off", "stats_dims")
  private val statsNp = p.int("stats_np")
  private val concatA = p.long("concat_a")
  private val concatLen = p.int("concat_len")
  private val concatIters = IndexedSeq(PRange(concatA, concatA + concatLen - 1))
  private val elsumRanks = p.int("elsum_ranks")
  private val elsumLen = p.int("elsum_len")
  private val elsumIters = IndexedSeq(PRange(1L, elsumRanks.toLong))
  private val batchA = p.long("batch_a")
  private val batchStep = p.long("batch_step")
  private val batchLen = p.int("batch_len")
  private val batchIters = IndexedSeq(PRange.stepped(batchA, batchStep, batchA + batchStep * (batchLen - 1)))

  private val pqIters = IndexedSeq.fill(3)(PRange(1L, p.long("pq_side")))
  private val pqNp = p.int("pq_np")
  private val slices: Array[ProductSlice] =
    p.longs("pq_slices").map(r => ProductIndexMath.productSplit(pqIters, pqNp, r.toInt)).toArray
  private val queries: Array[IndexedSeq[Double]] = {
    val buf = ByteBuffer.wrap(Files.readAllBytes(Paths.get(s"$dir/queries.bin"))).order(ByteOrder.LITTLE_ENDIAN)
    Array.fill(p.int("pq_queries"))(ArraySeq(buf.getInt().toDouble, buf.getInt().toDouble, buf.getInt().toDouble))
  }

  private val sumOp = ReduceOp.commutative[Long](_ + _)
  private val elsumPayload: Array[Double] = Array.tabulate(elsumLen)(i => (i % 7) + 1.0)

  val itemsPerPass: Long =
    zipLen + len(prodIters) + len(splitIters) + concatLen + 2L * elsumRanks + batchLen +
      len(statsIters) + 5L * queries.length

  override def extras: Map[String, Double] = Map(
    "pq_queries" -> queries.length.toDouble,
    "elsum_result_mb" -> elsumRanks.toDouble * elsumLen * 8 / 1e6)

  def pass(rec: Recorder, idx: Int): Unit = {
    val payloadLen = elsumLen
    val payload: IndexedSeq[Double] => Array[Double] = _ => {
      val a = new Array[Double](payloadLen)
      var i = 0
      while (i < payloadLen) { a(i) = (i % 7) + 1.0; i += 1 }
      a
    }
    def checkElsum(got: Array[Double]): Unit = {
      Check.equal(got.length, elsumLen, "elementwise sum length")
      var i = 0
      while (i < got.length) {
        Check(got(i) == elsumRanks * elsumPayload(i), s"elementwise sum at $i: ${got(i)}")
        i += 1
      }
    }

    rec.call("PMapReduce.zip_sum") { ph =>
      ph.execute(PMapReduce.pmapreduce(spark, zipIters, 16)(v => v(0).toLong + v(1).toLong, sumOp))
    } { got => Check.equal(got, truth.long("zip_sum"), "zip sum") }

    rec.call("PMapReduce.product_sum") { ph =>
      ph.execute(PMapReduce.pmapreduceProduct(spark, prodIters, 16)(
        v => v(0).toLong + 2 * v(1).toLong + 3 * v(2).toLong, sumOp))
    } { got => Check.equal(got, truth.long("product_sum"), "product sum") }

    rec.call("PMapReduce.split_walk") { ph =>
      ph.execute(PMapReduce.pmapreduceProductSplit(spark, splitIters, 64)({ s =>
        var n = 0L
        var i = 1L
        while (i <= s.length) {
          val e = s(i)
          if (s.contains(e) && s.localIndex(e).contains(i)) n += 1
          i += 1
        }
        n
      }, sumOp))
    } { got => Check.equal(got, truth.long("split_walk"), "slice walk") }

    rec.call("PMapReduce.ordered_concat") { ph =>
      ph.execute(PMapReduce.pmapreduce(spark, concatIters, 64)(v => Vector(v(0).toLong), ReduceOp.concat[Long]))
    } { got =>
      Check.equal(got.length, concatLen, "concat length")
      Check(got.indices.forall(j => got(j) == concatA + j), "concat is not in rank order")
    }

    rec.call("PMapReduce.elsum_tree") { ph =>
      ph.execute(PMapReduce.pmapreduce(spark, elsumIters, elsumRanks)(payload, ReduceOp.elementwiseSum))
    }(checkElsum)

    rec.call("PMapReduce.elsum_segmented") { ph =>
      ph.execute(PMapReduce.pmapreduceSegmented(spark, elsumIters, elsumRanks)(payload, ReduceOp.elementwiseSum))
    }(checkElsum)

    rec.call("PMapReduce.pmapbatch") { ph =>
      ph.execute(PMapReduce.pmapbatch(spark, batchIters, 16)(v => v(0).toLong * 2))
    } { got =>
      Check.equal(got.length, batchLen, "pmapbatch length")
      Check(got.indices.forall(j => got(j) == 2 * (batchA + j * batchStep)), "pmapbatch order or values")
      Check.equal(got.sum, truth.long("batch_sum"), "pmapbatch sum")
    }

    rec.call("ProductSplitSource.rank_stats") { ph =>
      val df = ph.construct(ProductSplitSource.productDF(spark, statsIters, statsNp)
        .groupBy("rank").agg(count(lit(1)), min("id"), max("id")))
      ph.execute(df.collect())
    } { rows =>
      Check.equal(rows.length, statsNp, "ranks")
      rows.foreach { r =>
        val want = truth(s"rank_stats.${r.getInt(0)}")
        Check.equal(s"${r.getLong(1)},${r.getLong(2)},${r.getLong(3)}", want, s"rank ${r.getInt(0)} (count,min,max)")
      }
    }

    rec.call("ProductIndexMath.point_queries") { _ =>
      val qs = queries
      val n = qs.length
      val sl = slices
      val ns = sl.length
      val contains = rec.op("ProductIndexMath.contains") {
        var acc = 0L; var i = 0
        while (i < n) { if (sl(i % ns).contains(qs(i))) acc += 1; i += 1 }
        acc
      }
      val localIndex = rec.op("ProductIndexMath.localIndex") {
        var acc = 0L; var i = 0
        while (i < n) { sl(i % ns).localIndex(qs(i)).foreach(acc += _); i += 1 }
        acc
      }
      val whichProc = rec.op("ProductIndexMath.whichProc") {
        var acc = 0L; var i = 0
        while (i < n) { acc += ProductIndexMath.whichProc(pqIters, qs(i), pqNp).getOrElse(0); i += 1 }
        acc
      }
      val extrema = rec.op("ProductIndexMath.extremaElement") {
        var acc = 0.0; var i = 0
        while (i < n) { val (lo, hi) = sl(i % ns).extremaElement(i % 3 + 1); acc += lo + hi; i += 1 }
        acc
      }
      val nElements = rec.op("ProductIndexMath.nElements") {
        var acc = 0L; var i = 0
        while (i < n) { acc += sl(i % ns).nElements(i % 3 + 1); i += 1 }
        acc
      }
      (contains, localIndex, whichProc, extrema, nElements)
    } { case (c, li, wp, ex, ne) =>
      Check.equal(c, truth.long("contains_sum"), "contains")
      Check.equal(li, truth.long("local_index_sum"), "localIndex")
      Check.equal(wp, truth.long("which_proc_sum"), "whichProc")
      Check.equal(ex.toLong, truth.long("extrema_sum"), "extremaElement")
      Check.equal(ne, truth.long("nelements_sum"), "nElements")
    }
  }
}
