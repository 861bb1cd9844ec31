package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, IndexLifecycle, Search}

/** The persisted path over the same corpus law. Each pass replays one
  * whole lifecycle under fresh table names: build the growable MinHash
  * index on the base part, then per delta an append and a probe of the
  * held-out probe part, then compaction and a last probe, then a BM25
  * index over the standing corpus and a probe of it. */
final class IndexIngest(spark: SparkSession, dir: String) extends Workload {
  private val c = new Corpus(spark, dir)
  private val deltas = c.truth.int("parts") - 2
  private val probePart = deltas + 1
  private val threshold = 0.7
  private val buckets = 8
  private def part(k: Int): DataFrame = c.docs.where(col("part") === k)
  private def standing(k: Int): DataFrame = c.docs.where(col("part") <= k)

  private val partOf: Map[Long, Int] = {
    val parts = c.truth("doc_parts")
    parts.indices.map(i => i.toLong -> (parts(i) - '0')).toMap
  }
  /** Planted pairs (probe doc, standing doc) once deltas 1..k are in. */
  private def expectedProbe(k: Int): Set[(Long, Long)] = c.plantedPairs.flatMap { case (a, b) =>
    val (pa, pb) = (partOf(a), partOf(b))
    if (pa == probePart && pb <= k) Some((a, b))
    else if (pb == probePart && pa <= k) Some((b, a))
    else None
  }
  private val expected = (1 to deltas).map(k => k -> expectedProbe(k)).toMap
  private val bm25Results = scala.collection.mutable.ArrayBuffer.empty[Set[Row]]
  private val finalProbes = scala.collection.mutable.ArrayBuffer.empty[Set[(Long, Long)]]

  private def count(k: Int) = c.truth.long(s"part_docs.$k")
  val itemsPerPass: Long =
    (0 to deltas).map(count).sum * 2 + count(probePart) * (deltas + 1)

  override def extras: Map[String, Double] = Map(
    "docs" -> c.nDocs.toDouble,
    "ingested_text_bytes" -> (0 to deltas).map(k => c.truth.long(s"part_bytes.$k")).sum.toDouble)

  private def probePairs(rows: Array[Row]): Set[(Long, Long)] = rows.map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Parquet files under the pass's tables (traced passes only). */
  private def files(idx: Int): Double = {
    val root = java.nio.file.Paths.get(new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")))
    if (!java.nio.file.Files.exists(root)) 0.0
    else {
      val s = java.nio.file.Files.walk(root)
      try s.filter { f =>
        val rel = root.relativize(f).toString
        rel.startsWith(s"p${idx}_") && f.toString.endsWith(".parquet")
      }.count().toDouble
      finally s.close()
    }
  }

  def pass(rec: Recorder, idx: Int): Unit = {
    val mh = s"p${idx}_mh"
    val bm = s"p${idx}_bm"
    def step(): Unit = rec.annotate("files")(files(idx))
    val probe = part(probePart)
    def probeCall(k: Int, last: Boolean): Unit = {
      rec.call("IndexLifecycle.probe") { ph =>
        val df = ph.construct(IndexLifecycle.probeStandingMinHashIndex(probe, "doc_id", "text", mh,
          standing(k), threshold))
        ph.execute(df.collect())
      } { rows =>
        val got = probePairs(rows)
        Check(got == expected(k), s"index probe after delta $k: ${got.size} pairs, want ${expected(k).size}")
        if (last) finalProbes += got
      }
      step()
    }

    rec.call("IndexLifecycle.build") { ph =>
      ph.execute(IndexLifecycle.writeGrowableMinHashIndex(part(0), "doc_id", "text", mh, buckets))
    } { _ => Check(spark.catalog.tableExists(mh), s"$mh missing") }
    step()
    for (k <- 1 to deltas) {
      rec.call("IndexLifecycle.append") { ph =>
        ph.execute(IndexLifecycle.appendToMinHashIndex(part(k), "doc_id", "text", mh))
      } { _ => () }
      step()
      probeCall(k, last = false)
    }
    rec.call("IndexLifecycle.compact") { ph =>
      ph.execute(IndexLifecycle.compactMinHashIndex(spark, mh, buckets))
    } { _ => Check(spark.catalog.tableExists(mh), s"$mh missing after compaction") }
    step()
    probeCall(deltas, last = true)
    rec.call("Search.bm25_index.build") { ph =>
      ph.execute(Search.writeBm25Index(standing(deltas), "doc_id", "text", bm, buckets))
    } { _ => Check(spark.catalog.tableExists(s"${bm}_postings"), s"${bm}_postings missing") }
    step()
    rec.call("Search.bm25_index.probe") { ph =>
      val df = ph.construct(Search.bm25TopKFromIndex(spark, bm, c.queriesDF, 10))
      ph.execute(df.collect())
    } { rows =>
      Check.equal(rows.length, c.queries.length * 10, "bm25 index rows")
      bm25Results += rows.toSet
    }
  }

  /** The fsck of the compacted index runs Spark jobs, so it runs here,
    * outside the pass's wall and job group, before the tables go. */
  override def afterPass(rec: Recorder, idx: Int): Unit = {
    rec.checkPass(idx, "IndexLifecycle.compact fsck") {
      Check(IndexLifecycle.minhashIndexFsck(spark, s"p${idx}_mh"), "index inconsistent after compaction")
    }
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(s"p${idx}_"))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  /** The index paths must agree with the in-memory operators on the
    * same documents: BM25 from the index = in-memory BM25, and the
    * final index probe = the in-memory near-duplicate pairs between the
    * probe part and the standing corpus. */
  override def verify(rec: Recorder, traced: Boolean): Unit = {
    rec.checkAfter("bm25 index vs in-memory") {
      val want = Search.bm25TopK(standing(deltas), "doc_id", "text", c.queriesDF, 10).collect().toSet
      bm25Results.zipWithIndex.foreach { case (got, i) =>
        Check(got == want, s"bm25 from the index differs from in-memory bm25 (result $i): " +
          s"index only ${(got -- want).take(3)}, in-memory only ${(want -- got).take(3)}")
      }
    }
    rec.checkAfter("index probe vs in-memory pairs") {
      val all = Dedup.minhashNearDupPairs(c.docs, "doc_id", "text", threshold).collect()
      val want = all.flatMap { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        if (partOf(a) == probePart && partOf(b) <= deltas) Some((a, b))
        else if (partOf(b) == probePart && partOf(a) <= deltas) Some((b, a))
        else None
      }.toSet
      finalProbes.zipWithIndex.foreach { case (got, i) =>
        Check(got == want, s"index probe differs from in-memory pairs (result $i)")
      }
    }
    spark.catalog.clearCache()
  }
}
