package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators.{ConnectedComponents, Curation, Dedup, ProductQuant, Sampling, Search}
import graft.sources.Sinks

/** Read-only curation and retrieval over the seeded Zipfian corpus:
  * text cleaning, exact and near-duplicate detection, edit-distance
  * title join, duplicate spans, BM25, the curation chain, and PQ. */
final class CurateBatch(spark: SparkSession, dir: String) extends Workload {
  private val c = new Corpus(spark, dir)
  private val n = c.nDocs
  private val threshold = 0.7
  private val maxDist = 2
  /** Planted title pairs that must come back: same family, at most
    * `maxDist` substitutions apart. */
  private val titlePairs: Set[(Long, Long)] = c.plantedPairs.filter { case (a, b) =>
    val (x, y) = (c.titles(a.toInt), c.titles(b.toInt))
    x.length == y.length && x.indices.count(i => x(i) != y(i)) <= maxDist
  }
  private val budgets: Map[String, Long] =
    Seq("en", "de", "fr").map(l => l -> c.truth.long(s"tokens.$l") * 3 / 10).toMap
  private val cap = (n / 20).toInt
  private val pqM = 8
  private val pqSub = 8

  private var bm25First: Option[Set[Row]] = None
  private var chainFirst: Option[(Long, Long)] = None
  private var lastVerified = 0L
  private var candidates = 0L

  val itemsPerPass: Long = n

  override def extras: Map[String, Double] = Map(
    "docs" -> n.toDouble,
    "minhash_verified" -> lastVerified.toDouble,
    "minhash_candidates" -> candidates.toDouble)

  def pass(rec: Recorder, idx: Int): Unit = {
    val docs = c.docs

    rec.call("TextFunctions.clean") { ph =>
      val df = ph.construct(docs.select(col("doc_id"), col("lang"),
        TextFunctions.normalizeText(col("text")).as("norm"),
        TextFunctions.qualityScore(col("text")).as("quality"),
        TextFunctions.langId(TextFunctions.tokens(col("text"))).as("guess")))
      ph.execute(c.noopObserved(df, count(lit(1)).as("rows"),
        sum(when(col("guess") === col("lang"), 1).otherwise(0)).as("lang_hits"),
        sum(length(col("norm"))).as("chars")))
    } { m =>
      Check.equal(m("rows"), n, "cleaned rows")
      Check(m("lang_hits").asInstanceOf[Long] >= n * 99 / 100, s"langId hits ${m("lang_hits")} of $n")
    }

    rec.call("Dedup.exact") { ph =>
      val df = ph.construct(Dedup.dropExactDuplicates(docs, "doc_id", "text"))
      ph.execute(c.noopObserved(df, count(lit(1)).as("rows")))
    } { m => Check.equal(m("rows"), c.truth.long("exact_survivors"), "exact-dedup survivors") }

    val pairsDf = rec.call("Dedup.minhash") { ph =>
      val df = ph.construct(Dedup.minhashNearDupPairs(docs, "doc_id", "text", threshold))
      (df, ph.execute(df.collect()))
    } { case (_, rows) =>
      val got = Corpus.pairs(rows)
      val missed = c.plantedPairs -- got
      Check(missed.isEmpty, s"minhash missed ${missed.size} planted pairs, e.g. ${missed.take(3)}")
      Check(rows.forall(_.getDouble(2) >= threshold), "minhash pair below threshold")
      lastVerified = rows.length
    }.map(_._1)

    rec.call("ConnectedComponents.survivors") { ph =>
      val pairs = pairsDf.getOrElse(throw new IllegalStateException("no near-duplicate pairs"))
      val df = ph.construct(ConnectedComponents.dropNearDuplicates(docs, "doc_id", pairs))
      ph.execute(c.noopObserved(df, count(lit(1)).as("rows"), sum(col("doc_id")).as("ids")))
    } { m =>
      Check.equal(m("rows"), c.truth.long("survivors"), "near-dedup survivors")
      Check.equal(m("ids"), c.truth.long("survivor_id_sum"), "near-dedup survivor ids")
    }

    rec.call("Dedup.edit_join") { ph =>
      val df = ph.construct(Dedup.editDistancePairs(docs.select("doc_id", "title"), "doc_id", "title", maxDist))
      ph.execute(df.collect())
    } { rows =>
      val got = Corpus.pairs(rows)
      val missed = titlePairs -- got
      Check(missed.isEmpty, s"edit join missed ${missed.size} planted title pairs, e.g. ${missed.take(3)}")
      got.foreach { case (a, b) =>
        val d = Corpus.levenshtein(c.titles(a.toInt), c.titles(b.toInt))
        Check(d <= maxDist, s"edit join pair ($a,$b) is $d edits apart")
      }
    }

    rec.call("Dedup.spans") { ph =>
      val df = ph.construct(Dedup.duplicateSpanPairs(docs, "doc_id", "text", n = 8,
        maxDocsPerSpan = 100, minShared = 2))
      ph.execute(df.collect())
    } { rows =>
      val missed = c.plantedPairs -- Corpus.pairs(rows)
      Check(missed.isEmpty, s"span pairs missed ${missed.size} planted pairs, e.g. ${missed.take(3)}")
    }

    rec.call("Search.bm25") { ph =>
      val df = ph.construct(Search.bm25TopK(docs, "doc_id", "text", c.queriesDF, 10))
      ph.execute(df.collect())
    } { rows =>
      Check.equal(rows.length, c.queries.length * 10, "bm25 rows")
      rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
        val ranked = rs.sortBy(_.getLong(2))
        Check(ranked.map(_.getLong(2)).toSeq == (1L to 10L), s"bm25 ranks of query $q")
        Check(ranked.sliding(2).forall(w => w(0).getDouble(3) >= w(1).getDouble(3)), s"bm25 order of query $q")
      }
      val set = rows.toSet
      bm25First.foreach(f => Check(f == set, "bm25 result differs from the first pass"))
      if (bm25First.isEmpty) bm25First = Some(set)
    }

    rec.call("Curation.chain") { ph =>
      val df = ph.construct {
        val capped = Curation.capPerGroup(docs, "source", TextFunctions.qualityScore(col("text")),
          "doc_id", cap).drop("rk")
        val kept = Curation.surprisalBuckets(capped, "doc_id", "text", "lang").where(col("bucket") =!= "tail")
        val mixed = Sampling.mixToTokenBudget(kept, "doc_id", "lang", col("n_tok"), budgets)
        Sinks.assignTrainingShards(mixed, "doc_id", nShards = 8)
      }
      ph.execute(c.noopObserved(df, count(lit(1)).as("rows"), sum(col("doc_id")).as("ids"),
        min(col("shard")).as("lo"), max(col("shard")).as("hi")))
    } { m =>
      val rows = m("rows").asInstanceOf[Long]
      Check(rows > 0 && rows < n, s"curation kept $rows of $n")
      Check(m("lo").asInstanceOf[Int] >= 0 && m("hi").asInstanceOf[Int] < 8, "training shard out of range")
      val got = (rows, m("ids").asInstanceOf[Long])
      chainFirst.foreach(f => Check.equal(got, f, "curation result vs the first pass"))
      if (chainFirst.isEmpty) chainFirst = Some(got)
    }

    val codebooks = rec.call("ProductQuant.train") { ph =>
      ph.execute(ProductQuant.trainCodebooks(c.embeddings, "id", "vec", m = pqM, subDim = pqSub, k = 32, iters = 4))
    } { cb =>
      Check(cb.length == pqM && cb.forall(s => s.length == 32 && s.forall(_.length == pqSub)), "codebook shape")
    }

    rec.call("ProductQuant.adc") { ph =>
      val cb = codebooks.getOrElse(throw new IllegalStateException("no codebooks"))
      val df = ph.construct {
        val codes = ProductQuant.encode(c.embeddings, "id", "vec", cb, pqSub)
        ProductQuant.adcTopK(codes, c.probes.map(p => (p._1, p._3)), cb, pqSub, 10)
      }
      ph.execute(df.collect())
    } { rows =>
      Check.equal(rows.length, c.probes.length * 10, "adc rows")
      val cluster = c.probes.map(p => p._1 -> p._2).toMap
      val clusters = c.truth.long("clusters")
      rows.foreach { r =>
        Check(r.getLong(1) % clusters == cluster(r.getLong(0)), s"adc: probe ${r.getLong(0)} got id ${r.getLong(1)}")
      }
    }
  }

  /** Traced runs only: the LSH candidate volume behind the verified
    * pairs (one extra job, after the timed passes). */
  override def verify(rec: Recorder, traced: Boolean): Unit =
    if (traced) candidates = Dedup.lshCandidates(Dedup.withMinhash(c.docs, "doc_id", "text"), "doc_id").count()
}
