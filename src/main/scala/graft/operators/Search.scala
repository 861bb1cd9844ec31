package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Full-text retrieval: BM25 top-k scoring of a small query set
  * against the document corpus — the lexical-search counterpart of the
  * embedding ANN tier (`Similarity`), and the standard first stage of
  * hybrid retrieval / hard-negative mining over a training corpus.
  *
  * Scoring law (Robertson/Lucene BM25, the `ln(1 + ...)` non-negative
  * idf form): for query q and doc d,
  * `score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))`
  * with `idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5))`.
  *
  * Determinism: per-term contributions are quantized to integer
  * micro-units (`round(c·1e6)` as long) and summed as longs, so the
  * score is independent of term order and partitioning (the same
  * trick as [[LanguageModel]]'s quantized log-probs); `avgdl` is
  * derived from the EXACT long token-count sum (one double division),
  * never a float `avg` whose summation order varies by engine.
  *
  * Scale shape (small query set — the hard-negative / eval-retrieval
  * case): the corpus is NEVER shuffled for scoring. Global stats (N,
  * Σdl) and per-term df are two partial-aggregated tiny collects (df
  * restricted to the query vocabulary by a codegen'd IN before the
  * aggregate); the query set itself is collected to the driver — it
  * is SMALL by contract (hundreds, not millions; the same bounded
  * driver-build pattern as [[ProductQuant]]'s ADC lookup tables) —
  * and fused into ONE native scoring pass per document
  * ([[graft.functions.NativeExprs.Bm25ScoresExpr]]: a single tokenize
  * + hash-map tf count scores every query; both the interpreted-HOF
  * form and an unrolled-builtins form re-walked the token array per
  * term and cost ~13 s at sf1 where the fused pass costs ~1 s — the
  * same lesson as the fused MinHash and classifier expressions). The
  * only row-count shuffle is
  * the per-query top-k window, which Spark 4 executes as
  * WindowGroupLimit — a per-partition k-heap BEFORE the exchange, so
  * ~|Q|·k·P rows move, not |Q|·N. For |Q| in the millions use
  * [[bm25TopKFromIndexBulk]]: the postings-join plan over the
  * persisted index, queries as a DataFrame end-to-end — no driver
  * collect, no per-query literal in the plan. */
object Search {

  /** Top-`k` docs per query by BM25. `queries` is a SMALL frame
    * `(query_id: long, terms: array<string>)` (collected and unrolled
    * into the scoring expression; hundreds of queries, not millions).
    * Ties break to the lower doc id. Output:
    * `(query_id, doc_id, rnk, score)`. */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queries: DataFrame, k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val ws = TextFunctions.tokens(col(textCol))
    val base = docs.select(col(idCol), ws.as("ws"),
      size(ws).cast("long").as("dl"))

    // Global stats: exact long sum of doc lengths -> one double divide.
    val statsRow = base.agg(count(lit(1)), sum(col("dl"))).first()
    val nDocs = statsRow.getLong(0)
    val qrows = collectQueries(queries)
    if (nDocs == 0L || qrows.isEmpty)
      return base.select(lit(0L).as("query_id"), col(idCol),
        lit(0L).as("rnk"), lit(0.0).as("score")).limit(0)
    val avgdl = statsRow.getLong(1).toDouble / nDocs

    // Per-term document frequency, restricted to the query vocabulary
    // by a codegen'd IN before the (map-side combined) aggregate.
    val allTerms = qrows.flatMap(_._2).distinct
    val termTriples = termIdfs(qrows, nDocs, base
      .select(explode(array_distinct(col("ws"))).as("token"))
      .where(col("token").isInCollection(allTerms))
      .groupBy("token").agg(count(lit(1)).as("df")))

    // Fused scoring: ONE native token pass per document scores every
    // query ([[graft.functions.NativeExprs.Bm25ScoresExpr]] — the
    // unrolled Column form re-walked the token array once per term).
    val scored = docs
      .select(col(idCol),
        explode(graft.functions.NativeExprs.bm25ScoresNative(
          col(textCol), termTriples, k1, b, avgdl)).as("q"))
      .select(col("q.query_id").as("query_id"), col(idCol),
        (col("q.s") / 1e6).as("score"))

    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col(idCol).asc)
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select(col("query_id"), col(idCol), col("rnk"),
        round(col("score"), 6).as("score"))
  }

  /** The collected query set of the driver-side scorers. */
  private def collectQueries(queries: DataFrame): Seq[(Long, Seq[String])] =
    queries.select(col("query_id").cast("long"), col("terms")).collect()
      .toSeq.map(r => r.getLong(0) -> r.getSeq[String](1))

  /** `(query_id, term, idf)` for each DISTINCT term of each query — a
    * term listed twice in one query scores once, on every BM25 path
    * (Bm25ScoresExpr's tf slots collapse duplicates; on the index
    * path each extra row would join the postings again). idf from the
    * collected `(token, df)` rows of the query vocabulary; an absent
    * term gets 0 (its tf is 0 everywhere anyway). */
  private def termIdfs(qrows: Seq[(Long, Seq[String])], nDocs: Long,
                       dfRows: DataFrame): Seq[(Long, String, Double)] = {
    val dfMap = dfRows.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    qrows.flatMap { case (qid, ts) => ts.distinct.map { t =>
      (qid, t, dfMap.get(t).fold(0.0)(df =>
        math.log(1.0 + (nDocs - df + 0.5) / (df + 0.5))))
    } }
  }

  /** Top-`k` docs per query by query-term coverage (|terms ∩ token
    * set|) — the boolean/sparse second ranker of a hybrid-retrieval
    * pair. Pure builtins (array_intersect against the broadcast query
    * set), ties to the lower doc id. Output
    * `(query_id, doc_id, rnk)`. */
  def overlapTopK(docs: DataFrame, idCol: String, textCol: String,
                  queries: DataFrame, k: Int): DataFrame = {
    // forCompute: the tokenize + per-query array_intersect is the
    // dense map stage (|Q|× replicated by the broadcast cross join)
    // and otherwise rides a single-file scan on one task (0.48 s
    // serial inside srch_rrf by the jobs probe). No-op on multi-split
    // scans.
    val scored = Repartition.forCompute(docs)
      .select(col(idCol),
        array_distinct(TextFunctions.tokens(col(textCol))).as("ts"))
      .crossJoin(broadcast(queries.select(col("query_id"), col("terms"))))
      .select(col("query_id"), col(idCol),
        size(array_intersect(col("ts"), col("terms"))).cast("long").as("ovl"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("ovl").desc, col(idCol).asc)
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select(col("query_id"), col(idCol), col("rnk"))
  }

  /** Persist the BM25 index for [[bm25TopKFromIndex]] — the lexical
    * counterpart of [[Similarity.writeIvfIndex]]'s index-once/
    * probe-forever contract. Four tables under `prefix`:
    *
    *  - `<prefix>_postings` `(token, doc_id, tf, dl)` — BUCKETED (and
    *    bucket-sorted) by `token`, so a probe restricted to a query
    *    vocabulary reads ONLY the buckets those terms hash to
    *    (SelectedBucketsCount in the scan; BucketingSpec pins it) and
    *    any token-keyed join against the index is exchange-free.
    *  - `<prefix>_df` `(token, df)` — derived FROM the persisted
    *    postings (one bucket-local aggregate, no re-tokenize).
    *  - `<prefix>_doclen` `(doc_id, dl)` — for zero-score padding.
    *  - `<prefix>_stats` `(n_docs, sum_dl)` — exact long sums.
    *
    * Scale shape: the corpus is tokenized ONCE at build time; every
    * later probe touches |query-vocab| buckets of postings instead of
    * re-reading (and re-tokenizing) the text — the regime where the
    * fused-scoring plan of [[bm25TopK]] stops winning because its
    * cost is a full corpus scan per query batch. */
  def writeBm25Index(docs: DataFrame, idCol: String, textCol: String,
                     prefix: String, buckets: Int = 8): Unit = {
    val spark = docs.sparkSession
    val ws = TextFunctions.tokens(col(textCol))
    val base = docs.select(col(idCol).as("doc_id"), ws.as("ws"),
      size(ws).cast("long").as("dl"))
    val postings = base
      .select(col("doc_id"), col("dl"), explode(col("ws")).as("token"))
      .groupBy("token", "doc_id")
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    graft.sources.Sinks.writeBucketed(postings, s"${prefix}_postings",
      buckets, Seq("token"))
    // Everything else derives FROM the persisted postings, so the
    // corpus really is tokenized once: df = postings row count per
    // token (exchange-free under the token bucket layout); doclen =
    // per-doc max(dl) (every doc has >= 1 postings row — the Column
    // tokenizer emits the empty-string token for empty docs); stats
    // folds doclen.
    val p = spark.table(s"${prefix}_postings")
    graft.sources.Sinks.saveTableReplacing(
      p.groupBy("token").agg(count(lit(1)).as("df")), s"${prefix}_df")
    graft.sources.Sinks.saveTableReplacing(
      p.groupBy("doc_id").agg(max(col("dl")).as("dl")), s"${prefix}_doclen")
    graft.sources.Sinks.saveTableReplacing(
      spark.table(s"${prefix}_doclen")
        .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl")),
      s"${prefix}_stats")
  }

  /** BM25 top-`k` served from a persisted [[writeBm25Index]] —
    * result-identical to [[bm25TopK]] on the indexed corpus (same
    * scoring law, same per-term HALF_UP micro-unit quantization, same
    * ties). The probe never touches the corpus text: it joins the
    * broadcast query terms against the postings restricted to the
    * query vocabulary (a codegen'd IN on the bucket column → bucket
    * pruning: only |vocab| buckets are read), sums quantized
    * contributions per (query, doc), and takes the per-query top-k
    * via WindowGroupLimit. Documents containing NO query term all
    * score exactly 0 and rank among themselves by ascending id; they
    * are padded in (when a query has fewer than k positive docs) from
    * the 2k lowest ids of the doclen table — a bounded head, never a
    * corpus scan.
    *
    * CACHE NOTE: the returned frame pins a QUERY-SCOPED `cache()` on
    * its top-k subtree (≤ |Q|·k rows — it feeds three branches; see
    * the inline comment). The operator cannot unpersist it itself (the
    * return is lazy), so long-lived sessions sweeping many query sets
    * should `spark.catalog.clearCache()` between sweeps, as Bench
    * does. */
  def bm25TopKFromIndex(spark: org.apache.spark.sql.SparkSession,
                        prefix: String, queries: DataFrame, k: Int,
                        k1: Double = 1.2, b: Double = 0.75): DataFrame =
    probeBm25Index(spark, prefix, k, k1, b) { nDocs =>
      val qrows = collectQueries(queries)
      if (qrows.isEmpty) None
      else {
        import spark.implicits._
        val allTerms = qrows.flatMap(_._2).distinct
        val termsDf = termIdfs(qrows, nDocs, spark.table(s"${prefix}_df")
          .where(col("token").isInCollection(allTerms)))
          .toDF("query_id", "token", "idf")
        val joined = spark.table(s"${prefix}_postings")
          .where(col("token").isInCollection(allTerms))
          .join(broadcast(termsDf), "token")
        Some((joined, qrows.map(_._1).toDF("query_id")))
      }
    }

  /** The large-|Q| regime of [[bm25TopKFromIndex]]: queries stay a
    * DataFrame end-to-end — NOTHING is collected to the driver, so
    * millions of queries (hard-negative mining over a whole training
    * set) are one distributed plan instead of a driver-built literal.
    * Result-identical to [[bm25TopKFromIndex]] on the same queries:
    * same per-query term dedupe, and the same scoring, tie and
    * zero-padding body ([[probeBm25Index]]).
    *
    * Plan shape: explode+distinct the query terms, join the persisted
    * `_df` table for idf (token-keyed — absent tokens have no
    * postings, so the inner join is exact), then ONE token-keyed join
    * against the bucketed postings (exchange-free on the postings
    * side under the bucket layout), a (query, doc)-keyed
    * map-side-combined sum, and the WindowGroupLimit top-k. The
    * zero-score padding joins the distinct query ids against the
    * bounded 2k-lowest-doc-id head — |Q|·2k rows, distributed. No
    * `isInCollection` literal anywhere: the query vocabulary is data,
    * not plan.
    *
    * Cost law and the df cap: the postings join produces
    * Σ_t df(t)·qf(t) rows (qf = queries containing t) — in the
    * every-doc-is-a-query regime that is Σ_t df(t)², dominated by the
    * HEAD terms (stopwords): one term present in half the corpus
    * contributes N²/4 rows on its own. `maxDfFrac < 1.0` drops terms
    * with df > maxDfFrac·nDocs from scoring — an explicit
    * approximation (those terms have the SMALLEST idf, ≈ log(1 +
    * 1/maxDfFrac − 1 …) → e.g. ≈ 0.69 at df = N/2 vs ≈ 7+ for rare
    * terms), exactly equivalent to deleting those terms from every
    * query (each term's idf depends only on its own df, so remaining
    * contributions are bit-identical — spec-pinned). The default 1.0
    * keeps the plan and the results exact.
    *
    * Hot-term serialization and `saltChunks`: a token is ONE
    * indivisible hash key, so a head term's df·qf join rows land on a
    * single task — and AQE's skew-join split cannot help, because the
    * bucketed postings side is unsplittable. Measured on the 31-token
    * corpus: the whole sf0.1 bulk probe runs at ~1 core. `saltChunks
    * > 1` routes the join through [[ExplosiveJoin.saltedJoin]] with a
    * global salt of that width — postings hash into one of
    * `saltChunks` sub-keys by doc_id, query terms replicate over all
    * of them, every (query-term, posting) pair still meets
    * exactly once — spreading each hot term over `saltChunks` tasks
    * at the price of re-shuffling the postings (the bucket layout no
    * longer covers the salted key) and ×chunks query-term fan-out.
    * RESULTS are bit-identical (same joined pairs, same quantized
    * sums — spec-pinned); only the exchange shape changes.
    * `saltChunks = 1` pins the exchange-free bucket-riding plan —
    * right when the vocabulary is large enough that no single term
    * dominates. The default `saltChunks = 0` is AUTO: the engine
    * sizes the salt itself from the measured heaviest key,
    * `maxKeyRows = max_t df(t)·qf(t)` (one small sizing aggregate
    * over the deduped query terms joined to the `_df` stats — ~the
    * cost of the query-side explode, never the postings join), via
    * [[ExplosiveJoin.crossJoinPlanFromSizes]] (the
    * [[ExplosiveJoin.saltChunksFor]] law, salting only the measured-hot
    * terms, through the same [[ExplosiveJoin.saltedJoin]]). Corpora
    * whose heaviest key fits one task's
    * sort budget resolve to chunks = 1 — the gate corpora and any
    * Zipfian-truncated vocabulary keep the exact bucket-riding plan
    * with no caller intervention — while a head-term-dominated join
    * salts exactly as wide as its skew demands.
    *
    * EAGERNESS + CACHE NOTES: (a) the AUTO default (`saltChunks = 0`)
    * runs the sizing aggregate as an EAGER Spark job at
    * plan-construction time — memoized per (prefix, queries plan,
    * maxDfFrac) for the session, so repeated constructions size once;
    * pass `saltChunks >= 1` to keep this a fully lazy plan builder.
    * (b) Like [[bm25TopKFromIndex]], the returned frame pins a
    * query-scoped `cache()` on its top-k subtree (≤ |Q|·k rows);
    * long-lived sessions sweeping many query sets should
    * `spark.catalog.clearCache()` between sweeps. */
  def bm25TopKFromIndexBulk(spark: org.apache.spark.sql.SparkSession,
                            prefix: String, queries: DataFrame, k: Int,
                            k1: Double = 1.2, b: Double = 0.75,
                            maxDfFrac: Double = 1.0,
                            saltChunks: Int = 0): DataFrame =
    probeBm25Index(spark, prefix, k, k1, b) { nDocs =>
      // distinct PER QUERY — the same duplicate-term contract as the
      // driver-path termsDf and Bm25ScoresExpr.
      val qterms = queries
        .select(col("query_id").cast("long").as("query_id"),
          explode(col("terms")).as("token"))
        .distinct()
      // idf from the persisted df table: (nDocs - df + 0.5) stays in
      // the exact long domain until the +0.5, matching the driver
      // path's math.log(1.0 + (nDocs - df + 0.5) / (df + 0.5))
      // bit-for-bit. The df cap filters the vocab-sized _df side
      // BEFORE the fan-out join (only added when active, keeping the
      // default plan exact).
      val dfTable0 = spark.table(s"${prefix}_df")
      val dfTable = if (maxDfFrac < 1.0)
        dfTable0.where(col("df") <= lit(math.floor(maxDfFrac * nDocs).toLong))
      else dfTable0
      val qidf = qterms.join(dfTable, "token")
        .select(col("query_id"), col("token"),
          log(lit(1.0) + (lit(nDocs) - col("df") + lit(0.5)) /
            (col("df") + lit(0.5))).as("idf"))
      val postings = spark.table(s"${prefix}_postings")
      val plan = if (saltChunks == 0) {
        // AUTO: one sizing aggregate over PERSISTED stats — per-token
        // join volume qf·df, qf from the deduped query terms, df from
        // the (capped) index df table; dropped-by-cap terms produce no
        // join rows, so they are excluded from sizing too. The
        // postings corpus is never re-scanned for sizing — this is the
        // derive-from-persisted-stats path ExplosiveJoin.saltedJoin
        // exists for. Factors capped at 2^31 before the product: the
        // chunk decision saturates (64) at 256M rows anyway, and an
        // uncapped qf·df can exceed Long.MaxValue at extreme |Q|·N,
        // wrapping negative and silently disabling the salt exactly
        // where it matters most. Balance-aware + SELECTIVE since r12
        // (ExplosiveJoin.planFromPerKey): only measured-hot head terms
        // fan out; the long tail of informative terms pays zero
        // probe-side replication. MEMOIZED per (prefix, queries plan,
        // cap): repeated plan constructions of the same probe (Bench
        // reps, ScaleProbe repeats) size once per session — the sizing
        // job itself costs ~0.5 s/call at sf0.1 (r10 judge). No
        // unconditional skip when maxDfFrac < 1: capping df bounds one
        // FACTOR, not the product — a capped head term with
        // bulk-regime qf (≈|Q|) still yields df·qf ≫ one task's
        // budget, so the measurement stays.
        ExplosiveJoin.crossJoinPlanFromSizes(
          ("bm25bulk", prefix, maxDfFrac,
            queries.queryExecution.analyzed.canonicalized),
          qterms.groupBy("token").agg(count(lit(1)).as("qf"))
            .join(dfTable.select(col("token"), col("df")), "token"),
          Seq("token"), "qf", "df", spark.sparkContext.defaultParallelism)
      } else ExplosiveJoin.SaltPlan(saltChunks, Map.empty)
      val joined = if (plan.chunks > 1)
        ExplosiveJoin.saltedJoin(qidf, postings,
          keys = Seq("token"), buildHashCol = "doc_id", plan = plan)
      else postings.join(qidf, "token")
      Some((joined, queries.select(col("query_id").cast("long").as("query_id"))
        .distinct()))
    }

  /** The body both index probes share: `termsJoin(nDocs)` (not called
    * on an empty index) gives the query terms joined to the postings —
    * rows with `query_id`, `doc_id`, `idf`, `tf`, `dl` — and the query
    * ids to pad, or None for an empty query set. The per-term
    * contribution keeps Bm25ScoresExpr's arithmetic order and HALF_UP
    * law (Quantize is the single definition): ((idf·tf)·(k1+1)) /
    * (tf + k1·((1−b) + (b·dl)/avgdl)) · 1e6. */
  private def probeBm25Index(spark: org.apache.spark.sql.SparkSession,
                             prefix: String, k: Int, k1: Double, b: Double)(
      termsJoin: Long => Option[(DataFrame, DataFrame)]): DataFrame = {
    val statsRow = spark.table(s"${prefix}_stats").first()
    val nDocs = statsRow.getLong(0)
    val probe = if (nDocs == 0L) None else termsJoin(nDocs)
    if (probe.isEmpty)
      return spark.range(0).select(col("id").as("query_id"),
        col("id").as("doc_id"), col("id").as("rnk"),
        lit(0.0).as("score"))
    val (joined, qids) = probe.get
    val avgdl = statsRow.getLong(1).toDouble / nDocs
    val dln = lit(k1) * (lit(1.0 - b) + (lit(b) * col("dl")) / lit(avgdl))
    val li = graft.functions.Quantize.quantize(
      col("idf") * col("tf") * lit(k1 + 1.0) / (col("tf") + dln), 6)
    val scored = joined
      .select(col("query_id"), col("doc_id"), li.as("li"))
      .groupBy("query_id", "doc_id").agg(sum(col("li")).as("s"))
      .where(col("s") > 0L)
    val w = Window.partitionBy("query_id")
      .orderBy(col("s").desc, col("doc_id").asc)
    // cache(): topPos feeds THREE branches (the union's positive arm,
    // the pad anti-join, and the counts aggregate) — left lazy, the
    // postings probe + aggregate + WindowGroupLimit subtree executes
    // once per branch (ReusedExchange recovers the shuffles but not
    // the post-shuffle window work; at bulk |Q| that triples the
    // dominant postings join). The frame is ≤ |Q|·k rows; query-scoped
    // (see the CACHE NOTE of bm25TopKFromIndex).
    val topPos = scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .cache()

    // Zero-score padding: candidates are the 2k lowest doc ids — at
    // most k of them can be occupied by this query's positive top-k,
    // so at least k remain for the by-id zero tail. All frames here
    // are ≤ 2k·|Q| rows.
    val counts = topPos.groupBy("query_id").agg(count(lit(1)).as("c"))
    val lowIds = spark.table(s"${prefix}_doclen")
      .select(col("doc_id")).orderBy(col("doc_id").asc).limit(2 * k)
    val wp = Window.partitionBy("query_id").orderBy(col("doc_id").asc)
    val pads = qids.crossJoin(broadcast(lowIds))
      .join(topPos.select(col("query_id"), col("doc_id")),
        Seq("query_id", "doc_id"), "left_anti")
      .join(counts, Seq("query_id"), "left").na.fill(0L, Seq("c"))
      .withColumn("pr", row_number().over(wp).cast("long"))
      .where(col("c") + col("pr") <= k)
      .select(col("query_id"), col("doc_id"),
        (col("c") + col("pr")).as("rnk"), lit(0L).as("s"))
    topPos.select(col("query_id"), col("doc_id"), col("rnk"), col("s"))
      .union(pads)
      .select(col("query_id"), col("doc_id"), col("rnk"),
        graft.functions.Quantize.dequantize(col("s"), 6).as("score"))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) of N ranked lists:
    * `score(q,d) = Σ_lists 1/(c + rank)`, missing entries contribute
    * nothing. Per-list contributions are quantized to nano-units
    * (`round(1e9/(c+rank))` as long) before the distributed sum, so
    * fusion is order- and partitioning-independent; ties break to the
    * lower doc id. Inputs are `(query_id, <id>, rnk)` frames (any
    * retriever: BM25, ANN, overlap). Scale shape: a union of the
    * (already top-k-bounded) lists + one map-side-combined aggregate
    * + a WindowGroupLimit top-k — the fusion never touches the
    * corpus, only the candidate lists. */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String, k: Int,
              c: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    val u = rankings.map(_.select(col("query_id"), col(idCol), col("rnk")))
      .reduce(_ union _)
    val scored = u
      .select(col("query_id"), col(idCol),
        round(lit(1e9) / (lit(c.toLong) + col("rnk")), 0).cast("long").as("li"))
      .groupBy("query_id", idCol)
      .agg(sum(col("li")).as("s"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("s").desc, col(idCol).asc)
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select(col("query_id"), col(idCol), col("rnk"),
        graft.functions.Quantize.dequantize(col("s"), 9).as("rrf_score"))
  }
}
