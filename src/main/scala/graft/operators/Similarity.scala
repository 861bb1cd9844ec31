package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (array<float|double>).
  *
  * Baseline: exact brute-force cosine top-k — broadcast the (small)
  * query set against the corpus, dot products via the native Catalyst
  * expression, then a rank window whose `rk <= k` filter Spark rewrites
  * into WindowGroupLimit: map-side partial top-k before the exchange,
  * final top-k after. The shuffle carries ~k rows per partition per
  * query instead of the whole corpus — the difference between a working
  * plan and a dead one at 100 TB.
  *
  * Scale path: random-hyperplane LSH bucketing ([[hyperplaneBucketLcg]]) —
  * an IVF-style coarse quantization; probing only the query's bucket
  * cuts the candidate set by ~2^bits at a recall cost, and the bucket
  * join is an equijoin (shuffle on bucket id, broadcast-able query side).
  */
object Similarity {

  /** Cosine similarity of two array<double> columns (not normalized).
    * Native dot-product expression: sequential summation order, so
    * results are bit-identical to the interpreted `aggregate(zip_with)`
    * form and DuckDB's list_sum — at ~30× the throughput. */
  def cosine(a: Column, b: Column): Column = {
    import graft.functions.NativeExprs.dotNative
    dotNative(a, b) / (sqrt(dotNative(a, a)) * sqrt(dotNative(b, b)))
  }

  /** Exact brute-force cosine top-k.
    * @param queries  small DataFrame (broadcast) with (qidCol, vecCol)
    * @param corpus   large DataFrame with (idCol, vecCol)
    * @return (qid, id, rk, sim) with rk in 1..k per query;
    *         sim rounded to 9 dp for deterministic cross-engine ranking. */
  def cosineTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                 qidCol: String = "qid", idCol: String = "id",
                 vecCol: String = "vec"): DataFrame = {
    val q = queries.select(col(qidCol).as("qid"), col(vecCol).cast("array<double>").as("qv"))
    val c = corpus.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("cv"))
    val scored = c.crossJoin(broadcast(q))
      .where(col("id") =!= col("qid"))
      .withColumn("sim", round(cosine(col("qv"), col("cv")), 9))
      .select("qid", "id", "sim")
    // Single rank window: Spark's WindowGroupLimit rewrites rk<=k into a
    // map-side partial top-k before the exchange + final top-k after —
    // the two-phase plan for free, so only ~numPartitions*k rows per
    // query cross the shuffle.
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("id"))
    scored.withColumn("rk", row_number().over(w)).where(col("rk") <= k)
      .select("qid", "id", "rk", "sim")
  }

  /** Random-hyperplane LSH bucket id (IVF-style coarse cell) for a
    * vector column: `bits` pseudo-random hyperplanes; bit j is the sign
    * of <v, h_j>. Hyperplane components come from a Lehmer LCG on
    * (seed, j, dim index) — no RNG state, identical across executors,
    * and pure BIGINT arithmetic, so DuckDB can reproduce the buckets.
    * Native expression: the Column form is a bits×dim interpreted term
    * tree per row. */
  def hyperplaneBucketLcg(vec: Column, bits: Int, seed: Long = 42L): Column =
    graft.functions.NativeExprs.hyperplaneBucketLcgNative(vec.cast("array<double>"), bits, seed)

  /** IVF-flat ANN: an inverted-file index with a deterministic sampled
    * coarse quantizer. Centroids are the `nCells` lowest-id corpus
    * vectors (the classic cheap untrained quantizer — swap in trained
    * centroids without changing any plan shape). Every corpus vector is
    * assigned to its nearest centroid by cosine (the inverted lists);
    * a query probes its `nprobe` nearest cells and reranks candidates
    * exactly.
    *
    * Scale notes: the centroid table is `nCells` rows — always
    * broadcast, so assignment is a broadcast join + WindowGroupLimit
    * top-1 (map-side partial argmax). Assignment is an INDEX BUILD —
    * at 100 TB it runs once and persists bucketed by cell
    * ([[graft.sources.Sinks.writeBucketed]]), after which every probe
    * is a shuffle-free bucket lookup + the same two-phase rerank as
    * [[cosineTopK]]. Ties break deterministically on (sim desc,
    * centroid id), so the cells are oracle-reproducible. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int, nCells: Int,
              nprobe: Int = 2, qidCol: String = "qid", idCol: String = "id",
              vecCol: String = "vec"): DataFrame = {
    require(nCells > 0 && nprobe > 0, "nCells and nprobe must be positive")
    val c = corpus.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("cv"))
    val cent = c.orderBy(col("id")).limit(nCells)
      .select(col("id").as("cent_id"), col("cv").as("centv"))
    ivfWithCentroids(queries, c, cent, k, nprobe, qidCol, vecCol)
  }

  /** IVF-flat with a TRAINED coarse quantizer: k-means cells
    * ([[Clustering.kmeansCentroids]]) instead of sampled corpus
    * vectors — better-balanced inverted lists (lower tail latency and
    * higher recall at the same `nprobe` when the corpus is clustered).
    * Identical plan shape: the trained table is still `nCells` rows,
    * still broadcast; training itself is `iters` corpus scans, run
    * once at index-build time. */
  def ivfTopKTrained(queries: DataFrame, corpus: DataFrame, k: Int, nCells: Int,
                     nprobe: Int = 2, iters: Int = 2,
                     qidCol: String = "qid", idCol: String = "id",
                     vecCol: String = "vec"): DataFrame = {
    require(nCells > 0 && nprobe > 0, "nCells and nprobe must be positive")
    val cent = Clustering.kmeansCentroids(corpus, idCol, vecCol, nCells, iters)
      .select(col("cid").cast("long").as("cent_id"), col("c").as("centv"))
    val c = corpus.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("cv"))
    ivfWithCentroids(queries, c, cent, k, nprobe, qidCol, vecCol)
  }

  /** Coarse IVF cell assignment, shared by [[ivfTopK]] and the IVF-PQ
    * composition ([[ProductQuant.ivfAdcTopK]]): each corpus vector goes
    * to its nearest of the first `nCells` corpus vectors by 9-dp
    * cosine, ties to the smaller centroid id — the same
    * oracle-reproducible rule the knn_ivf gate pins. Returns
    * (id, cell); the centroid table is nCells rows, always broadcast. */
  def assignCells(corpus: DataFrame, idCol: String, vecCol: String,
                  nCells: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("cv"))
    val cent = c.orderBy(col("id")).limit(nCells)
      .select(col("id").as("cent_id"), col("cv").as("centv"))
    val wAsg = Window.partitionBy("id").orderBy(col("csim").desc, col("cent_id"))
    c.crossJoin(broadcast(cent))
      .withColumn("csim", round(cosine(col("cv"), col("centv")), 9))
      .withColumn("crk", row_number().over(wAsg)).where(col("crk") === 1)
      .select(col("id"), col("cent_id").as("cell"))
  }

  private def ivfWithCentroids(queries: DataFrame, c: DataFrame, cent: DataFrame,
                               k: Int, nprobe: Int, qidCol: String,
                               vecCol: String): DataFrame = {
    val wAsg = Window.partitionBy("id").orderBy(col("csim").desc, col("cent_id"))
    val assigned = c.crossJoin(broadcast(cent))
      .withColumn("csim", round(cosine(col("cv"), col("centv")), 9))
      .withColumn("crk", row_number().over(wAsg)).where(col("crk") === 1)
      .select(col("id"), col("cv"), col("cent_id").as("cell"))
    val q = queries.select(col(qidCol).as("qid"), col(vecCol).cast("array<double>").as("qv"))
    val wPr = Window.partitionBy("qid").orderBy(col("psim").desc, col("cent_id"))
    val probes = q.crossJoin(broadcast(cent))
      .withColumn("psim", round(cosine(col("qv"), col("centv")), 9))
      .withColumn("prk", row_number().over(wPr)).where(col("prk") <= nprobe)
      .select(col("qid"), col("qv"), col("cent_id").as("cell"))
    // cells partition the corpus (each vector lives in exactly one), so
    // the probe join produces no duplicate candidates by construction
    val wTop = Window.partitionBy("qid").orderBy(col("sim").desc, col("id"))
    assigned.join(broadcast(probes), "cell")
      .where(col("id") =!= col("qid"))
      .withColumn("sim", round(cosine(col("qv"), col("cv")), 9))
      .withColumn("rk", row_number().over(wTop)).where(col("rk") <= k)
      .select("qid", "id", "rk", "sim")
  }

  /** Persist the IVF index: the `nCells`-row centroid table plus the
    * cell-assigned corpus written BUCKETED BY CELL. This is the
    * similarity tier's analogue of [[Dedup.writeDigestIndex]] — index
    * once, probe forever: [[ivfTopKFromIndex]] reads both tables with
    * the corpus side exchange-free (a large probe set shuffle-joins on
    * `cell` against the bucket layout; a small one broadcasts), so the
    * embedding corpus is assigned, shuffled, and laid out exactly once
    * at build time no matter how many query batches follow. Cell
    * assignment is the same 9-dp-cosine / min-cent-id law as
    * [[ivfTopK]], so serving from the index is result-identical to
    * the inline path. */
  def writeIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
                    nCells: Int, centTable: String, asgTable: String,
                    buckets: Int): Unit = {
    require(nCells > 0, "nCells must be positive")
    val c = corpus.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("cv"))
    val cent = c.orderBy(col("id")).limit(nCells)
      .select(col("id").as("cent_id"), col("cv").as("centv"))
    val spark = corpus.sparkSession
    graft.sources.Sinks.saveTableReplacing(cent, centTable)
    val wAsg = Window.partitionBy("id").orderBy(col("csim").desc, col("cent_id"))
    val assigned = c.crossJoin(broadcast(spark.table(centTable)))
      .withColumn("csim", round(cosine(col("cv"), col("centv")), 9))
      .withColumn("crk", row_number().over(wAsg)).where(col("crk") === 1)
      .select(col("id"), col("cv"), col("cent_id").as("cell"))
    graft.sources.Sinks.writeBucketed(assigned, asgTable, buckets, Seq("cell"))
  }

  /** IVF top-k served from a persisted [[writeIvfIndex]]: probe the
    * (tiny, broadcast) centroid table for each query's `nprobe`
    * nearest cells, then rerank exactly inside those cells of the
    * bucketed assignment table. Result-identical to [[ivfTopK]] on
    * the same corpus. */
  def ivfTopKFromIndex(queries: DataFrame, centTable: DataFrame,
                       asgTable: DataFrame, k: Int, nprobe: Int = 2,
                       qidCol: String = "qid", vecCol: String = "vec"): DataFrame = {
    require(k > 0 && nprobe > 0, "k and nprobe must be positive")
    val q = queries.select(col(qidCol).as("qid"), col(vecCol).cast("array<double>").as("qv"))
    val wPr = Window.partitionBy("qid").orderBy(col("psim").desc, col("cent_id"))
    val probes = q.crossJoin(broadcast(centTable))
      .withColumn("psim", round(cosine(col("qv"), col("centv")), 9))
      .withColumn("prk", row_number().over(wPr)).where(col("prk") <= nprobe)
      .select(col("qid"), col("qv"), col("cent_id").as("cell"))
    val wTop = Window.partitionBy("qid").orderBy(col("sim").desc, col("id"))
    // No broadcast hint on the probe side: unlike the inline path's
    // per-run frame, the probe set here is unbounded by contract (the
    // index exists precisely to serve BIG query batches). A small
    // batch auto-broadcasts; a large one shuffle-joins on cell with
    // the assignment table exchange-free under its bucket layout.
    asgTable.join(probes, "cell")
      .where(col("id") =!= col("qid"))
      .withColumn("sim", round(cosine(col("qv"), col("cv")), 9))
      .withColumn("rk", row_number().over(wTop)).where(col("rk") <= k)
      .select("qid", "id", "rk", "sim")
  }

  /** ANN top-k via hyperplane buckets: candidates share the query's
    * bucket; exact cosine rerank inside the bucket. Lower recall than
    * [[cosineTopK]]; bounded cost. Buckets come from
    * [[hyperplaneBucketLcg]].
    *
    * `bits <= 0` (the default) derives the bucket granularity from the
    * corpus count via [[Dedup.lshBitsFor]] — no similarity entry point
    * ships a fixed-bucket default (a pinned bit count makes per-bucket
    * rerank cost grow linearly with the corpus). The derivation counts
    * the corpus at call time — an extra scan when it's an uncached
    * plan; pass `corpusCount` if the caller already knows it. */
  def annTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              bits: Int = 0, qidCol: String = "qid", idCol: String = "id",
              vecCol: String = "vec", corpusCount: Long = 0L): DataFrame = {
    val nBits = if (bits > 0) bits
      else Dedup.lshBitsFor(if (corpusCount > 0) corpusCount else corpus.count())
    val q = queries.select(col(qidCol).as("qid"), col(vecCol).cast("array<double>").as("qv"))
      .withColumn("bkt", hyperplaneBucketLcg(col("qv"), nBits))
    val c = corpus.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("cv"))
      .withColumn("bkt", hyperplaneBucketLcg(col("cv"), nBits))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("id"))
    c.join(broadcast(q), "bkt")
      .where(col("id") =!= col("qid"))
      .withColumn("sim", round(cosine(col("qv"), col("cv")), 9))
      .withColumn("rk", row_number().over(w)).where(col("rk") <= k)
      .select("qid", "id", "rk", "sim")
  }

  /** Johnson–Lindenstrauss random projection of an embedding column to
    * `dims` dimensions (Lehmer-LCG directions — deterministic, seeded,
    * regenerable by any engine, no matrix to broadcast or store). The
    * payload-shrinking step ahead of ANN / clustering / dedup at scale:
    * one narrow map, no shuffle, codegen native expression. */
  def randomProject(df: DataFrame, idCol: String, vecCol: String,
                    dims: Int, seed: Long = 42L): DataFrame = {
    import graft.functions.NativeExprs.randomProjectionLcgNative
    require(dims >= 1, s"dims=$dims")
    df.select(col(idCol), randomProjectionLcgNative(
      col(vecCol).cast("array<double>"), dims, seed).as("proj"))
  }

  /** Approximate k-NN JOIN: every row's top-`k` cosine neighbors among
    * the corpus rows it shares a multi-table hyperplane-LSH bucket with
    * — the semantic-dedup / cluster-seed primitive ("for each doc, its
    * k closest docs"), where [[annTopK]] serves a small probe set.
    *
    * Scale shape: candidates come from `tables` independent (tbl,
    * bucket) equijoins — never all pairs; `bits <= 0` derives bucket
    * granularity from the corpus count ([[Dedup.lshBitsFor]]) so
    * density stays ~flat as data grows, and `maxBucketSize` anti-joins
    * away degenerate buckets as the quadratic backstop. The per-row
    * top-k is a rank window whose `rk <= k` filter Spark rewrites into
    * WindowGroupLimit: map-side partial top-k before the exchange, so
    * the shuffle carries ~k candidates per row, not every candidate.
    * Ranking orders by the 6-dp-rounded sim with id as tie-break, so
    * ranks are deterministic cross-engine.
    *
    * `chunks = 0` (default) sizes the candidate join's salt width
    * from the bucket-size histogram the cap filter already computes
    * ([[ExplosiveJoin.selfJoinPlanFromSizes]] — one aggregate over
    * the cached bucket frame, session-memoized, NEVER a second
    * corpus scan; still eager at plan construction); pass
    * `chunks >= 1` to pin it and stay lazy. */
  def annSelfTopK(df: DataFrame, k: Int, idCol: String = "id",
                  vecCol: String = "vec", tables: Int = 3, bits: Int = 0,
                  seed: Long = 42L,
                  maxBucketSize: Int = Int.MaxValue,
                  chunks: Int = 0,
                  corpusCount: Long = 0L): DataFrame = {
    import graft.functions.NativeExprs.{dotNative, hyperplaneBucketLcgNative}
    require(chunks >= 0, s"chunks=$chunks (0 = AUTO)")
    val nBits = if (bits > 0) bits
      else Dedup.lshBitsFor(if (corpusCount > 0) corpusCount else df.count())
    // Vectors (plus precomputed norm) RIDE THE BUCKET EXPLODE — n×tables
    // rows with payload — and the cosine is computed inside the bucket
    // join's projection, so candidate rows leave the join as narrow
    // (qid, nid, sim) triples. The alternative (distinct id pairs, then
    // two vector equijoins) shuffles every candidate WITH two vector
    // payloads: fine while one side still broadcasts, a cliff the
    // moment the corpus outgrows the broadcast threshold.
    val v = df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(dotNative(col("v"), col("v"))))
    val buckets = array((0 until tables).map(t =>
      struct(lit(t).as("tbl"),
        hyperplaneBucketLcgNative(col("v"), nBits, seed + t).as("bkt"))): _*)
    // cache(): the norm + hyperplane-bucket derivation is the
    // expensive part and FOUR consumers read this frame — the cap
    // aggregate, the AUTO sizing job's two per-key counts, and the
    // candidate join itself. Query-scoped (same contract as
    // fingerprintJaccardPairs): long-lived sessions sweeping many
    // corpora should spark.catalog.clearCache() between sweeps.
    val tabled = v.select(col("id"), col("v"), col("nrm"), explode(buckets).as("tb"))
      .select(col("id"), col("v"), col("nrm"),
        col("tb.tbl").as("tbl"), col("tb.bkt").as("bkt"))
      .cache()
    // ONE bucket-size histogram serves the cap AND the salt sizing
    // (the derive-from-stats path — sizing never re-scans the corpus).
    val sizes = tabled.groupBy("tbl", "bkt").agg(count(lit(1)).as("bsz"))
    val capped =
      if (maxBucketSize == Int.MaxValue) tabled
      else tabled.join(
        broadcast(sizes.where(col("bsz") > maxBucketSize).select("tbl", "bkt")),
        Seq("tbl", "bkt"), "left_anti")
    // This join is OUTPUT-EXPLOSIVE: its shuffle input is n×tables
    // payload rows but its output is sum-of-bucket-size² candidates —
    // Dedup-family-wide countermeasures live in
    // [[graft.operators.ExplosiveJoin]] (measured here: 16 s -> 2.6 s
    // warm at 20k vectors / 32 cores).
    val a = capped.select(col("id").as("qid"), col("v").as("qv"),
      col("nrm").as("qn"), col("tbl"), col("bkt"))
    val b = capped.select(col("id").as("nid"), col("v").as("nv"),
      col("nrm").as("nn"), col("tbl"), col("bkt"))
    // DIRECTED pairs (both orientations) — each row ranks its own
    // neighbor list. A pair colliding in several tables scores in each
    // (the native dot is cheaper than shuffling payloads to dedup
    // first) — producing IDENTICAL (sim, nid) copies, so dense_rank
    // ranks exactly as row_number over the distinct list would, a
    // WindowGroupLimit still prunes to ~k per partition map-side, and
    // the post-rank distinct touches only ~k rows per query. (An
    // explicit pre-rank groupBy(qid, nid) dedup measured 2-3x slower:
    // a corpus-of-candidates-sized hash aggregation for copies the
    // rank collapses for free.)
    val plan = if (chunks == 0) graft.operators.ExplosiveJoin.selfJoinPlanFromSizes(
        ("annSelfTopK", tabled.queryExecution.analyzed.canonicalized, maxBucketSize),
        if (maxBucketSize == Int.MaxValue) sizes
        else sizes.where(col("bsz") <= maxBucketSize),
        Seq("tbl", "bkt"), "bsz", df.sparkSession.sparkContext.defaultParallelism)
      else graft.operators.ExplosiveJoin.SaltPlan(chunks, Map.empty)
    val scored = graft.operators.ExplosiveJoin
      .saltedJoin(a, b, Seq("tbl", "bkt"), "nid", plan)
      .where(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        round(dotNative(col("qv"), col("nv")) / (col("qn") * col("nn")), 6)
          .as("sim"))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("nid"))
    scored
      .withColumn("rk", dense_rank().over(w)).where(col("rk") <= k)
      .distinct()
      .select("qid", "nid", "rk", "sim")
  }
}
