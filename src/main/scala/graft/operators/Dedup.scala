package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
import graft.functions.TextFunctions._

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Scale design principles (the 100 TB contract):
  *  - Exact dedup is a single hash-shuffle on a 16-byte digest, never
  *    on the full text.
  *  - Near-dup never does an all-pairs join: candidates come from
  *    LSH-bucket equijoins (shuffle on bucket key), and only candidates
  *    are verified exactly. Bucket skew is capped (`maxBucketSize`) so
  *    one degenerate bucket can't go quadratic.
  *  - All hashing is builtin (murmur3/xxhash64/md5) Column expressions —
  *    codegen'd, no UDF boxing on the hot path.
  */
object Dedup {

  /** Exact dedup on a digest of `textCol`: one representative (min id)
    * per distinct text + the duplicate count. Shuffles 16-byte digests,
    * not documents. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("h"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n"))

  /** Rows of `df` minus exact duplicates (keeps the min-id row). */
  def dropExactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = exact(df, idCol, textCol).select(col("keep_id").as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** Attach MinHash signature: (idCol, sig array<long>). The signature
    * is hashed straight from the text ([[graft.functions.NativeExprs
    * .MinHashSigTextExpr]]): byte windows, no shingle array
    * materialized, no interpreted substr-per-window transform — the
    * interpreted HOF form costs H × |shingles| expression-tree walks
    * per row, the shingle-array native form still one substr
    * allocation per window. */
  def withMinhash(df: DataFrame, idCol: String, textCol: String,
                  numHashes: Int = 128, shingleK: Int = 8): DataFrame =
    Repartition.forCompute(df).select(col(idCol),
      graft.functions.NativeExprs.minhashSigTextNative(col(textCol), shingleK, numHashes).as("sig"))

  /** LSH candidate pairs (id_a < id_b) from banding the signature.
    * One explode + one shuffle on (band, bucket); per-bucket pair
    * generation is a self-join of bucket members. `maxBucketSize` drops
    * degenerate buckets (boilerplate text) that would go quadratic —
    * standard practice, logged by the caller if needed. */
  def lshCandidates(sigDf: DataFrame, idCol: String,
                    bands: Int = 32, rowsPerBand: Int = 4,
                    maxBucketSize: Int = 1000): DataFrame = {
    val banded = sigDf
      .select(col(idCol), explode(lshBands(col("sig"), bands, rowsPerBand)).as("bb"))
      .select(col(idCol), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    pairsFromBanded(banded, idCol, maxBucketSize)
  }

  /** The bucket-join half of [[lshCandidates]], shared with the fused
    * text→bands path: (id, band, bucket) rows → verified-candidate
    * pairs. */
  private def pairsFromBanded(banded: DataFrame, idCol: String,
                              maxBucketSize: Int): DataFrame = {
    // The double-explode downstream of this aggregate is
    // OUTPUT-EXPLOSIVE (bucket rows in, bucket-size² pairs out), so the
    // aggregate's exchange is pinned to an explicit partition count:
    // AQE would otherwise size it by the modest (band, bucket) byte
    // volume and run the quadratic expansion in a handful of tasks.
    val parts = ExplosiveJoin.pinnedParts(banded)
    val small = banded
      .repartition(parts, col("band"), col("bucket"))
      .groupBy("band", "bucket")
      .agg(collect_list(col(idCol)).as("ids"))
      .where(size(col("ids")).between(2, maxBucketSize))
    small
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .where(col("id_a") < col("id_b"))
      .distinct()
  }

  /** MinHash near-dup pairs: LSH candidates verified with exact shingle
    * Jaccard >= `threshold`. Joins back to the (small relative to text)
    * shingle sets only for candidate ids.
    *
    * Banding is the recall/cost dial: detection probability is
    * 1-(1-j^r)^b with S-curve midpoint (1/b)^(1/r). The 32×4 default
    * centers at j ≈ 0.42: recall ≈ 0.99 at j = 0.6, ≈ 1 at j >= 0.7
    * (the usual dedup range), but only ~0.4 at j = 0.35 — for very low
    * thresholds use more bands of fewer rows (e.g. 64×2, midpoint
    * 0.125) and expect a much larger candidate join: corpora with a
    * shared vocabulary collide constantly on 2-hash bands. Exact
    * verification removes every false positive and `maxBucketSize`
    * caps degenerate buckets, so precision is always 1.0 — banding
    * only trades recall against candidate-join cost.
    *
    * NOT lazy: constructing the result runs one Spark job (an eager
    * checkpoint of the candidate-pair frame, which both output
    * branches reuse). */
  def minhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          threshold: Double, numHashes: Int = 128,
                          bands: Int = 32, rowsPerBand: Int = 4,
                          shingleK: Int = 8): DataFrame = {
    // Fused text→band-buckets native pass: the signature and its
    // banding happen inside ONE expression, so no (id, 128-long)
    // signature table exists to cache, re-read, or re-shuffle — the
    // stage chain is scan → posexplode(bands longs) → ONE (band,
    // bucket) shuffle. (The former shape cached the sig frame to stop
    // projection collapse re-computing it per band; fusing removes the
    // problem instead of caching around it.)
    val banded = bandRows(df, idCol, textCol, numHashes, bands, rowsPerBand,
      shingleK, outIdCol = idCol)
    // cache() + eager count(): the pair frame feeds BOTH the
    // semi-join's probe side and the verify join spine — left lazy,
    // one cold run schedules the whole candidate chain (banding
    // shuffle + the heavy pair distinct) once per branch before the
    // cache fills; the count materializes it exactly once. NOT
    // localCheckpoint(true), though that would free the caller from
    // the cache pin: an eager checkpoint rewrites the frame into a
    // stats-less LogicalRDD (sizeInBytes falls back to
    // spark.sql.defaultSizeInBytes), and the downstream semi-join +
    // two pair joins all plan against that worst-case estimate —
    // measured 2.5x slower at sf0.1 and 14x (13 s -> 191 s) at sf1.
    // The cache is QUERY-SCOPED state: long-lived sessions issuing
    // many near-dup sweeps should spark.catalog.clearCache() between
    // them (as Bench does) or uncache via the plan's InMemoryRelation.
    val cands = pairsFromBanded(banded, idCol, maxBucketSize = 1000).cache()
    cands.count()
    // Exact-verify ONLY the candidates: a semi-join trims the corpus to
    // candidate ids first, then the pair joins carry the ~L-byte TEXT —
    // not the ~8L-byte shingle array — and the jaccard is computed
    // per pair inside the join projection (JaccardTextsExpr, identical
    // values). On dup-dense corpora the candidate set is output-sized
    // (millions of pairs), so join payload width IS the stage cost:
    // text-joins move ~an order of magnitude fewer shuffle bytes than
    // shingle-set joins for k=8.
    // no distinct: left_semi dedups the probe side by construction
    val candIds = cands.select(explode(array(col("id_a"), col("id_b"))).as(idCol))
    val txt = df.join(candIds, Seq(idCol), "left_semi")
      .select(col(idCol), col(textCol))
    val ta = txt.select(col(idCol).as("id_a"), col(textCol).as("__ta"))
    val tb = txt.select(col(idCol).as("id_b"), col(textCol).as("__tb"))
    cands.join(ta, "id_a").join(tb, "id_b")
      .withColumn("jaccard", round(
        graft.functions.NativeExprs.jaccardTextsNative(col("__ta"), col("__tb"), shingleK), 6))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Exact n-gram (token-set) Jaccard pairs, blocked on a cheap
    * fingerprint (1-perm MinHash) so the join is an equijoin, not a
    * cross join. Finds pairs sharing their minimum shingle — a
    * high-recall blocking key for strong near-dups.
    *
    * @param maxBlockSize drop fingerprint blocks larger than this
    *   before pairing (quadratic within a block — a boilerplate
    *   min-shingle shared by 10^6 docs must not generate 10^12 pairs).
    *   Unlimited by default; set it in production sweeps. */
  def fingerprintJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                              shingleK: Int = 8,
                              maxBlockSize: Int = Int.MaxValue): DataFrame = {
    // cached: both join sides derive from it, and the md5-per-shingle
    // fingerprint is the expensive part. The frame carries the raw
    // TEXT, not a token array: block pairs are output-sized (millions
    // on dup-dense corpora), so the block join's payload width is the
    // stage cost — the token-set jaccard is computed per pair inside
    // the join projection (JaccardTokenSetsExpr, identical values).
    val f0 = Repartition.forCompute(df)
      .select(col(idCol), minhashFingerprint(col(textCol), shingleK).as("fp"),
        col(textCol).as("__t")).cache()
    // ONE block-size histogram serves BOTH the oversized-block cap and
    // the salt sizing (map-side-combined on 16-byte fps, reads the
    // cached frame). Cap as a broadcast ANTI-join against the OVERSIZED
    // blocks: blocks past the cap are few by construction (only
    // degenerate boilerplate exceeds it), so the blocked-fp list is
    // broadcastable at any corpus size — the big table is never
    // shuffled for the cap.
    val sizes = f0.groupBy("fp").agg(count(lit(1)).as("bsz"))
    val f =
      if (maxBlockSize == Int.MaxValue) f0
      else f0.join(
        broadcast(sizes.where(col("bsz") > maxBlockSize).select("fp")),
        Seq("fp"), "left_anti")
    // The block join is OUTPUT-EXPLOSIVE (input = corpus rows, output =
    // sum-of-block-size² pairs with two text payloads) — the
    // ExplosiveJoin countermeasures apply. The salt plan derives from
    // the histogram above (per-block pairs = bsz², capped blocks
    // excluded — they produce no join rows), NOT from autoSaltPlan's
    // two-sided re-aggregation: at 100 TB sizing must ride stats the
    // plan computes anyway, never a second corpus scan.
    val a = f.select(col(idCol).as("id_a"), col("fp"), col("__t").as("__ta"))
    val b = f.select(col(idCol).as("id_b"), col("fp"), col("__t").as("__tb"))
    val plan = ExplosiveJoin.selfJoinPlanFromSizes(
      ("fpJaccard", f0.queryExecution.analyzed.canonicalized, maxBlockSize),
      if (maxBlockSize == Int.MaxValue) sizes
      else sizes.where(col("bsz") <= maxBlockSize),
      Seq("fp"), "bsz", df.sparkSession.sparkContext.defaultParallelism)
    ExplosiveJoin.saltedJoin(a, b, Seq("fp"), "id_b", plan)
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(graft.functions.NativeExprs.jaccardTokenSetsNative(
          col("__ta"), col("__tb")), 6).as("jaccard"))
  }

  /** Cross-corpus near-dup pairs: documents of `left` vs documents of
    * `right` sharing a fingerprint block, exact token-Jaccard verified.
    * The incremental-ingest primitive: `left` = today's crawl, `right`
    * = the standing corpus — only cross pairs are generated (never
    * within-side pairs), so a daily sweep costs O(new × collision
    * rate), not another full-corpus O(n²) pass. The block cap counts
    * the COMBINED (left + right) block population, bounding the cross
    * product of any degenerate key at cap²/4.
    *
    * ARGUMENT ORDER MATTERS AT SCALE: `left` is the side the explosive
    * block join REPLICATES over its sub-chunks — pass the SMALLER
    * corpus (the probe / today's crawl) as `left` and the large
    * standing corpus as `right`, or the sweep silently pays chunks×
    * replication of the big side.
    */
  def crossCorpusJaccardPairs(left: DataFrame, right: DataFrame,
                              idCol: String, textCol: String,
                              shingleK: Int = 8,
                              maxBlockSize: Int = Int.MaxValue): DataFrame = {
    def prep(df: DataFrame, side: String): DataFrame =
      Repartition.forCompute(df).select(
        col(idCol).as(s"id_$side"),
        minhashFingerprint(col(textCol), shingleK).as("fp"),
        col(textCol).as(s"__t$side"))
    val a0 = prep(left, "a").cache()
    val b0 = prep(right, "b").cache()
    // ONE joint per-side histogram (two map-side-combined aggregates
    // on 16-byte fps, full-outer joined) serves BOTH the combined
    // block-size cap (ca + cb > maxBlockSize, exactly the union count
    // the cap is defined on) and the salt sizing (per-key pairs =
    // ca·cb, capped keys and one-sided keys excluded — neither
    // produces join rows). This replaces what was a union-histogram
    // pass for the cap PLUS autoSaltPlan's two-sided re-aggregation
    // for the salt: at 100 TB sizing must ride stats the plan computes
    // anyway, never a second corpus scan.
    val joint = a0.groupBy("fp").agg(count(lit(1)).as("__ca"))
      .join(b0.groupBy("fp").agg(count(lit(1)).as("__cb")), Seq("fp"), "full_outer")
      .select(col("fp"), coalesce(col("__ca"), lit(0L)).as("__ca"),
        coalesce(col("__cb"), lit(0L)).as("__cb"))
    val capped =
      if (maxBlockSize == Int.MaxValue) joint
      else joint.where(col("__ca") + col("__cb") <= maxBlockSize)
    val (aT, bT) =
      if (maxBlockSize == Int.MaxValue) (a0, b0)
      else {
        // Cap as a broadcast ANTI-join against the few OVERSIZED keys
        // (degenerate boilerplate only) — the corpora are never
        // shuffled for the cap.
        val blocked = joint.where(col("__ca") + col("__cb") > maxBlockSize)
          .select("fp")
        (a0.join(broadcast(blocked), Seq("fp"), "left_anti"),
          b0.join(broadcast(blocked), Seq("fp"), "left_anti"))
      }
    // Output-explosive block join -> ExplosiveJoin countermeasures;
    // the probe/new (`left`) side is the replicated one — it is the
    // smaller corpus in the daily-sweep use (see method scaladoc).
    // Token-set jaccard per pair in the join projection — text payload
    // instead of token arrays, same rationale as fingerprintJaccardPairs.
    val plan = ExplosiveJoin.crossJoinPlanFromSizes(
      ("crossCorpus", a0.queryExecution.analyzed.canonicalized,
        b0.queryExecution.analyzed.canonicalized, maxBlockSize),
      capped, Seq("fp"), "__ca", "__cb",
      left.sparkSession.sparkContext.defaultParallelism)
    ExplosiveJoin.saltedJoin(aT, bT, Seq("fp"), "id_b", plan)
      .select(col("id_a"), col("id_b"),
        round(graft.functions.NativeExprs.jaccardTokenSetsNative(
          col("__ta"), col("__tb")), 6).as("jaccard"))
  }

  /** Edit-distance similarity join (the ED-Join family: Gravano et al.
    * q-gram count filtering + SSJoin prefix filtering): every pair
    * with `levenshtein(a, b) <= maxDist`, with the exact distance.
    * The classic fuzzy-dedup primitive for short fields — titles,
    * URLs, product names — where token-set Jaccard is too coarse.
    *
    * Plan (never an all-pairs join):
    *  1. ONE native pass per string emits its occurrence-numbered
    *     q-gram tokens ([[graft.functions.NativeExprs.PosQGramTokensExpr]]);
    *     numbering the c-th occurrence of a gram makes the multiset
    *     count bound — `ed <= k` destroys at most `k*q` tokens, so
    *     `|A ∩ B| >= max(|A|,|B|) - k*q` — hold for plain SETS.
    *  2. PREFIX filter: order tokens globally by (corpus df, token)
    *     and keep each string's `k*q + 1` rarest — any qualifying
    *     pair shares a token within both prefixes (SSJoin prefix
    *     lemma, valid whenever either side has more than `k*q`
    *     tokens). Strings with <= k*q tokens keep ALL their tokens
    *     AND a shared sentinel token — the sentinel block covers
    *     short×short pairs the count bound can't, and the explosive
    *     join spreads it like any other degenerate block.
    *  3. The prefix-token self-join is OUTPUT-EXPLOSIVE — the
    *     [[ExplosiveJoin]] countermeasures apply, with the salt plan
    *     derived from the prefix-membership histogram the plan
    *     computes anyway (never a second corpus scan).
    *  4. The strings ride the block join and every candidate row is
    *     verified in the join projection with the builtin banded
    *     `levenshtein(a, b, maxDist)` (O(maxDist·n) per pair,
    *     codegen'd) after the `|len_a - len_b| <= maxDist` band; the
    *     pair distinct runs on the OUTPUT-sized verified pairs.
    *
    * COMPLETE by construction (no recall loss) at the default
    * `maxBlockSize = Int.MaxValue`; the cap is the production lever
    * for pathological boilerplate prefixes and IS recall-lossy here
    * (a capped token stops witnessing its pairs — unlike the Jaccard
    * blocks, a pair's other shared tokens may not be in the prefix).
    * Sizing: tokens/string is length-linear, prefix rows are
    * `(k·q+1)`/string, and the df table is gram-vocabulary-sized —
    * all linear in the corpus. Pick `q` so the gram vocabulary is
    * selective (q=2 for short fields; 3-4 for long strings). */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
                        maxDist: Int, q: Int = 2,
                        maxBlockSize: Int = Int.MaxValue): DataFrame = {
    require(maxDist >= 0, s"maxDist=$maxDist")
    val pfx = maxDist * q + 1
    // Cached: the token pass and the verify strings feed the df
    // aggregate, the prefix window, the sentinel scan, and both sides
    // of the verify join.
    val base = Repartition.forCompute(df).select(
      col(idCol), col(textCol).as("__s"),
      graft.functions.NativeExprs.posQGramTokensNative(col(textCol), q).as("__tok"))
      .cache()
    val prefix = editPrefixes(base, idCol, pfx)
    // ONE prefix-membership histogram serves BOTH the (recall-lossy,
    // off-by-default) block cap and the salt sizing.
    val sizes = prefix.groupBy("tok").agg(count(lit(1)).as("bsz"))
    val pf =
      if (maxBlockSize == Int.MaxValue) prefix
      else prefix.join(
        broadcast(sizes.where(col("bsz") > maxBlockSize).select("tok")),
        Seq("tok"), "left_anti")
    val plan = ExplosiveJoin.selfJoinPlanFromSizes(
      ("editJoin", base.queryExecution.analyzed.canonicalized, pfx, maxBlockSize),
      if (maxBlockSize == Int.MaxValue) sizes
      else sizes.where(col("bsz") <= maxBlockSize),
      Seq("tok"), "bsz", df.sparkSession.sparkContext.defaultParallelism)
    // Verify IN the join projection (the fingerprintJaccardPairs
    // shape): the strings ride the block join and the banded
    // levenshtein runs per candidate ROW — a pair sharing several
    // prefix tokens is verified that many times (bounded by pfx),
    // which is cheaper than the alternative: a distinct over the
    // candidate-id frame is a corpus-candidate-sized shuffle (on
    // gram-degenerate corpora candidates rival all-pairs — measured
    // 24M rows on the 31-word sf0.1 gate corpus) plus two more
    // id-equijoins to fetch the strings back. The distinct here runs
    // on the OUTPUT-sized verified pairs instead.
    val pj = pf.join(base.select(col(idCol), col("__s")), Seq(idCol))
    val a = pj.select(col(idCol).as("id_a"), col("tok"), col("__s").as("__sa"))
    val b = pj.select(col(idCol).as("id_b"), col("tok"), col("__s").as("__sb"))
    ExplosiveJoin.saltedJoin(a, b, Seq("tok"), "id_b", plan)
      .where(col("id_a") < col("id_b") &&
        abs(length(col("__sa")) - length(col("__sb"))) <= maxDist)
      .select(col("id_a"), col("id_b"),
        // native banded DP with shared-affix stripping — value-identical
        // to levenshtein(a, b, maxDist); -1 = above maxDist
        graft.functions.NativeExprs.levenshteinBandedNative(
          col("__sa"), col("__sb"), maxDist).cast("long").as("ed"))
      .where(col("ed") >= 0)
      .distinct()
  }

  /** The ED-join's prefix membership (id, tok): each string's `pfx`
    * RAREST positional q-grams under the global rarity order (corpus
    * df per token, map-side-combined on longs), plus the sentinel
    * block for strings with fewer than `pfx` tokens (whose prefix is
    * all tokens — exactly those the count bound can't pair with each
    * other). The groupBy/collect_list+array_sort form beats a
    * row_number window: per-string lists are length-bounded and
    * partial-aggregate. `base` must carry (idCol, __tok) from the
    * fused q-gram pass.
    *
    * Package-visible so PipelineOpsSpec can pin the SELECTIVITY LAW —
    * Σ C(bsz,2) over this frame's token histogram is the candidate
    * count the block join generates, and on Zipfian text it must be a
    * small fraction of all-pairs (rarest-first is what makes the
    * ED-join subquadratic; the driver gate corpus saturates the
    * filter, so without the spec a rarity-order regression would pass
    * every gate). */
  private[graft] def editPrefixes(base: DataFrame, idCol: String,
                                  pfx: Int): DataFrame = {
    val toks = base.select(col(idCol), explode(col("__tok")).as("tok"))
    val dfTab = toks.groupBy("tok").agg(count(lit(1)).as("__df"))
    val pref = toks.join(dfTab, "tok")
      .groupBy(idCol)
      .agg(slice(array_sort(collect_list(struct(col("__df"), col("tok")))),
        1, pfx).as("__p"))
      .select(col(idCol), explode(col("__p")).as("__pe"))
      .select(col(idCol), col("__pe.tok").as("tok"))
    val sentinel = base.where(size(col("__tok")) < pfx)
      .select(col(idCol), lit(EditJoinShortSentinel).as("tok"))
    pref.unionByName(sentinel)
  }

  /** Sentinel token for [[editDistancePairs]]'s short-string block:
    * outside [[graft.functions.NativeExprs.PosQGramTokensExpr]]'s
    * mix64 range for any realistic gram only by improbability — a
    * collision just adds candidates (verified away), never drops one. */
  private val EditJoinShortSentinel: Long = 0x5f70454a4f494e21L

  /** Cross-corpus [[editDistancePairs]]: every (left, right) pair
    * within `levenshtein <= maxDist` — the incremental-ingest form
    * (today's crawl ⋈ the standing corpus) of the ED-Join, mirroring
    * [[crossCorpusJaccardPairs]]. Only cross pairs are generated, so
    * a daily fuzzy-dedup sweep costs O(delta × collision rate), never
    * another full self-join.
    *
    * The prefix rarity order is ONE shared df table over the UNION of
    * both sides' tokens — the two sides must rank tokens identically
    * or the prefix lemma's shared-token witness can fall outside one
    * side's prefix (any consistent total order is complete; union df
    * is the selectivity-optimal one, and at scale it is dominated by
    * the standing corpus's stats, which a production sweep would
    * persist alongside the corpus). Cap + salt both derive from ONE
    * joint per-side prefix-membership histogram
    * ([[ExplosiveJoin.crossJoinPlanFromSizes]] — zero extra corpus
    * scans). `left` is the replicated probe side of the explosive
    * join — pass the SMALLER corpus (the delta) as `left`. The
    * `maxBlockSize` cap counts the COMBINED (left + right) membership
    * and is recall-lossy here, exactly as in [[editDistancePairs]]. */
  def crossCorpusEditPairs(left: DataFrame, right: DataFrame,
                           idCol: String, textCol: String,
                           maxDist: Int, q: Int = 2,
                           maxBlockSize: Int = Int.MaxValue): DataFrame = {
    require(maxDist >= 0, s"maxDist=$maxDist")
    val pfx = maxDist * q + 1
    def prep(df: DataFrame): DataFrame =
      Repartition.forCompute(df).select(
        col(idCol), col(textCol).as("__s"),
        graft.functions.NativeExprs.posQGramTokensNative(col(textCol), q)
          .as("__tok")).cache()
    val a0 = prep(left)
    val b0 = prep(right)
    def toks(df: DataFrame): DataFrame =
      df.select(col(idCol), explode(col("__tok")).as("tok"))
    val dfTab = toks(a0).unionByName(toks(b0))
      .groupBy("tok").agg(count(lit(1)).as("__df"))
    def prefix(base: DataFrame): DataFrame =
      toks(base).join(dfTab, "tok")
        .groupBy(idCol)
        .agg(slice(array_sort(collect_list(struct(col("__df"), col("tok")))),
          1, pfx).as("__p"))
        .select(col(idCol), explode(col("__p")).as("__pe"))
        .select(col(idCol), col("__pe.tok").as("tok"))
        .unionByName(base.where(size(col("__tok")) < pfx)
          .select(col(idCol), lit(EditJoinShortSentinel).as("tok")))
    val pa = prefix(a0)
    val pb = prefix(b0)
    val joint = pa.groupBy("tok").agg(count(lit(1)).as("__ca"))
      .join(pb.groupBy("tok").agg(count(lit(1)).as("__cb")),
        Seq("tok"), "full_outer")
      .select(col("tok"), coalesce(col("__ca"), lit(0L)).as("__ca"),
        coalesce(col("__cb"), lit(0L)).as("__cb"))
    val capped =
      if (maxBlockSize == Int.MaxValue) joint
      else joint.where(col("__ca") + col("__cb") <= maxBlockSize)
    val (paT, pbT) =
      if (maxBlockSize == Int.MaxValue) (pa, pb)
      else {
        val blocked = joint.where(col("__ca") + col("__cb") > maxBlockSize)
          .select("tok")
        (pa.join(broadcast(blocked), Seq("tok"), "left_anti"),
          pb.join(broadcast(blocked), Seq("tok"), "left_anti"))
      }
    val plan = ExplosiveJoin.crossJoinPlanFromSizes(
      ("editCross", a0.queryExecution.analyzed.canonicalized,
        b0.queryExecution.analyzed.canonicalized, pfx, maxBlockSize),
      capped, Seq("tok"), "__ca", "__cb",
      left.sparkSession.sparkContext.defaultParallelism)
    val aj = paT.join(a0.select(col(idCol), col("__s")), Seq(idCol))
      .select(col(idCol).as("id_a"), col("tok"), col("__s").as("__sa"))
    val bj = pbT.join(b0.select(col(idCol), col("__s")), Seq(idCol))
      .select(col(idCol).as("id_b"), col("tok"), col("__s").as("__sb"))
    ExplosiveJoin.saltedJoin(aj, bj, Seq("tok"), "id_b", plan)
      .where(abs(length(col("__sa")) - length(col("__sb"))) <= maxDist)
      .select(col("id_a"), col("id_b"),
        // same native banded verify as editDistancePairs
        graft.functions.NativeExprs.levenshteinBandedNative(
          col("__sa"), col("__sb"), maxDist).cast("long").as("ed"))
      .where(col("ed") >= 0)
      .distinct()
  }

  /** SimHash near-dup pairs with Hamming distance <= maxHamming.
    * Pigeonhole blocking: split the 64-bit hash into 4 16-bit chunks —
    * any pair within Hamming <= 3 MUST share at least one exact chunk
    * (guaranteed recall); for 4 <= maxHamming < 16 the same blocking is
    * best-effort (a pair could spread one flipped bit into every
    * chunk). Candidates come from 4 equijoins on chunk value, then
    * exact Hamming verification. The token hash is MD5
    * ([[graft.functions.NativeExprs.SimHashMd5Expr]]), so an ANSI SQL
    * engine can reproduce the 64-bit simhash bit-for-bit. */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
                          maxHamming: Int = 3): DataFrame = {
    require(maxHamming < 4 * 4, "pigeonhole blocking assumes maxHamming < 16")
    val h = Repartition.forCompute(df)
      .select(col(idCol),
        graft.functions.NativeExprs.simhashMd5Native(tokens(col(textCol))).as("sh"))
    hammingPairs64(h, idCol, "sh", maxHamming)
  }

  /** Near-dup pairs over ANY 64-bit fingerprint column within Hamming
    * distance <= `maxHamming` — the pigeonhole chunk blocking
    * [[simhashNearDupPairs]] uses, factored so every modality shares
    * one engine: text simhash and image dHash
    * ([[imageNearDupPairs]]) differ only in how the fingerprint is
    * computed. Split the 64-bit fingerprint into 4 exact 16-bit
    * chunks; any pair within Hamming <= 3 shares at least one chunk
    * (guaranteed recall), 4-15 is best-effort. Four equijoins on
    * chunk value generate candidates; exact `bit_count(xor)`
    * verification filters. Scale shape: candidates are
    * chunk-collision-bounded (64-bit fingerprints collide on a 16-bit
    * chunk at ~2^-16 per chunk for unrelated inputs), the distinct
    * runs on candidate pairs carrying only (id, fp) longs, and no
    * payload bytes enter the join. */
  def hammingPairs64(fps: DataFrame, idCol: String, fpCol: String,
                     maxHamming: Int): DataFrame = {
    require(maxHamming < 4 * 4, "pigeonhole blocking assumes maxHamming < 16")
    val chunked = chunked64(fps, idCol, fpCol)
    val a = chunked.select(col(idCol).as("id_a"), col("__fp").as("sh_a"), col("chunk"), col("v"))
    val b = chunked.select(col(idCol).as("id_b"), col("__fp").as("sh_b"), col("chunk"), col("v"))
    a.join(b, Seq("chunk", "v"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), hamming64(col("sh_a"), col("sh_b")).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** Image near-dup pairs — the missing dedup modality: perceptual
    * dHash fingerprints ([[Multimodal.dhashFingerprints]]: 9×8
    * average-pooled grayscale grid, 64 horizontal gradient-sign bits)
    * into the SAME pigeonhole Hamming join as the text simhash
    * family. Two images whose pooled brightness gradients agree in
    * all but `maxHamming` of 64 cells pair up — robust to
    * recompression, mild resizing, and uniform brightness shifts
    * (gradient SIGNS survive all three), the classic image near-dup
    * transforms. Output `(id_a, id_b, hamming)`.
    *
    * 100 TB shape: one pure-map fingerprint pass over the blobs (the
    * only stage that touches payload bytes), then the join runs on an
    * 8-byte-per-image table. Guaranteed recall at `maxHamming` <= 3
    * (the pigeonhole bound), exact verification always. */
  def imageNearDupPairs(media: DataFrame, maxHamming: Int = 3): DataFrame = {
    // guaranteed-recall entry point (see incrementalImageNearDups)
    require(maxHamming <= 3, "guaranteed-recall entry point: maxHamming <= 3")
    hammingPairs64(Multimodal.dhashFingerprints(media),
      "media_id", "dhash", maxHamming)
  }

  /** The 4×16-bit pigeonhole chunk rows of a 64-bit fingerprint frame
    * — `(idCol, __fp, chunk, v)`, one row per chunk — shared by
    * [[hammingPairs64]], [[writeDHashIndex]] and the incremental
    * probe so self-join, index write and index probe hash into the
    * SAME blocking space by construction. */
  private def chunked64(fps: DataFrame, idCol: String, fpCol: String): DataFrame =
    fps.select(col(idCol), col(fpCol).as("__fp"),
      explode(transform(sequence(lit(0), lit(3)), i =>
        struct(i.cast("int").as("chunk"),
          call_function("shiftright", col(fpCol), i * 16)
            .bitwiseAND(lit(0xFFFFL)).as("v")))).as("c"))
      .select(col(idCol), col("__fp"), col("c.chunk").as("chunk"), col("c.v").as("v"))

  /** Persist the dHash fingerprint index of a standing media corpus —
    * the image analogue of
    * [[IndexLifecycle.writeGrowableMinHashIndex]], completing the
    * incremental family across modalities: exact dedup probes the
    * digest index, fuzzy text probes the band index, image near-dup
    * probes this one. One row per (chunk, v, id, dhash) — 4 rows ×
    * 24 bytes per image, written BUCKETED by the pigeonhole chunk key
    * so every future probe join reads it exchange-free. The payload
    * bytes are touched exactly once (the fingerprint pass at write
    * time); every daily sweep thereafter runs on fingerprints alone.
    * No bucket histogram here: a 16-bit chunk of a 64-bit perceptual
    * hash has no boilerplate-bucket pathology worth a cap — the exact
    * Hamming verify in the probe projection is the cap. */
  def writeDHashIndex(media: DataFrame, table: String, buckets: Int): Unit =
    graft.sources.Sinks.writeBucketed(dhashIndexFrame(media),
      table, buckets, Seq("chunk", "v"))

  /** The `(chunk, v, id, dhash)` rows [[writeDHashIndex]] persists —
    * shared with [[IndexLifecycle.appendToDHashIndex]] so appended
    * generations hash into the index's exact chunk space. */
  private[operators] def dhashIndexFrame(media: DataFrame): DataFrame =
    chunked64(Multimodal.dhashFingerprints(media), "media_id", "dhash")
      .select(col("chunk"), col("v"), col("media_id").as("id"),
        col("__fp").as("dhash"))

  /** Frame-level near-dup pairs for video/audio payloads — the
    * shared-scene detector: sample each payload's frames
    * ([[Multimodal.frameFingerprints]]' stride-chunk law, standing in
    * for a codec), fingerprint every frame with the SAME dHash grid
    * law as stills, and pair media sharing at least `minShared`
    * DISTINCT frame fingerprints, with the count. Two clips that
    * embed the same scene share that scene's frames however the
    * surrounding material differs — exactly the evidence a
    * video-dedup policy acts on, and the frame-granular analogue of
    * [[duplicateSpanPairs]] (same shape: per-media distinct
    * fingerprint sets from one map pass, ONE shuffle on the 8-byte
    * fingerprint, frames shared by more than `maxMediaPerFrame` media
    * dropped before the bucket-size² pair expansion — intro/outro
    * boilerplate frames would go quadratic, the span family's cap
    * law — and pair counts on output-sized rows). */
  def frameNearDupPairs(media: DataFrame, frameBytes: Int = 64,
                        stride: Int = 4, maxMediaPerFrame: Int = 100,
                        minShared: Int = 2): DataFrame = {
    require(minShared >= 1, s"minShared=$minShared")
    // cache(): feeds the hot-frame histogram and the pair grouping.
    // QUERY-SCOPED — the returned plan is lazy, so the operator cannot
    // unpersist it itself (an in-operator finally would void the cache
    // before the caller's action and re-pay the decode pass per
    // branch). Session composers: clearCache() between sweeps (as
    // Bench does) or CacheBridge.unpersistPlanCaches(result) after
    // consuming — releases exactly this plan's pins.
    val fps = Multimodal.frameFingerprints(media, frameBytes, stride).cache()
    // Same cap-before-collect law as duplicateSpanPairs: a boilerplate
    // frame (intro/outro) shared by the whole corpus must be dropped
    // from the map-side-combined histogram, never collected. Measured
    // at the sf10 decade: 143 s → the post-collect form let single
    // tasks materialize the hot frames' full id lists.
    val hot = fps.groupBy("fh").agg(count(lit(1)).as("__n"))
      .where(col("__n") > maxMediaPerFrame).select("fh")
    val parts = ExplosiveJoin.pinnedParts(fps)
    val grouped = fps.join(broadcast(hot), Seq("fh"), "left_anti")
      .repartition(parts, col("fh"))
      .groupBy("fh").agg(collect_list(col("media_id")).as("ids"))
      .where(size(col("ids")) >= 2)
    grouped.select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Image near-dups of a delta batch vs a persisted
    * [[writeDHashIndex]] table: every (delta, base) pair within
    * `maxHamming` — the incremental-ingest form of
    * [[imageNearDupPairs]], costing O(delta × chunk-collision rate)
    * per sweep instead of another full self-join. The delta is
    * fingerprinted with the same law the index was written with, so
    * it collides exactly where a self-join would (guaranteed recall
    * at `maxHamming` <= 3); the index side is exchange-free under its
    * bucket layout, only the delta's 4-rows-per-image chunk table
    * shuffles. Output `(id_a, id_b, hamming)`, id_a from the delta. */
  def incrementalImageNearDups(delta: DataFrame, index: DataFrame,
                               maxHamming: Int = 3): DataFrame = {
    // this entry point advertises GUARANTEED recall — the 4x16-bit
    // pigeonhole only guarantees a shared chunk for Hamming <= 3; the
    // best-effort 4..15 regime lives in simhashNearDupPairs alone
    require(maxHamming <= 3, "guaranteed-recall entry point: maxHamming <= 3")
    val d = chunked64(Multimodal.dhashFingerprints(delta), "media_id", "dhash")
      .select(col("media_id").as("id_a"), col("__fp").as("fp_a"),
        col("chunk"), col("v"))
    val idx = index.select(col("chunk"), col("v"), col("id").as("id_b"),
      col("dhash").as("fp_b"))
    d.join(idx, Seq("chunk", "v"))
      .select(col("id_a"), col("id_b"),
        hamming64(col("fp_a"), col("fp_b")).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** Benchmark-contamination check: corpus documents sharing at least
    * `minOverlap` distinct k-gram shingles with any probe document
    * (the standard "is this eval set leaking into the training data"
    * sweep). The probe set is small BY CONTRACT (an eval set, not a
    * corpus) and rides the expression as one reference object; the
    * corpus side is ONE pure-map pass
    * ([[graft.functions.NativeExprs.SharedShingleCountsExpr]]: each
    * doc's distinct code-point k-windows looked up in the inverted
    * probe-shingle map) filtered to n_shared >= minOverlap — no
    * shingle array materialization, no per-shingle explode, no
    * broadcast join, and no (c_id, p_id) count shuffle (the r15 jobs
    * probe read the exploded form at 5.6 task-CPU-s on a corpus whose
    * full scan costs 0.2). Counts are identical to the previous
    * explode + broadcast-join + groupBy form: n_shared =
    * |charShingles(c) ∩ charShingles(p)| either way (spec-pinned
    * against the join formulation). The probe id must be integral
    * (byte/short/int/long; `p_id` is emitted as long) — a string or
    * fractional id is refused up front rather than cast. Probes with a
    * null id or null text are skipped: a null text shares no shingle,
    * and a null id names no probe a hit could be reported against. */
  def contaminationPairs(corpus: DataFrame, probes: DataFrame,
                         idCol: String, textCol: String,
                         shingleK: Int = 8, minOverlap: Int = 10): DataFrame = {
    val idType = probes.schema(idCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(idType),
      s"contaminationPairs: probe id column '$idCol' must be integral, got $idType")
    val probeRows = probes.select(col(idCol).cast("long"), col(textCol))
      .collect()
      .filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .map(r => r.getLong(0) -> r.getString(1)).toSeq
    val counts = graft.functions.NativeExprs.sharedShingleCountsNative(
      col(textCol), shingleK, probeRows)
    Repartition.forCompute(corpus)
      .select(col(idCol).as("c_id"), explode(counts).as("x"))
      .select(col("c_id"), col("x.p_id").as("p_id"),
        col("x.n_shared").as("n_shared"))
      .where(col("n_shared") >= minOverlap)
  }

  /** Embedding near-dup pairs: cosine >= threshold. `blockCol` provides
    * the blocking key (e.g. an LSH bucket from
    * [[Similarity.hyperplaneBucketLcg]] or a coarse label) — the join is an
    * equijoin on it, never all-pairs. */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                            blockCol: String, threshold: Double): DataFrame = {
    val v = df.select(col(idCol), col(blockCol).as("blk"),
      col(vecCol).cast("array<double>").as("v"))
    val withNorm = v.withColumn("nrm",
      sqrt(graft.functions.NativeExprs.dotNative(col("v"), col("v"))))
    val a = withNorm.select(col(idCol).as("id_a"), col("blk"),
      col("v").as("va"), col("nrm").as("na"))
    val b = withNorm.select(col(idCol).as("id_b"), col("blk"),
      col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, "blk")
      .where(col("id_a") < col("id_b"))
      .withColumn("sim", round(
        graft.functions.NativeExprs.dotNative(col("va"), col("vb"))
          / (col("na") * col("nb")), 6))
      .where(col("sim") >= threshold)
      .select("id_a", "id_b", "sim")
  }

  /** Embedding near-dup pairs via MULTI-TABLE hyperplane LSH — the real
    * scale path: `tables` independent hyperplane codes of `bits` bits
    * each; a pair is a candidate if it collides in ANY table (recall
    * 1-(1-p^bits)^tables vs p^bits for one table), optionally further
    * blocked by `extraBlockCols` (e.g. a label/shard column). The
    * candidate join is an equijoin on (table, bucket [, extras]) —
    * never all-pairs — and candidates are exact-cosine verified, so
    * precision is 1.0. Buckets use the LCG hyperplane derivation
    * ([[graft.functions.NativeExprs.HyperplaneBucketLcgExpr]]), exactly
    * reproducible by the DuckDB oracle. `chunks = 0` (default) sizes
    * the candidate join's salt width from the bucket-size histogram
    * the cap filter already computes
    * ([[ExplosiveJoin.selfJoinPlanFromSizes]] — one aggregate over the
    * cached bucket frame, session-memoized, never a second corpus
    * scan; still eager at plan construction); `chunks >= 1` pins it
    * and stays lazy. */
  /** LSH hyperplane-bit sizing law: enough bits that the EXPECTED
    * bucket holds ~`targetBucket` vectors — bits = ceil(log2(n /
    * targetBucket)), clamped to [3, 48]. Computed integer-exact via
    * bit length (no float log2) so a SQL oracle can reproduce it
    * without last-ulp ceil() drift. A pinned bit count is the classic
    * scale killer: per-bucket pairing is quadratic, so constant bits
    * at 10x data means 100x pair work — the parameter must derive from
    * the data, never ride a default (the reference's own discipline:
    * worker pools sized from the data, `clusterquery.jl:114-117`). */
  def lshBitsFor(n: Long, targetBucket: Long = 100L): Int = {
    require(targetBucket > 0, "targetBucket must be positive")
    val v = math.max(1L, (n + targetBucket - 1) / targetBucket) // ceil(n/target)
    val bitLen = 64 - java.lang.Long.numberOfLeadingZeros(v - 1) // ceil(log2(v)); 0 when v=1
    math.min(48, math.max(3, bitLen))
  }

  /** @param bits hyperplane bits per table; `<= 0` (the default)
    *   derives them from the corpus count via [[lshBitsFor]] — one
    *   count job, paid once per call (an EXTRA full scan when `df` is
    *   an uncached plan: pass `corpusCount` if the caller already
    *   knows it), so the bucket granularity scales with the data
    *   instead of riding a constant.
    * @param corpusCount precomputed row count of `df`; `<= 0` (the
    *   default) counts at call time. Only consulted when `bits <= 0`.
    * @param maxBucketSize drop (table, bucket) groups larger than this
    *   before pairing — guards degenerate directions (e.g. zero-ish
    *   vectors all landing in one cell) from going quadratic. Unlimited
    *   by default; derived `bits` does the sizing, the cap is the
    *   backstop. */
  def embeddingNearDupPairsLsh(df: DataFrame, idCol: String, vecCol: String,
                               threshold: Double, tables: Int = 4, bits: Int = 0,
                               seed: Long = 42L,
                               extraBlockCols: Seq[String] = Nil,
                               maxBucketSize: Int = Int.MaxValue,
                               chunks: Int = 0,
                               corpusCount: Long = 0L): DataFrame = {
    import graft.functions.NativeExprs.{dotNative, hyperplaneBucketLcgNative}
    require(chunks >= 0, s"chunks=$chunks (0 = AUTO)")
    val nBits = if (bits > 0) bits
      else lshBitsFor(if (corpusCount > 0) corpusCount else df.count())
    // Vector + norm ride the bucket explode and the cosine is computed
    // in the bucket join's own projection, so candidates leave the join
    // as narrow (id_a, id_b, sim) triples and the only post-join work
    // is the threshold filter and an output-sized distinct (a pair
    // colliding in several tables scores identically in each). The
    // former shape — distinct id pairs, then two vector equijoins —
    // shuffled every candidate with two ~dim×8-byte payloads: fine
    // while the corpus side still broadcasts, a cliff beyond it.
    val v = df.select((col(idCol) +: extraBlockCols.map(col)) :+
      col(vecCol).cast("array<double>").as("v"): _*)
      .withColumn("nrm", sqrt(dotNative(col("v"), col("v"))))
    val buckets = array((0 until tables).map(t =>
      struct(lit(t).as("tbl"),
        hyperplaneBucketLcgNative(col("v"), nBits, seed + t).as("bkt"))): _*)
    // cache(): the norm + hyperplane-bucket derivation is the
    // expensive part and FOUR consumers read this frame — the cap
    // aggregate, the AUTO sizing job's two per-key counts, and the
    // pairing join itself. Query-scoped (same contract as
    // fingerprintJaccardPairs): long-lived sessions sweeping many
    // corpora should spark.catalog.clearCache() between sweeps.
    val tabled = v.select(col(idCol) +: extraBlockCols.map(col) :+
      col("v") :+ col("nrm") :+ explode(buckets).as("tb"): _*)
      .select(col(idCol) +: extraBlockCols.map(col) :+ col("v") :+ col("nrm") :+
        col("tb.tbl").as("tbl") :+ col("tb.bkt").as("bkt"): _*)
      .cache()
    val joinKeys = Seq("tbl", "bkt") ++ extraBlockCols
    // ONE bucket-size histogram serves the cap AND the salt sizing.
    // Cap as a broadcast anti-join against the oversized buckets (same
    // rationale as the fingerprint cap: buckets past the cap are few
    // by construction, so their key list broadcasts at any scale).
    val sizes = tabled.groupBy(joinKeys.map(col): _*).agg(count(lit(1)).as("bsz"))
    val capped =
      if (maxBucketSize == Int.MaxValue) tabled
      else tabled.join(
        broadcast(sizes.where(col("bsz") > maxBucketSize)
          .select(joinKeys.map(col): _*)),
        joinKeys, "left_anti")
    // The pairing join is OUTPUT-EXPLOSIVE (input n×tables rows, output
    // sum-of-bucket-size²) -> ExplosiveJoin countermeasures. AUTO salt
    // derives from the histogram above (pairs = bsz², capped buckets
    // excluded) — stats the plan computes anyway, never autoSaltPlan's
    // two-sided re-aggregation (the 100 TB sizing contract).
    val a = capped.withColumnRenamed(idCol, "id_a")
      .withColumnRenamed("v", "va").withColumnRenamed("nrm", "na")
    val b = capped.withColumnRenamed(idCol, "id_b")
      .withColumnRenamed("v", "vb").withColumnRenamed("nrm", "nb")
    val plan = if (chunks == 0) ExplosiveJoin.selfJoinPlanFromSizes(
        ("annPairs", tabled.queryExecution.analyzed.canonicalized, maxBucketSize),
        if (maxBucketSize == Int.MaxValue) sizes
        else sizes.where(col("bsz") <= maxBucketSize),
        joinKeys, "bsz", df.sparkSession.sparkContext.defaultParallelism)
      else ExplosiveJoin.SaltPlan(chunks, Map.empty)
    ExplosiveJoin.saltedJoin(a, b, joinKeys, "id_b", plan)
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(dotNative(col("va"), col("vb")) / (col("na") * col("nb")), 6)
          .as("sim"))
      .where(col("sim") >= threshold)
      .distinct() // a pair may collide in several tables — identical sim
  }

  /** Corpus-wide segment-level dedup — the C4/RefinedWeb "line dedup"
    * adapted to unstructured text: the text is cut into consecutive
    * `segWords`-word segments, every segment that already occurred
    * EARLIER in the corpus (first occurrence = smallest (doc id,
    * position)) is dropped, and the survivors re-join in order. Docs
    * reduced to nothing come back as empty text (kept, so the caller
    * decides the drop policy).
    *
    * Keep-first is a min-aggregation + equijoin, NOT a window over
    * segment content: min(struct(id, pos)) partial-aggregates
    * map-side, so a boilerplate segment shared by 10^6 documents
    * still ships one row per partition to the shuffle where a window
    * would buffer the whole hot group on one task — the same
    * skew-safety argument as Skew.saltedCountSum, for free.
    *
    * NO segment text ever shuffles: the agg and the keep-join are
    * keyed on [[segKey]] (96-bit segment hash, ~12 bytes vs the
    * ~`segWords`-word text), survivors reduce to (id, pos), and the
    * output text is rebuilt from the DOC side by re-slicing each
    * surviving window out of the original text. */
  def dropDuplicateSegments(df: DataFrame, idCol: String, textCol: String,
                            segWords: Int = 10): DataFrame = {
    require(segWords >= 1, s"segWords=$segWords")
    val exploded = segmentKeysExploded(df, idCol, textCol, segWords)
    val firsts = exploded.groupBy("seg_k")
      .agg(min(struct(col(idCol), col("pos"))).as("first"))
    val survivors = exploded.join(firsts,
      exploded("seg_k") === firsts("seg_k") &&
        struct(col(idCol), col("pos")) === col("first"))
      .select(col(idCol), col("pos"))
    reassembleFromPositions(df, survivors, idCol, textCol, segWords)
  }

  /** C4-style boilerplate REMOVAL (the frequency-filter sibling of
    * [[dropDuplicateSegments]]): a segment that occurs in MORE than
    * `maxDocFreq` distinct documents is dropped from EVERY document —
    * nav chrome, cookie banners, license headers. Where keep-first
    * dedup preserves one copy, the frequency filter treats corpus-wide
    * repetition itself as the signal and keeps none.
    *
    * Scale shape: one (seg-hash -> distinct-doc count) aggregation —
    * the count-distinct partial-aggregates map-side per segment — then
    * a LEFT ANTI join of the exploded segments against the
    * over-threshold set. Both sides shuffle on [[segKey]] (12 bytes,
    * never the segment text — measured 71->29 MB total shuffle write
    * at the sf3 rehearsal, a 2.4x cut), the hot boilerplate key ships
    * one row per partition into the count, and the anti-join probe
    * rows are narrow (id, pos, key) triples; the output text is
    * rebuilt from the doc side. Nothing buffers a whole hot group on
    * one task. */
  def dropFrequentSegments(df: DataFrame, idCol: String, textCol: String,
                           segWords: Int = 10, maxDocFreq: Int = 2): DataFrame = {
    require(segWords >= 1, s"segWords=$segWords")
    require(maxDocFreq >= 1, s"maxDocFreq=$maxDocFreq")
    val exploded = segmentKeysExploded(df, idCol, textCol, segWords)
    val frequent = exploded.groupBy("seg_k")
      .agg(countDistinct(col(idCol)).as("ndocs"))
      .where(col("ndocs") > maxDocFreq)
      .select("seg_k")
    val survivors = exploded.join(frequent, Seq("seg_k"), "left_anti")
      .select(col(idCol), col("pos"))
    reassembleFromPositions(df, survivors, idCol, textCol, segWords)
  }

  /** (id, pos, seg_k) rows: the 96-bit [[segKey]]-law key of every
    * consecutive `segWords`-word window, computed by ONE native pass
    * per doc ([[graft.functions.NativeExprs.SegmentKeysExpr]] — no
    * segment string is materialized or exploded; the keys are
    * bit-identical to `segKey(array_join(slice(words, ...), " "))`,
    * property-pinned). Every doc yields >= 1 segment. */
  private def segmentKeysExploded(df: DataFrame, idCol: String,
                                  textCol: String, segWords: Int): DataFrame =
    // forCompute: the tokenize+hash explode is the CPU-dense stage of
    // every segment operator; a single-file read would otherwise run
    // it on one core (no-op whenever the input already has
    // ≥ parallelism partitions).
    Repartition.forCompute(df)
      .select(col(idCol), posexplode(graft.functions.NativeExprs
        .segmentKeysNative(col(textCol), segWords)).as(Seq("pos", "seg_k")))

  /** Physical shuffle key for a segment: (xxhash64, crc32) — 96
    * independent bits, ~12 bytes on the wire vs the multi-word text.
    * A false segment merge needs a simultaneous collision in both
    * hashes (pairwise 2^-96): at 10^12 corpus segments the expected
    * number of colliding PAIRS is ~1e-5, so keying the dedup/frequency
    * shuffles on it is exact in any physically realizable corpus
    * (xxhash64 alone would already expect thousands of collisions at
    * that scale — hence the second, independent checksum). */
  private def segKey(seg: Column): Column =
    struct(xxhash64(seg), crc32(seg))

  /** Surviving (id, pos) rows -> one text per ORIGINAL doc, rebuilt
    * DOC-SIDE: positions (8 bytes each) are collected per doc and the
    * surviving windows are re-sliced out of the original text in the
    * final projection, so segment text never rides a shuffle. Docs
    * reduced to nothing come back as empty text (kept, so the caller
    * decides the drop policy). */
  private def reassembleFromPositions(df: DataFrame, survivors: DataFrame,
                                      idCol: String, textCol: String,
                                      segWords: Int): DataFrame = {
    val keepPos = survivors.groupBy(idCol)
      .agg(array_sort(collect_list(col("pos"))).as("keep_pos"))
    val words = split(trim(col(textCol)), "\\s+")
    // forCompute: with keepPos broadcast, the re-split + per-position
    // slice/join rebuild runs on the scan's partitioning — one task
    // on a single-file corpus (the 0.4 s serial stage of
    // dd_boilerplate by the jobs probe). No-op on multi-split scans.
    Repartition.forCompute(df).join(keepPos, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(
          array_join(transform(col("keep_pos"),
            p => array_join(slice(words, p * segWords + 1, lit(segWords)), " ")), " "),
          lit("")).as(textCol))
  }

  /** SemDeDup-style SEMANTIC dedup (Abbas et al., "SemDeDup: Data-
    * efficient learning at web-scale through semantic deduplication",
    * 2023 — public): k-means the embedding space, then within each
    * cluster treat cosine >= `threshold` pairs as semantic duplicates
    * and keep ONE representative (the min id) per duplicate group — a
    * group being a connected component of the within-cluster pair
    * graph, so chains collapse to one survivor exactly, not greedily.
    *
    * Returns the SURVIVING (idCol, cid) rows. Rows in clusters larger
    * than `maxClusterSize` pass through un-deduped (the cap is the
    * scale guard, same idiom as the LSH bucket caps).
    *
    * NOTE for callers with expensive upstream lineage: the input is
    * scanned ~5 times (sizing count, train sample, final assign, both
    * pair-join branches). A raw columnar source re-scans cheaply, but
    * if `df` embeds heavy per-row compute (a classifier, decode,
    * join), cache the narrow derived frame feeding it first — the
    * pipe_semantic gate's measured 5.1x at the sf10 rehearsal.
    *
    * Scale shape: clustering is [[Clustering.kmeansAssign]] (Lloyd on
    * a <=trainCap hash sample, centroids broadcast as literals — the
    * corpus is never shuffled for it); the pair stage is an equijoin
    * on cid, quadratic ONLY within a cluster, so the operator's cost
    * is governed by k: size k ~ n/targetClusterSize (the paper runs
    * ~100k clusters at web scale) and per-cluster pair work stays
    * constant as the corpus grows, with `maxClusterSize` bounding the
    * worst cluster regardless. Components solve driver-side for the
    * sparse graphs the cap guarantees ([[ConnectedComponents.run]]'s
    * size-adaptive path). Cosine is rounded to the 1e-6 grid before
    * the threshold compare — same determinism seam as
    * [[embeddingNearDupPairs]] — so an external engine reproduces the
    * exact survivor set. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    k: Int = 0, iters: Int = 2, threshold: Double = 0.9,
                    trainCap: Long = Clustering.DefaultTrainCap,
                    maxClusterSize: Long = 10000L,
                    targetClusterSize: Long = 250L): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold=$threshold")
    require(maxClusterSize >= 2, s"maxClusterSize=$maxClusterSize")
    require(targetClusterSize >= 1, s"targetClusterSize=$targetClusterSize")
    // k = 0 -> derived from the corpus count by law (the lshBitsFor
    // discipline: a pinned k is the scale killer here — constant k at
    // 10x data means 10x clusters sizes and 100x per-cluster pair
    // work). k = min(n, max(8, ceil(n / targetClusterSize))): expected
    // cluster size stays ~targetClusterSize at any corpus, the floor
    // keeps tiny corpora from degenerate 1-2 cluster runs, and an
    // external engine recomputes the same k from count(*) integer-
    // exact (no float log/div).
    val kEff =
      if (k > 0) k
      else {
        val n = df.count()
        require(n > 0, "semanticDedup on an empty corpus")
        math.min(n, math.max(8L, (n + targetClusterSize - 1) / targetClusterSize)).toInt
      }
    val assigned = graft.operators.Clustering
      .kmeansAssign(df, idCol, vecCol, kEff, iters, trainCap)
      .withColumnRenamed("id", idCol)
      .join(df.select(col(idCol), col(vecCol)), Seq(idCol))
    val smallClusters = assigned.groupBy("cid")
      .agg(count(lit(1)).as("cn"))
      .where(col("cn") <= maxClusterSize)
      .select("cid")
    val inScope = assigned.join(smallClusters, Seq("cid"))
    val pairs = embeddingNearDupPairs(inScope, idCol, vecCol, "cid", threshold)
      .select("id_a", "id_b")
    graft.operators.ConnectedComponents
      .dropNearDuplicates(assigned.select(col(idCol), col("cid")), idCol, pairs)
  }

  /** Exact duplicated-SUBSTRING statistics — the character-window sweep
    * behind suffix-array training-data dedup ("Deduplicating Training
    * Data Makes Language Models Better", Lee et al. 2022 — public
    * algorithm): every `width`-char window at `stride` offsets is a
    * probe; a window instance is DUPLICATED when its exact text occurs
    * in >= `minDocFreq` DISTINCT documents (within-doc repetition alone
    * does not count). One row per input doc: total window count,
    * duplicated-instance count, and the duplicated ratio — the
    * per-document "how much of me is copied" signal that drives span
    * removal or doc-level filtering downstream.
    *
    * Scale shape: the explosion is bounded at ~len/stride windows per
    * doc, and window TEXT never rides a shuffle — the frequency
    * aggregate and the membership semi-join are both keyed on the
    * 96-bit [[segKey]] (~12 bytes/row; see segKey's collision budget).
    * The distinct-doc count partial-aggregates map-side, so a hot
    * boilerplate window ships one row per partition; the per-doc total
    * is a pure narrow projection (no shuffle at all — it's arithmetic
    * on length()). */
  def duplicatedWindowStats(df: DataFrame, idCol: String, textCol: String,
                            width: Int = 40, stride: Int = 10,
                            minDocFreq: Int = 2): DataFrame = {
    require(width >= 1, s"width=$width")
    require(stride >= 1, s"stride=$stride")
    require(minDocFreq >= 2, s"minDocFreq=$minDocFreq (needs >= 2 docs)")
    val len = length(col(textCol))
    // windows at 1-based positions 1, 1+stride, ... while pos+width-1 <= len
    val nWin = when(len >= width,
      floor((len - width).cast("double") / stride).cast("long") + 1L)
      .otherwise(lit(0L))
    // window KEYS in one native pass (WindowKeysExpr — same [[segKey]]
    // law per window, no window string materialized through the
    // explode; property-pinned against the substr/transform chain)
    val exploded = graft.operators.Repartition.forCompute(df)
      .select(col(idCol), explode(graft.functions.NativeExprs
        .windowKeysNative(col(textCol), width, stride)).as("wk"))
    val dup = exploded.groupBy("wk")
      .agg(countDistinct(col(idCol)).as("ndocs"))
      .where(col("ndocs") >= minDocFreq)
      .select("wk")
    val dupCounts = exploded.join(dup, Seq("wk"), "left_semi")
      .groupBy(idCol).agg(count(lit(1)).as("dup_n"))
    df.select(col(idCol), nWin.as("n_windows"))
      .join(dupCounts, Seq(idCol), "left")
      .select(col(idCol), col("n_windows"),
        coalesce(col("dup_n"), lit(0L)).as("n_dup_windows"),
        when(col("n_windows") > 0,
          round(coalesce(col("dup_n"), lit(0L)) / col("n_windows"), 6))
          .otherwise(lit(0.0)).as("dup_ratio"))
  }

  // ---- Incremental (delta-vs-corpus) dedup --------------------------------

  /** Persist the exact-dedup digest index of a corpus: one DISTINCT
    * 16-byte digest per unique text, written as a `buckets`-bucketed,
    * digest-sorted table. This is the stateful half of INCREMENTAL
    * dedup: a daily crawl batch probes this index instead of
    * re-shuffling the historical corpus. At 100 TB the index is
    * ~32 B x distinct-docs (three orders smaller than the corpus) and
    * its bucket layout means every future probe join reads it
    * EXCHANGE-FREE — only the (small) delta ever shuffles again. */
  /** Cross-document duplicate-SPAN detection (the "exact substring
    * dedup" of Lee et al. 2022, Deduplicating Training Data Makes
    * Language Models Better — arXiv:2107.06499 — at n-gram
    * granularity): document pairs sharing at least `minShared`
    * distinct `n`-token windows, with the count of shared windows.
    * Near-dup families share long runs (many windows); unrelated docs
    * that merely quote one boilerplate sentence share few — `n_spans`
    * is the evidence a span-level deduper acts on.
    *
    * Shape: one pure-map pass builds each doc's DISTINCT window-hash
    * set (sliding `n`-gram → the md5-15 60-bit law, dedup at the
    * array level so no extra shuffle), explode → ONE shuffle on the
    * 8-byte hash; spans shared by more than `maxDocsPerSpan` docs are
    * dropped (web boilerplate would go quadratic — same cap law as
    * [[lshCandidates]]); the bucket-size² pair expansion rides a
    * pinned exchange ([[ExplosiveJoin.pinnedParts]]) so AQE can't
    * coalesce it. Hash collisions (60-bit) can in principle merge two
    * spans — at fingerprint granularity that is the standard trade
    * (same law as [[fingerprintJaccardPairs]]'s blocks). */
  def duplicateSpanPairs(df: DataFrame, idCol: String, textCol: String,
                         n: Int = 8, maxDocsPerSpan: Int = 100,
                         minShared: Int = 2): DataFrame = {
    // ONE fused native pass per row (SpanHashesExpr — bit-identical
    // to the Column chain array_distinct(transform(wordNgrams(...),
    // md5-15)), spec-pinned); the Column form paid per-window string
    // concat + hex conv parsing on top of the digest.
    // cache(): the span rows feed the hot-span histogram AND the
    // pair grouping (query-scoped, the fingerprintJaccardPairs
    // contract).
    val spans = Repartition.forCompute(df)
      .select(col(idCol),
        explode(graft.functions.NativeExprs.spanHashesNative(
          col(textCol), n)).as("h"))
      .cache()
    // Cap BEFORE collect_list, not after: the over-cap spans are few
    // by construction (broadcastable at any scale), and filtering
    // them post-collect would have ONE task materialize a hot
    // boilerplate span's entire id list (10^8 ids at 100 TB) just to
    // throw it away — measured 3× per-pair cost step-up on the frame
    // sibling of this operator at the sf10 decade before the fix.
    // The count histogram partial-aggregates map-side, so the hot
    // span itself ships one row per partition.
    val hot = spans.groupBy("h").agg(count(lit(1)).as("__n"))
      .where(col("__n") > maxDocsPerSpan).select("h")
    val parts = ExplosiveJoin.pinnedParts(spans)
    val grouped = spans.join(broadcast(hot), Seq("h"), "left_anti")
      .repartition(parts, col("h"))
      .groupBy("h").agg(collect_list(col(idCol)).as("ids"))
      .where(size(col("ids")) >= 2)
    grouped.select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_spans"))
      .where(col("n_spans") >= minShared)
  }

  def writeDigestIndex(df: DataFrame, idCol: String, textCol: String,
                       table: String, buckets: Int): Unit =
    graft.sources.Sinks.writeBucketed(
      df.select(md5(col(textCol).cast("binary")).as("digest")).distinct(),
      table, buckets, Seq("digest"))

  /** New unique documents of a delta batch vs a persisted
    * [[writeDigestIndex]] table: anti-join the delta's digests against
    * the index (index side exchange-free under its bucket layout; the
    * delta shuffles once on digest), then fold exact duplicates WITHIN
    * the delta to the min-id representative. Output:
    * `(digest, keep_id, n)` — the rows a downstream appender would add
    * to the corpus and (re-written) to the index. The near-dup
    * incremental path composes the same way: probe the delta through
    * [[crossCorpusNearDups]] with the historical side replaced by a
    * persisted banded-signature table. */
  def incrementalNewUniques(delta: DataFrame, idCol: String, textCol: String,
                            index: DataFrame): DataFrame =
    delta.select(col(idCol), md5(col(textCol).cast("binary")).as("digest"))
      .join(index, Seq("digest"), "left_anti")
      .groupBy("digest")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n"))

  /** The fused text→(band, bucket) rows every MinHash path shares —
    * self-join, index build, delta append, and standing-index probe
    * all hash into the SAME bucket space because they all come
    * through here. */
  private[graft] def bandRows(df: DataFrame, idCol: String,
                              textCol: String, numHashes: Int,
                              bands: Int, rowsPerBand: Int,
                              shingleK: Int,
                              outIdCol: String = "id"): DataFrame =
    Repartition.forCompute(df).select(col(idCol).as(outIdCol),
      posexplode(graft.functions.NativeExprs.minhashBandBucketsNative(
        col(textCol), shingleK, numHashes, bands, rowsPerBand)))
      .select(col(outIdCol), col("pos").as("band"), col("col").as("bucket"))
}
