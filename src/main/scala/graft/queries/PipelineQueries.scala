package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators.{Dedup, IndexLifecycle, Multimodal, Similarity}

/** Training-data-pipeline queries over `documents` and `embeddings`:
  * text analysis, deduplication, similarity search, multimodal
  * plumbing. EVERY query carries an exact DuckDB oracle: the gated
  * LSH/SimHash/winnow/multimodal variants use oracle-computable hashes
  * (MD5 windows/tokens, Lehmer-LCG hyperplanes) so the driver's hash
  * gate covers the custom expressions too; the splitmix/FNV MinHash
  * signatures are covered by brute-force ScalaTest oracles.
  */
object PipelineQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** Deterministic corpus-derived query set for the retrieval gates:
    * 5 queries of 3 terms each, drawn from the top-15 vocabulary in
    * rank order (count DESC, token ASC) — oracle-reproducible. The
    * global row_number window is over exactly 15 rows. */
  private def vocabQueries(s: SparkSession, dir: String): DataFrame =
    vocabQueriesOf(docs(s, dir))

  // private[graft]: PipelineOpsSpec pins vocabQueriesOf ==
  // vocabQueriesFromPostings over a fixture corpus, so a tf-semantics
  // change in writeBm25Index (capping, sublinear tf) fails loudly
  // instead of silently changing the index gates' query set
  private[graft] def vocabQueriesOf(d: DataFrame): DataFrame =
    queriesFromVocab(graft.operators.TfIdf.vocabulary(d, "text", 15))

  /** The query-building half of [[vocabQueriesOf]] over any
    * `(token, n)` top-15 vocabulary frame. */
  private def queriesFromVocab(vocab: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    vocab
      .withColumn("rn",
        row_number().over(Window.orderBy(col("n").desc, col("token").asc)))
      .select(expr("cast((rn - 1) div 3 as bigint)").as("query_id"),
        col("rn"), col("token"))
      .groupBy("query_id")
      .agg(expr("transform(array_sort(collect_list(struct(rn, token))), x -> x.token)")
        .as("terms"))
  }

  /** [[vocabQueries]] derived from a persisted BM25 postings table
    * instead of a second corpus tokenize: the per-token corpus count
    * is exactly `Σ tf` over the postings (one row per (token, doc)
    * with its occurrence count), the aggregate runs EXCHANGE-FREE
    * under the table's token bucketing, and the empty-doc sentinel
    * token '' is excluded exactly as [[graft.operators.TfIdf
    * .vocabulary]] excludes it. Identical (n, token) ranking ⇒
    * identical query set — the index gates stop paying a full
    * tokenize pass for 15 vocabulary rows. */
  private[graft] def vocabQueriesFromPostings(s: SparkSession,
                                              prefix: String): DataFrame =
    queriesFromVocab(
      s.table(s"${prefix}_postings")
        .where(col("token") =!= "")
        .groupBy("token").agg(sum(col("tf")).as("n"))
        .orderBy(col("n").desc, col("token").asc).limit(15))

  /** The committed realistic-text asset (testdata-aux/zipf: 5,000 docs,
    * 50k-token Zipfian vocabulary, syllable surface forms) — the
    * zipf_* gates read it DIRECTLY (same absolute path in the engine
    * and in the DuckDB oracle), independent of the sf dir, so the CPU
    * headliners are priced on realistic token statistics instead of
    * the ~31-word driver vocabulary (VERDICT r13 #2). */
  private val ZipfPath = "/root/repo/testdata-aux/zipf/documents.parquet"
  private val ZipfRel = s"read_parquet('$ZipfPath')"
  private def zipfDocs(s: SparkSession): DataFrame = s.read.parquet(ZipfPath)

  /** The zipf dedup gates' corpus: the first `nDocs` zipf docs plus
    * near-dup plants — docs < `nMut` copied to id+10000 with ONE
    * character replaced by 'Z' at position (doc_id % length) — the
    * mm_incr_dedup mutation law, chosen because it is bit-identical in
    * Spark and DuckDB `substr` arithmetic. The asset itself has no
    * planted duplicates (independent docs), so the plants make the
    * dedup outputs non-vacuous while the REST of the corpus supplies
    * the realistic shingle/span/prefix statistics being priced. */
  private def zipfWithMutants(s: SparkSession, nDocs: Int,
                              nMut: Int): DataFrame = {
    val d = zipfDocs(s).where(col("doc_id") < nDocs).select("doc_id", "text")
    d.union(d.where(col("doc_id") < nMut).select(
      (col("doc_id") + 10000L).as("doc_id"),
      expr("concat(substr(text, 1, cast(doc_id % greatest(length(text), 1) as int)), 'Z', " +
        "substr(text, cast(doc_id % greatest(length(text), 1) as int) + 2))")
        .as("text")))
  }

  /** The zipf oracle's corpus CTE — the SQL mirror of
    * [[zipfWithMutants]]. */
  private def zipfCorpusSql(nDocs: Int, nMut: Int): String =
    s"""zd AS (SELECT doc_id, text FROM $ZipfRel WHERE doc_id < $nDocs),
       |corpus AS (
       |  SELECT doc_id, text FROM zd
       |  UNION ALL
       |  SELECT doc_id + 10000 AS doc_id,
       |         concat(substr(text, 1, CAST(doc_id % greatest(length(text), 1) AS INT)), 'Z',
       |                substr(text, CAST(doc_id % greatest(length(text), 1) AS INT) + 2)) AS text
       |  FROM zd WHERE doc_id < $nMut)""".stripMargin
  private def embs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** Class index for the softmax gates: en/de/es/fr/zh -> 0..4 (the
    * oracle's VALUES table order); anything else 0. */
  private def langIdx(lang: Column): Column = {
    val classes = Seq("en", "de", "es", "fr", "zh")
    classes.zipWithIndex.tail
      .foldLeft(when(lang === classes.head, 0L)) {
        case (c, (l, i)) => c.when(lang === l, i.toLong)
      }.otherwise(0L)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Token counting + quality scoring (whitespace + ratio features).
    "txt_tokens" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        length(col("text")).as("len"))),

    "txt_quality" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextFunctions.avgWordLen(col("text")).as("avg_word_len"),
        TextFunctions.stopwordRatio(TextFunctions.tokens(col("text"))).as("stop_ratio"),
        TextFunctions.qualityScore(col("text")).as("quality"))),

    // FastText-style hashed linear classifier scoring: hashing-trick
    // buckets -> integer milli-weight sum -> length-normalized score
    // in [-1,1]. Weights are the deterministic hash-derived stand-in
    // (a trained model swaps in a broadcast array lookup — identical
    // plan shape); the gate hash-checks the full tokenize -> md5 ->
    // bucket -> sum -> normalize law. Pure per-row codegen, the
    // classifier tier adds zero exchanges.
    "txt_classifier" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextFunctions.hashedLinearScore(col("text"), 262144).as("clf_score"))
        .withColumn("clf_keep", (col("clf_score") >= 0.0).cast("int"))),

    // DSIR importance weights (Xie et al. 2023): every doc scored by
    // the hashed-bigram log-likelihood ratio of the English subset
    // (the "target domain") vs the whole corpus. Per-bucket λ is
    // quantized once to integer micro-nats, so the per-doc sums are
    // order-independent and the DuckDB oracle reproduces them
    // bit-for-bit. Scoring is one pure map pass (λ array rides the
    // task closure); the only shuffles are the two dim-bounded
    // bucket-count aggregates.
    "txt_dsir" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.operators.Curation.dsirLogWeights(
        d, d.where(col("lang") === "en"), "doc_id", "text",
        dim = 65536, n = 2)
    }),

    // Distributed classifier TRAINING (full-batch logistic regression,
    // 3 GD steps over 32 hashed buckets + intercept, label = lang=en):
    // every gradient sum is exact-integer micro-units so the trained
    // weights are independent of row order and partitioning — the
    // oracle unrolls the same three iterations as CTE stages and
    // reproduces them bit-for-bit.
    "txt_lr_train" -> ((s, dir) =>
      graft.operators.Training.trainLogReg(docs(s, dir), "text",
        col("lang") === "en", dim = 32, iters = 3, lr = 0.2)),

    // Train-then-score composition: the weights from txt_lr_train
    // drive the quantized-sigmoid keep decision over the same corpus
    // (one native feature pass + codegen'd fold per row, no shuffle).
    "txt_lr_score" -> ((s, dir) => {
      val d = docs(s, dir)
      val w = graft.operators.Training.trainLogRegWeights(d, "text",
        col("lang") === "en", dim = 32, iters = 3, lr = 0.2)
      val (pq, keep) = graft.operators.Training.scoreLogReg(col("text"), w)
      d.select(col("doc_id"), pq.as("pq"), keep.as("pred_keep"))
    }),

    // Train → score → EVALUATE: exact confusion counts at the
    // pq>=5000 threshold plus Mann–Whitney ROC-AUC with exact
    // average-rank tie handling (integers until one final division) —
    // the metric a curation pipeline gates model swaps on.
    "txt_lr_eval" -> ((s, dir) => {
      val d = docs(s, dir)
      val w = graft.operators.Training.trainLogRegWeights(d, "text",
        col("lang") === "en", dim = 32, iters = 3, lr = 0.2)
      val (pq, _) = graft.operators.Training.scoreLogReg(col("text"), w)
      graft.operators.Training.evalBinary(
        d.select(pq.as("pq"), col("lang")), "pq", col("lang") === "en")
    }),

    // JSONL round trip: write the corpus as JSON-lines (the exchange
    // format of every public training-data release), read it back,
    // and prove identity against the parquet original — gated on
    // md5(text) so any escaping/encoding loss in either direction
    // hash-fails. The written dataset is line-splittable, so a 100 TB
    // export re-reads with full parallelism.
    "q_jsonl_roundtrip" -> ((s, dir) => {
      val out = sys.props("java.io.tmpdir") + "/g_jsonl_docs"
      docs(s, dir).write.mode("overwrite").json(out)
      s.read.json(out)
        .select(col("doc_id").cast("long"), col("lang"), col("source"),
          col("n_chars").cast("long"),
          md5(col("text").cast("binary")).as("text_md5"))
    }),

    // Per-group quantile sketch: token-count p50/p90/p99 per language
    // from the mergeable equi-width histogram — |langs|·64 integer
    // cells shuffle, deterministic interpolation per group.
    "sk_quant_group" -> ((s, dir) => {
      import graft.operators.Sketches
      val d = docs(s, dir)
      val hist = Sketches.histSketchGrouped(
        d.select(col("lang"),
          TextFunctions.tokenCount(col("text")).as("n_tok")),
        Seq("lang"), col("n_tok"), lit(0.0), lit(200.0), bins = 64)
      Sketches.histQuantilesGrouped(hist, Seq("lang"),
        lit(0.0), lit(200.0), 64, Seq(0.5, 0.9, 0.99))
    }),

    // MULTICLASS softmax training (5-way lang-ID, 2 GD steps over 16
    // hashed buckets + intercept): K margins per doc in one native
    // pass; the softmax is integer-quantized at both seams (shifted
    // exp to the 1e6 grid, probabilities to the 1e4 grid) so every
    // gradient sum is exact and the oracle replays the iterations
    // over a (j, k, w) weight table bit-for-bit.
    "txt_softmax_train" -> ((s, dir) =>
      graft.operators.Training.trainSoftmax(docs(s, dir), "text",
        langIdx(col("lang")), k = 5, dim = 16, iters = 2, lr = 0.2)),

    // Softmax serving: argmax-margin class per doc (ties to the lower
    // class id; margins order-match probabilities so serving needs no
    // exp) with the freshly trained weights.
    "txt_softmax_pred" -> ((s, dir) => {
      val d = docs(s, dir)
      val w = graft.operators.Training.trainSoftmaxWeights(d, "text",
        langIdx(col("lang")), k = 5, dim = 16, iters = 2, lr = 0.2)
      d.select(col("doc_id"),
        graft.operators.Training.predictSoftmax(col("text"), w).as("yhat"))
    }),

    // Train → score → CURATE composition: the freshly trained
    // classifier gates the corpus (any positive evidence, pq > 0 —
    // three GD steps on a 44%-positive corpus leave the model
    // underfit-conservative, so the meaningful cut at this budget is
    // above-zero, not above-half) and exact dedup folds the keepers
    // to min-id survivors — the model-in-the-loop curation pipeline
    // as one run, hash-gated end to end.
    "pipe_train_curate" -> ((s, dir) => {
      val d = docs(s, dir)
      val w = graft.operators.Training.trainLogRegWeights(d, "text",
        col("lang") === "en", dim = 32, iters = 3, lr = 0.2)
      val (pq, _) = graft.operators.Training.scoreLogReg(col("text"), w)
      val kept = d.select(col("doc_id"), col("text"), pq.as("pq"))
        .where(col("pq") > 0L)
      Dedup.dropExactDuplicates(kept, "doc_id", "text")
        .select(col("doc_id"), col("pq"))
    }),

    // Reliability/calibration table: per pq-decile bucket the exact
    // row count, positive count, and pq sum (all longs — ratios are
    // the consumer's one division). The companion diagnostic to
    // txt_lr_eval's AUC.
    "txt_lr_calibration" -> ((s, dir) => {
      val d = docs(s, dir)
      val w = graft.operators.Training.trainLogRegWeights(d, "text",
        col("lang") === "en", dim = 32, iters = 3, lr = 0.2)
      val (pq, _) = graft.operators.Training.scoreLogReg(col("text"), w)
      d.select(pq.as("pq"),
          (col("lang") === "en").cast("long").as("y"))
        .groupBy((col("pq") / 1000).cast("int").as("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"),
          sum(col("pq")).as("sum_pq"))
    }),

    // Repetition quality signals: duplicate-bigram fraction, top-bigram
    // occurrence share, duplicate-trigram fraction. One native
    // tokenize+count pass per row (`RepStatsExpr`, spec-matched to the
    // Column form in TextFunctions), no shuffle; the scan is
    // repartitioned so per-row work spreads past the single parquet
    // file's one split.
    // Char-entropy quality signal (one native pass; ascending-code-
    // point sum order so the 6-dp value is cross-engine stable).
    "txt_entropy" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        round(graft.functions.NativeExprs.charEntropyNative(col("text")), 6)
          .as("entropy"))),

    "txt_rep" -> ((s, dir) => {
      val r = graft.functions.NativeExprs.repStatsNative(col("text"))
      graft.operators.Repartition.forCompute(docs(s, dir)).select(col("doc_id"),
        r("dup2").as("dup2"),
        r("top2").as("top2"),
        r("dup3").as("dup3"))
    }),

    // PRE-tokenizer token counting: letter runs / digit runs / single
    // punctuation — the GPT-2-style pre-tokenization pass, counted as
    // a cost/quality signal. This is deliberately NOT the trained
    // tokenizer: the library has exactly ONE trained-BPE encoder
    // (TextFunctions.bpeEncode, the native merge-application
    // expression), and that path is hash-gated end to end by
    // txt_bpe_roundtrip below. A trained-token COUNT gate would be
    // unverifiable (merge application has no ANSI-SQL form), so the
    // count gate covers the pre-tokenizer stage instead.
    "txt_tokens_bpe" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        size(expr("regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\\\s]', 0)"))
          .as("n_bpe_tokens"))),

    // REAL BPE (Sennrich 2016) merge training lives in
    // TextFunctions.bpeTrainMerges: one distributed word-frequency scan
    // (bounded by maxVocab), then the inherently rank-sequential merge
    // loop on the driver. Iterative merge training has no ANSI-SQL
    // form, so the merge TABLE itself is deliberately NOT a driver
    // gate (an unverifiable entry reads as broken in the hard signal);
    // its coverage is (a) txt_bpe_roundtrip below — hash-gated, and it
    // exercises the trained table end-to-end through encode+invert —
    // and (b) the independent serial-oracle equality in PipelineOpsSpec.

    // The trained tokenizer's losslessness law, hash-gated: encode
    // every document with the in-engine-trained merges, reconstruct by
    // concatenating tokens and turning the </w> sentinel back into
    // spaces — must equal the whitespace-normalized input, which the
    // DuckDB oracle computes with NO BPE state at all. Exercises the
    // full train → encode → invert path end to end.
    "txt_bpe_roundtrip" -> ((s, dir) => {
      val d = docs(s, dir)
      val merges = graft.functions.TextFunctions.bpeTrainMerges(d, "text", nMerges = 50)
      // forCompute: the per-doc BPE encode is the dense stage and
      // otherwise rides the single-file scan on one task (0.7 s
      // serial by the jobs probe).
      graft.operators.Repartition.forCompute(d).select(col("doc_id"),
        rtrim(regexp_replace(
          concat_ws("", graft.functions.TextFunctions.bpeEncode(col("text"), merges)),
          "</w>", " ")).as("rejoined"))
    }),

    // Winnowing fingerprint over MD5 window hashes, exploded to
    // (doc_id, selected position, window hash) — DuckDB recomputes the
    // full selection, so the winnowing law itself is hash-gated.
    "fp_winnow" -> ((s, dir) =>
      graft.operators.Repartition.forCompute(docs(s, dir))
        .select(col("doc_id"),
          explode(graft.functions.NativeExprs.winnowMd5Native(col("text"))).as("g"))
        .select(col("doc_id"), col("g.pos").as("pos"), col("g.gh").as("gh"))),

    // End-to-end training-data prep: quality-filter then per-language
    // corpus stats — the composition a real pipeline runs.
    "q_quality_filter" -> ((s, dir) =>
      docs(s, dir)
        .withColumn("quality", TextFunctions.qualityScore(col("text")))
        .where(col("quality") >= 0.3)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(TextFunctions.tokenCount(col("text")).cast("long")).as("total_tokens"),
          round(avg("quality"), 6).as("avg_quality"))),

    // Normalization + PII scrubbing: synthetic email/phone spans are
    // appended deterministically so the redaction regexes do real work
    // on every row (the corpus itself carries no PII).
    "txt_normalize" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextFunctions.normalizeText(col("text")).substr(1, 80).as("norm80"),
        TextFunctions.redactPii(concat(
          lit("contact "), col("source"), lit("@example.org or call +1 (415) 555-01"),
          lpad((col("doc_id") % 100).cast("string"), 2, "0"),
          lit(" about: "), substring(col("text"), 1, 40))).as("redacted"))),

    // PII detection + scrub: the corpus carries no PII, so
    // deterministic email / IPv4 / phone spans derived from doc_id are
    // appended (the oracle rebuilds the same augmented text) and the
    // staged count-and-redact law — emails counted on raw text, IPs
    // after email redaction, phones after both, so every span lands
    // under exactly one type — is hash-gated end to end. Phones are
    // injected on every third doc only, so zero-count rows are
    // exercised too. Pure regexp builtins: codegen'd, linear per row,
    // embarrassingly parallel at any scale.
    "txt_pii" -> ((s, dir) => {
      val aug = concat(
        substring(col("text"), 1, 60),
        lit(" reach "), col("source"), lit(".team+"),
        col("doc_id").cast("string"),
        lit("@data.example.com host 192.168."),
        (col("doc_id") % 200).cast("string"), lit("."),
        (col("doc_id") % 250).cast("string"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" tel +44 20 7946 09"),
            lpad((col("doc_id") % 100).cast("string"), 2, "0")))
          .otherwise(lit(" no phone")))
      docs(s, dir)
        .select(col("doc_id"), TextFunctions.piiStats(aug).as("p"))
        .select(col("doc_id"),
          col("p.n_email").as("n_email"), col("p.n_ip").as("n_ip"),
          col("p.n_phone").as("n_phone"), col("p.redacted").as("redacted"))
    }),

    // Language-ID heuristic (stopword profiles, deterministic argmax).
    "txt_langid" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextFunctions.langId(TextFunctions.tokens(col("text"))).as("pred_lang"))),

    // Vocabulary building: top-200 corpus tokens by frequency
    // (explode → map-side-combined agg → TakeOrdered, never a full
    // sort).
    "txt_vocab" -> ((s, dir) =>
      graft.operators.TfIdf.vocabulary(
        graft.operators.Repartition.forCompute(docs(s, dir)), "text", 200)),

    // Tokenizer-vocab coverage: per-doc OOV rate under the corpus's
    // own top-200 vocabulary — the signal that sizes a tokenizer
    // vocab (what share of running tokens falls to byte/unk
    // fallback). Broadcast anti-join on the token stream; the only
    // shuffle is the per-doc count.
    "txt_oov" -> ((s, dir) =>
      graft.operators.TfIdf.vocabCoverage(
        graft.operators.Repartition.forCompute(docs(s, dir)),
        "doc_id", "text", 200)),

    // Per-document keyword extraction: top-5 terms by tf-idf with the
    // rational idf (N+1)/(df+1) — IEEE-exact cross-engine, so the
    // ranking itself is hash-gated (ln-idf variant is spec-checked).
    "txt_tfidf" -> ((s, dir) =>
      graft.operators.TfIdf.topTerms(
        graft.operators.Repartition.forCompute(docs(s, dir)),
        "doc_id", "text", k = 5)),

    // Document fingerprint (1-perm MinHash over 8-gram shingles).
    "fp_minhash1" -> ((s, dir) =>
      graft.operators.Repartition.forCompute(docs(s, dir))
        .select(col("doc_id"),
          TextFunctions.minhashFingerprint(col("text"), 8).as("fp"))),

    // Exact dedup: representative + count per distinct text.
    "dd_exact" -> ((s, dir) =>
      Dedup.exact(docs(s, dir), "doc_id", "text")),

    // Segment-level (C4-style "line") dedup: 10-word segments, corpus-
    // wide keep-first via skew-safe min-agg + equijoin (no window over
    // segment content), docs reassembled in order.
    "dd_segment_dedup" -> ((s, dir) =>
      Dedup.dropDuplicateSegments(docs(s, dir), "doc_id", "text", segWords = 10)),

    // C4-style boilerplate REMOVAL: segments occurring in > 2 distinct
    // docs are dropped from every doc (vs keep-first above). Distinct-
    // doc counting partial-aggregates map-side; the drop is a seg-keyed
    // anti-join, so hot boilerplate keys never buffer on one task.
    "dd_boilerplate" -> ((s, dir) =>
      Dedup.dropFrequentSegments(docs(s, dir), "doc_id", "text",
        segWords = 10, maxDocFreq = 2)),

    // Exact duplicated-substring sweep (Lee et al. 2022 window form):
    // 40-char windows at stride 10; an instance is duplicated when its
    // exact text occurs in >= 2 distinct docs. Per-doc stats row; the
    // frequency agg and membership semi-join shuffle 96-bit window
    // hashes, never window text.
    "dd_substring" -> ((s, dir) =>
      Dedup.duplicatedWindowStats(docs(s, dir), "doc_id", "text",
        width = 40, stride = 10, minDocFreq = 2)),

    // CCNet-style LM quality signal: average unigram surprisal (bits
    // per token) under the corpus's own exact unigram MLE. Per-token
    // log-probs are integer-quantized once, so all distributed sums are
    // order-independent and the 6-dp score is cross-engine exact.
    "txt_unigram_lm" -> ((s, dir) =>
      graft.operators.LanguageModel.unigramSurprisal(
        docs(s, dir), "doc_id", "text")),

    // Conditional bigram surprisal — the next-order LM quality signal:
    // -1/(n-1) Σ log2 p(w_i|w_{i-1}) under the corpus's own bigram
    // MLE, prefix-count normalized (no zeros, no smoothing knob).
    // Quantized-integer log-probs keep every distributed sum
    // order-independent, so the 6-dp score is hash-gated.
    "txt_bigram_lm" -> ((s, dir) =>
      graft.operators.LanguageModel.bigramSurprisal(
        docs(s, dir), "doc_id", "text")),

    // CCNet-style perplexity bucketing: head/middle/tail per language
    // by unigram surprisal vs aggregate-only mean ± 0.4307σ thresholds
    // (the exact-tercile cut under normality; exact terciles would
    // need a per-language global sort — see Curation scaladoc). The
    // oracle recomputes the full LM chain, the quantized per-lang
    // moments, and the same IEEE threshold arithmetic.
    "txt_ppl_buckets" -> ((s, dir) =>
      graft.operators.Curation.surprisalBuckets(
        docs(s, dir), "doc_id", "text", "lang")),

    // Gopher-style per-domain cap: top-10 docs per source by quality
    // score (ties by doc_id; the cap BINDS at every gate sf — 25+
    // docs/source at sf0.01) — the rank filter rides WindowGroupLimit
    // so hot domains prune map-side.
    "dd_domain_cap" -> ((s, dir) =>
      graft.operators.Curation.capPerGroup(docs(s, dir), "source",
          graft.functions.TextFunctions.qualityScore(col("text")), "doc_id", cap = 10)
        .select(col("doc_id"), col("source"), col("rk"))),

    // Contamination sweep: corpus docs sharing >= 10 distinct 8-gram
    // shingles with any of the first 5 docs (standing in for an eval
    // probe set).
    "dd_contamination" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.contaminationPairs(
        d.where(col("doc_id") >= 5), d.where(col("doc_id") < 5),
        "doc_id", "text", shingleK = 8, minOverlap = 10)
    }),

    // Fingerprint-blocked exact token-Jaccard near-dup pairs. The
    // block cap is part of the checked path (mirrored in the oracle
    // SQL): a boilerplate min-shingle shared by 10^6 docs must never
    // go quadratic. Largest observed block is 315 at sf0.1, so 1000
    // leaves the result unchanged while bounding the worst block at
    // ~500k pairs.
    "dd_fp_jaccard" -> ((s, dir) =>
      Dedup.fingerprintJaccardPairs(docs(s, dir), "doc_id", "text", 8,
        maxBlockSize = 1000)),

    // Edit-distance similarity join on a short derived field (the
    // leading 64 chars as a title surrogate): ED-Join prefix q-gram
    // filtering + banded-levenshtein verify, exact distances out.
    // Complete (no cap) — the oracle is the brute-force length-banded
    // levenshtein self-join.
    "dd_edit_join" -> ((s, dir) =>
      Dedup.editDistancePairs(
        docs(s, dir).select(col("doc_id"),
          substring(col("text"), 1, 64).as("title")),
        "doc_id", "title", maxDist = 4, q = 2)),

    // Cross-corpus (delta vs standing corpus) edit-distance pairs —
    // the incremental-ingest form of the ED-Join, same 250-id split
    // as dd_cross_corpus.
    "dd_edit_cross" -> ((s, dir) => {
      val t = docs(s, dir).select(col("doc_id"),
        substring(col("text"), 1, 64).as("title"))
      Dedup.crossCorpusEditPairs(
        t.where(col("doc_id") < 250), t.where(col("doc_id") >= 250),
        "doc_id", "title", maxDist = 4, q = 2)
    }),

    // Sequence packing (concat-then-chunk): per-language shard-local
    // packing into 2048-token training sequences — each doc gets the
    // sequence index and offset of its first token. packBy is the
    // scale path (sort is shard-local, never global).
    // Deterministic train/val/test split (960/20 per-mille hash cuts):
    // reproducible from the key alone — contamination-auditable.
    "q_dataset_split" -> ((s, dir) =>
      graft.operators.Sampling.datasetSplit(docs(s, dir), "doc_id", 960, 20)
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          sum(TextFunctions.tokenCount(col("text")).cast("long")).as("n_tokens"))),

    // Per-source dataset card: docs / exact token totals / quantized
    // mean quality / language spread / exact-dup footprint — one
    // map-side-combined aggregate + the digest-keyed dup accounting.
    "q_source_report" -> ((s, dir) =>
      graft.operators.Profile.sourceReport(docs(s, dir),
        "doc_id", "text", "source", "lang")),

    // Near-dup cluster-id export: the (member, cluster) map itself —
    // the analysis artifact behind survivor selection (cluster-size
    // distributions, manual audit, provenance). comp = min reachable
    // id; singletons carry no row.
    "dd_clusters" -> ((s, dir) => {
      val d = docs(s, dir)
      val pairs = Dedup.fingerprintJaccardPairs(d, "doc_id", "text", 8,
        maxBlockSize = 1000)
        .where(col("jaccard") >= 0.5)
      graft.operators.ConnectedComponents.run(pairs.cache())
        .select(col("node").as("doc_id"), col("comp").as("cluster_id"))
    }),

    // Quality-aware survivor selection: same fingerprint-blocked
    // Jaccard pair graph as dd_survivors, but each near-dup cluster
    // keeps its HIGHEST-QUALITY member (ties to the lower id) instead
    // of the minimal id — the curation policy a real pipeline wants.
    "dd_best_survivor" -> ((s, dir) => {
      val d = docs(s, dir)
      val pairs = Dedup.fingerprintJaccardPairs(d, "doc_id", "text", 8,
        maxBlockSize = 1000)
        .where(col("jaccard") >= 0.5)
      graft.operators.ConnectedComponents
        .dropNearDuplicatesByScore(d, "doc_id", pairs,
          TextFunctions.qualityScore(col("text")))
        .select(col("doc_id"),
          TextFunctions.qualityScore(col("text")).as("quality"))
    }),

    // Duplicate-span detection (Lee et al. exact-substring dedup at
    // 8-gram granularity): doc pairs sharing >= 2 distinct 8-token
    // windows + how many — the evidence a span-level deduper acts on.
    // One map pass to distinct window hashes, one hash shuffle,
    // capped buckets, pinned pair expansion.
    "dd_span_overlap" -> ((s, dir) =>
      Dedup.duplicateSpanPairs(docs(s, dir), "doc_id", "text", n = 8,
        maxDocsPerSpan = 100, minShared = 2)),

    // Span-overlap dedup POLICY: duplicate-span pairs → connected
    // components → min-id survivor per cluster (the Lee et al.
    // exact-substring dedup applied at document granularity — drop
    // docs sharing >= 2 distinct 8-token windows with an earlier doc,
    // transitively).
    "dd_span_survivors" -> ((s, dir) => {
      val d = docs(s, dir)
      val pairs = Dedup.duplicateSpanPairs(d, "doc_id", "text", n = 8,
        maxDocsPerSpan = 100, minShared = 2)
      graft.operators.ConnectedComponents.dropNearDuplicates(d, "doc_id", pairs)
        .select("doc_id")
    }),

    // Incremental dedup: the deterministic 80/20 hash split plays
    // "historical corpus" vs "daily delta"; the base digest index is
    // PERSISTED bucketed-by-digest (probe joins read it
    // exchange-free — only the delta shuffles), then the delta's new
    // uniques are the anti-join survivors folded to min-id reps.
    "dd_incremental" -> ((s, dir) => {
      val d = docs(s, dir)
      val bkt = graft.operators.Sampling.hashBucket(col("doc_id"))
      Dedup.writeDigestIndex(d.where(bkt < 800), "doc_id", "text", GateTables.name("g_dd_idx"), 8)
      Dedup.incrementalNewUniques(d.where(bkt >= 800), "doc_id", "text",
          s.table(GateTables.name("g_dd_idx")))
        .select(col("keep_id").as("doc_id"), col("digest"), col("n"))
    }),

    // Incremental FUZZY dedup: the near-dup analogue of
    // dd_incremental — the 80% "standing corpus" is persisted as a
    // MinHash band-bucket index (bucketed by (band, bucket), bucket
    // counts in its histogram for the cap), and the 20% "delta"
    // probes it: index side exchange-free, exact-Jaccard verified.
    // Same recall argument as dd_minhash_lsh (32×4 bands at j >= 0.9
    // true pairs: miss ~1e-15), so the gate provably equals the
    // brute-force cross-Jaccard the DuckDB oracle computes.
    "dd_incr_fuzzy" -> ((s, dir) => {
      val d = docs(s, dir)
      val bkt = graft.operators.Sampling.hashBucket(col("doc_id"))
      val t = GateTables.name("g_mh_idx")
      IndexLifecycle.writeGrowableMinHashIndex(d.where(bkt < 800), "doc_id",
        "text", t, 8)
      IndexLifecycle.probeStandingMinHashIndex(d.where(bkt >= 800), "doc_id",
        "text", t, d.where(bkt < 800), threshold = 0.7)
    }),

    // The multi-day index LIFECYCLE: day-1 build (hash split < 600),
    // day-2 APPEND (600..799) — O(delta), no index rewrite — day-3
    // probe (>= 800) against the GROWN index. Result must equal a
    // fresh build over the merged base exactly (same bucket space by
    // construction; cap truth = gen-0 histogram (+) statlog), so the
    // gate shares dd_incr_fuzzy's brute-force cross-Jaccard oracle:
    // delta >= 800 vs base < 800, however the base was accumulated.
    "pipe_idx_lifecycle" -> ((s, dir) => {
      val d = docs(s, dir)
      val bkt = graft.operators.Sampling.hashBucket(col("doc_id"))
      val t = GateTables.name("g_mh_grow")
      IndexLifecycle.writeGrowableMinHashIndex(
        d.where(bkt < 600), "doc_id", "text", t, 8)
      IndexLifecycle.appendToMinHashIndex(
        d.where(bkt >= 600 && bkt < 800), "doc_id", "text", t)
      IndexLifecycle.probeStandingMinHashIndex(
        d.where(bkt >= 800), "doc_id", "text", t,
        d.where(bkt < 800), threshold = 0.7)
    }),

    // Day-4 of the lifecycle: COMPACT the grown index (re-count from
    // the 3-long rows only — text is never re-banded; the statlog
    // folds into the histogram), then probe. Same oracle as the
    // lifecycle gate: compaction must be result-invisible.
    "pipe_idx_compact" -> ((s, dir) => {
      val d = docs(s, dir)
      val bkt = graft.operators.Sampling.hashBucket(col("doc_id"))
      val t = GateTables.name("g_mh_grow2")
      IndexLifecycle.writeGrowableMinHashIndex(
        d.where(bkt < 600), "doc_id", "text", t, 8)
      IndexLifecycle.appendToMinHashIndex(
        d.where(bkt >= 600 && bkt < 800), "doc_id", "text", t)
      IndexLifecycle.compactMinHashIndex(s, t, 8)
      IndexLifecycle.probeStandingMinHashIndex(
        d.where(bkt >= 800), "doc_id", "text", t,
        d.where(bkt < 800), threshold = 0.7)
    }),

    // The production daily sweep end-to-end: cross-dedup the delta
    // against the persisted fuzzy index, then fuzzy-dedup WITHIN the
    // cleaned delta (LSH self-join) and fold clusters to min-id
    // survivors — the exact doc set an appender would add to the
    // corpus. Every stage is the scale path: exchange-free index
    // probe, banded self-join on the (small) delta only, CC on
    // output-sized pair edges.
    "pipe_incr_sweep" -> ((s, dir) => {
      val d = docs(s, dir)
      val bkt = graft.operators.Sampling.hashBucket(col("doc_id"))
      val base = d.where(bkt < 800)
      val delta = d.where(bkt >= 800)
      val t = GateTables.name("g_mh_idx2")
      IndexLifecycle.writeGrowableMinHashIndex(base, "doc_id", "text", t, 8)
      val crossDup = IndexLifecycle.probeStandingMinHashIndex(delta, "doc_id",
          "text", t, base, threshold = 0.7)
        .select(col("id_a").as("doc_id")).distinct()
      // cache(): fresh feeds the within-delta banding, the verify
      // text joins, and the survivor anti-join — uncached, each
      // re-executes the whole cross-probe chain (index read + verify
      // + anti-join). Query-scoped, same policy as the dedup family.
      val fresh = delta.join(crossDup, Seq("doc_id"), "left_anti").cache()
      val within = Dedup.minhashNearDupPairs(fresh, "doc_id", "text",
        threshold = 0.7)
      graft.operators.ConnectedComponents
        .dropNearDuplicates(fresh, "doc_id", within)
        .select("doc_id")
    }),

    // BM25 top-5 retrieval: 5 deterministic 3-term queries drawn from
    // the corpus's own top-15 vocabulary (rank order, so the query set
    // is oracle-reproducible). Corpus is never shuffled for scoring —
    // broadcast query terms + quantized-long term sums; the only
    // row-count shuffle is the WindowGroupLimit top-k.
    "srch_bm25" -> ((s, dir) =>
      graft.operators.Search.bm25TopK(docs(s, dir), "doc_id", "text",
        vocabQueries(s, dir), 5)),

    // Hybrid retrieval: RRF-fuse the BM25 top-20 with the token-
    // coverage top-20 (quantized reciprocal ranks, ties to lower id).
    // The fusion never touches the corpus — only the two bounded
    // candidate lists union, aggregate, and window.
    "srch_rrf" -> ((s, dir) => {
      val d = docs(s, dir)
      val qs = vocabQueries(s, dir)
      val a = graft.operators.Search.bm25TopK(d, "doc_id", "text", qs, 20)
      val b = graft.operators.Search.overlapTopK(d, "doc_id", "text", qs, 20)
      graft.operators.Search.rrfFuse(
        Seq(a.select("query_id", "doc_id", "rnk"), b), "doc_id", 5)
    }),

    // BM25 served from the persisted postings index
    // (index-once/probe-forever): build the token-bucketed postings +
    // df + stats tables, then probe — the probe reads only the query
    // vocabulary's buckets (bucket pruning on the IN filter) and
    // never touches the corpus text. Result-identical to srch_bm25,
    // pinned against the same oracle.
    "srch_bm25_idx" -> ((s, dir) => {
      graft.operators.Search.writeBm25Index(docs(s, dir), "doc_id", "text",
        GateTables.name("g_bm25"), 8)
      graft.operators.Search.bm25TopKFromIndex(s, GateTables.name("g_bm25"),
        vocabQueriesFromPostings(s, GateTables.name("g_bm25")), 5)
    }),

    // The large-|Q| BM25 regime: same persisted index, but the query
    // set stays a DataFrame end-to-end — postings-join plan, zero
    // driver collect, no isInCollection vocab literal. Pinned against
    // the SAME oracle as srch_bm25/srch_bm25_idx (the three paths are
    // result-identical by design).
    "srch_bm25_bulk" -> ((s, dir) => {
      graft.operators.Search.writeBm25Index(docs(s, dir), "doc_id", "text",
        GateTables.name("g_bm25b"), 8)
      graft.operators.Search.bm25TopKFromIndexBulk(s, GateTables.name("g_bm25b"),
        vocabQueriesFromPostings(s, GateTables.name("g_bm25b")), 5)
    }),

    // Retrieval end-to-end: chunk the corpus into 64/48 passages, then
    // BM25-retrieve the top-5 PASSAGES per corpus-derived query — the
    // RAG indexing+retrieval pipeline as one lazy plan (stats, df, and
    // scoring all over the passage table; passage_id = doc_id·10^5 +
    // chunk_id is reversible).
    "pipe_retrieval" -> ((s, dir) => {
      val passages = graft.operators.Chunking
        .chunkTokensWithText(docs(s, dir), "doc_id", "text", 64, 48)
        .select((col("doc_id") * 100000L + col("chunk_id")).as("passage_id"),
          col("chunk_text"))
      graft.operators.Search.bm25TopK(passages, "passage_id", "chunk_text",
        vocabQueries(s, dir), 5)
    }),

    // Passage chunking: fixed 64-token windows, stride 48 (16-token
    // overlap) — pure-map posexplode + slice, md5 chunk fingerprints
    // so downstream chunk-level ops shuffle 32 B hashes, not text.
    "txt_chunks" -> ((s, dir) =>
      graft.operators.Chunking.chunkTokens(docs(s, dir), "doc_id", "text", 64, 48)),

    "q_pack_sequences" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("lang"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tok"))
      graft.operators.Packing.packBy(d, "n_tok", 2048L, "doc_id", "lang")
        .select(col("doc_id"), col("lang"), col("n_tok"),
          col("seq"), col("seq_offset"))
    }),

    // End-to-end corpus build: quality filter → exact-dedup survivors
    // → deterministic 80% sample → per-language sequence packing, as
    // ONE lazy plan — the composition proof that the curation
    // operators chain without materialization barriers.
    "pipe_e2e" -> ((s, dir) => {
      val q = docs(s, dir)
        .where(TextFunctions.qualityScore(col("text")) >= 0.3)
      val dd = Dedup.dropExactDuplicates(q, "doc_id", "text")
      val sampled = graft.operators.Sampling.hashSample(dd, "doc_id", 0.8)
      val withTok = sampled.select(col("doc_id"), col("lang"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tok"))
      graft.operators.Packing.packBy(withTok, "n_tok", 2048L, "doc_id", "lang")
        .select(col("doc_id"), col("lang"), col("n_tok"),
          col("seq"), col("seq_offset"))
    }),

    // End-to-end CURATION pipeline — the round-6 tier composed as one
    // lazy plan: Gopher per-domain cap (top-15 per source by quality)
    // → CCNet perplexity buckets ON THE CAPPED corpus (the LM and its
    // thresholds are recomputed over survivors, not the full corpus)
    // → drop the tail bucket → token-budget mix (rates derived from
    // the kept set) → deterministic training shards. Gate output is
    // per-shard corpus stats; the oracle replays the whole chain as
    // one CTE stack, so every stage seam is hash-checked.
    "pipe_curation" -> ((s, dir) => {
      val capped = graft.operators.Curation.capPerGroup(docs(s, dir), "source",
        TextFunctions.qualityScore(col("text")), "doc_id", cap = 15).drop("rk")
      val kept = graft.operators.Curation.surprisalBuckets(
          capped, "doc_id", "text", "lang")
        .where(col("bucket") =!= "tail")
      val mixed = graft.operators.Sampling.mixToTokenBudget(kept, "doc_id",
        "lang", col("n_tok"), Map("en" -> 6000L, "zh" -> 2000L))
      graft.sources.Sinks.assignTrainingShards(mixed, "doc_id", nShards = 4)
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok").cast("long")).as("total_tokens"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"))
    }),

    // Incremental-ingest dedup: "new" docs (doc_id < 250) vs the
    // standing corpus (doc_id >= 250) — cross pairs only, fingerprint
    // blocked, combined block cap, exact-Jaccard verified at j >= 0.5.
    "dd_cross_corpus" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.crossCorpusJaccardPairs(
        d.where(col("doc_id") < 250), d.where(col("doc_id") >= 250),
        "doc_id", "text", 8, maxBlockSize = 1000)
        .where(col("jaccard") >= 0.5)
    }),

    // MinHash + LSH near-dup pairs at threshold 0.7: with 32 bands × 4
    // rows the per-pair miss probability at j >= 0.7 is (1-0.7^4)^32
    // ≈ 1.5e-4 and the corpus's true pairs all sit at j >= 0.9 (miss
    // ≈ 1e-15), so LSH + exact verification provably equals the
    // brute-force Jaccard pair set the DuckDB oracle computes.
    "dd_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashNearDupPairs(docs(s, dir), "doc_id", "text",
        threshold = 0.7, numHashes = 128, bands = 32, rowsPerBand = 4)),

    // The four zipf_* gates run the suite's CPU-headliner plans on the
    // COMMITTED realistic-text asset (50k-token Zipfian vocabulary)
    // instead of the ~31-word driver corpus, with the same oracle
    // laws — so realistic-selectivity regressions become visible to
    // CORRECTNESS/BENCH, not just to probes (VERDICT r13 #2).
    // Near-dup structure is planted (the mm mutation law) because the
    // asset has none; the UNPLANTED 90% supplies the statistics.
    "zipf_minhash" -> ((s, dir) =>
      Dedup.minhashNearDupPairs(zipfWithMutants(s, 1000, 100),
        "doc_id", "text", threshold = 0.9)),

    "zipf_spans" -> ((s, dir) =>
      Dedup.duplicateSpanPairs(zipfWithMutants(s, 1000, 100),
        "doc_id", "text", n = 8, maxDocsPerSpan = 100, minShared = 2)),

    "zipf_edit_join" -> ((s, dir) =>
      Dedup.editDistancePairs(
        zipfWithMutants(s, 1000, 100).select(col("doc_id"),
          substring(col("text"), 1, 64).as("title")),
        "doc_id", "title", maxDist = 4, q = 2)),

    "zipf_bm25" -> ((s, dir) => {
      val z = zipfDocs(s)
      graft.operators.Search.bm25TopK(z, "doc_id", "text",
        vocabQueriesOf(z), 5)
    }),

    // SimHash near-dup pairs with MD5 token hashes and maxHamming = 3:
    // pigeonhole blocking over 4 × 16-bit chunks has GUARANTEED recall
    // for hamming <= 3, so the blocked equijoin provably equals the
    // oracle's brute-force hamming scan over the same MD5 simhashes.
    "dd_simhash" -> ((s, dir) =>
      Dedup.simhashNearDupPairs(docs(s, dir), "doc_id", "text",
        maxHamming = 3)),

    // Embedding near-dup: cosine >= 0.4, blocked on label × multi-table
    // hyperplane-LSH buckets — the checked query IS the scale path
    // (equijoin on (label, table, bucket), never all-pairs-per-label).
    // bits DERIVED from the corpus count (Dedup.lshBitsFor: ceil(log2(
    // n/100)) clamped to >= 3) — the oracle recomputes the same law
    // from count(*), so the gate holds at every sf while bucket size
    // stays ~constant instead of growing with the corpus.
    "dd_embed_cosine" -> ((s, dir) =>
      Dedup.embeddingNearDupPairsLsh(embs(s, dir), "vec_id", "embedding",
        threshold = 0.4, tables = 4, seed = 42L,
        extraBlockCols = Seq("label"), maxBucketSize = 1000)),

    // SemDeDup (Abbas et al. 2023): k-means the embedding space
    // (k DERIVED from count(*) by law — min(n, max(8, ceil(n/250))),
    // so expected cluster size stays ~250 at any corpus and the
    // within-cluster quadratic pair work never grows with scale;
    // iters=2, centroids on the 1e-6 grid, the emb_kmeans
    // trajectory), then within each cluster collapse every cosine >=
    // 0.38 duplicate GROUP (connected component of the pair graph)
    // to its min-id survivor. The oracle recomputes the same k law
    // from count(*), replays the identical Lloyd trajectory, and
    // closes the pair graph with a recursive CTE, so the exact
    // survivor set is hash-gated at every sf.
    "dd_semantic" -> ((s, dir) =>
      Dedup.semanticDedup(embs(s, dir), "vec_id", "embedding",
        iters = 2, threshold = 0.38)),

    // End-to-end SEMANTIC curation chain: hashed-classifier gate on
    // the documents (clf_score >= 0) -> SemDeDup over the SURVIVORS'
    // embeddings (k derived from the filtered count, min-id component
    // survivors) -> (doc_id, cid, clf_score). One lazy plan; the
    // oracle chains the same classifier CTE into the Lloyd/component
    // CTE stack, with c0 seeded by rank over the filtered ids (the
    // filtered id set is non-contiguous, so seeding is rank-based,
    // matching kmeansAssign's orderBy(id).limit(k)).
    "pipe_semantic" -> ((s, dir) => {
      // The scored frame is CACHED: semanticDedup scans its input ~5
      // times (sizing count, train sample, assign, both pair-join
      // branches), and without the cache every scan re-runs the
      // classifier over the FULL document corpus (measured 36 s at
      // the sf10 rehearsal, ~5x the classifier's own cost). Caching
      // the narrow (doc_id, clf_score) projection — 16 B/row, the
      // right thing to pin at any corpus size — makes the re-scans
      // cheap columnar embedding reads + a hash join.
      val scored = docs(s, dir).select(col("doc_id"),
        TextFunctions.hashedLinearScore(col("text"), 262144).as("clf_score"))
        .where(col("clf_score") >= 0.0)
        .cache()
      val eligible = embs(s, dir)
        .join(scored, col("vec_id") === col("doc_id"))
        .select("vec_id", "embedding")
      Dedup.semanticDedup(eligible, "vec_id", "embedding",
          iters = 2, threshold = 0.34)
        .join(scored, col("vec_id") === col("doc_id"))
        .select(col("doc_id"), col("cid"), col("clf_score"))
    }),

    // Full dedup: fingerprint-blocked exact-Jaccard pairs (j >= 0.5) ->
    // distributed connected components -> one survivor (min id) per
    // cluster. The pair set is DuckDB-expressible, so the oracle
    // recomputes the components via a recursive closure and the whole
    // survivors pipeline is hash-gated.
    "dd_survivors" -> ((s, dir) => {
      val d = docs(s, dir)
      val pairs = Dedup.fingerprintJaccardPairs(d, "doc_id", "text", 8,
        maxBlockSize = 1000)
        .where(col("jaccard") >= 0.5)
      graft.operators.ConnectedComponents.dropNearDuplicates(d, "doc_id", pairs)
        .select("doc_id")
    }),

    // Embedding near-dup blocked by multi-table hyperplane-LSH buckets
    // (the label-free scale path; LCG hyperplanes so the oracle can
    // recompute every bucket). bits derived from count(*) by the same
    // law as dd_embed_cosine; bucket cap in the checked path, mirrored
    // in the oracle, bounds a degenerate direction.
    "dd_embed_lsh" -> ((s, dir) =>
      Dedup.embeddingNearDupPairsLsh(embs(s, dir), "vec_id", "embedding",
        threshold = 0.3, tables = 3, seed = 42L,
        maxBucketSize = 1000)),

    // IVF-flat ANN: 8-cell sampled coarse quantizer, nprobe=2, top-3 —
    // assignment argmax, probe selection, and rerank are all
    // deterministic (9-dp rounding, id tie-breaks), so the oracle
    // recomputes the inverted file exactly.
    "knn_ivf" -> ((s, dir) => {
      val e = embs(s, dir)
      val q = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("vec"))
      val c = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.ivfTopK(q, c, k = 3, nCells = 8, nprobe = 2)
        .select(col("qid"), col("id"), col("rk"))
    }),

    // IVF served from a PERSISTED index (the similarity tier's
    // incremental-state path): centroids + cell-assigned corpus
    // written bucketed-by-cell once, probed without re-assigning or
    // re-shuffling the corpus. Same assignment/probe/rerank law as
    // knn_ivf — the oracle is knn_ivf's verbatim, pinning
    // index-serving == inline.
    // Exact quantized second moments of the first 16 embedding dims
    // (upper-triangle Σxᵢxⱼ, marginals, count — all exact longs via
    // milli-grid quantization): the distributed half of PCA/whitening
    // for the ANN tier. One pure-map pass + a 153-key map-side-
    // combined aggregate; the vectors never shuffle.
    "emb_moments" -> ((s, dir) =>
      graft.operators.EmbedStats.secondMoments(embs(s, dir), "embedding", 16)),

    "knn_ivf_idx" -> ((s, dir) => {
      val e = embs(s, dir)
      Similarity.writeIvfIndex(e, "vec_id", "embedding", nCells = 8,
        GateTables.name("g_ivf_cent"), GateTables.name("g_ivf_asg"), buckets = 8)
      val q = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("vec"))
      Similarity.ivfTopKFromIndex(q, s.table(GateTables.name("g_ivf_cent")),
          s.table(GateTables.name("g_ivf_asg")), k = 3, nprobe = 2)
        .select(col("qid"), col("id"), col("rk"))
    }),

    // Product-quantized ANN (PQ/ADC): per-subspace Lloyd codebooks
    // (engine-exact trajectory), one-scan encode to m=4 3-bit codes,
    // ADC scoring via driver-built lookup tables — the whole
    // train→encode→search pipeline is hash-gated.
    "knn_pq" -> ((s, dir) => {
      import graft.operators.ProductQuant
      val e = embs(s, dir)
      val cbs = ProductQuant.trainCodebooks(e, "vec_id", "embedding",
        m = 4, subDim = 16, k = 8, iters = 2)
      val codes = ProductQuant.encode(e, "vec_id", "embedding", cbs, subDim = 16)
      val probes = e.where(col("vec_id") < 3).orderBy("vec_id")
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toSeq
      ProductQuant.adcTopK(codes, probes, cbs, subDim = 16, topK = 5)
    }),

    // IVF-PQ: coarse inverted file (8 sampled cells, 2 probed) over
    // the PQ code table — ADC scores only the probes' cells, the
    // production ANN layout. Same deterministic seams as knn_pq +
    // knn_ivf, so the combined pipeline stays hash-gated.
    "knn_ivfpq" -> ((s, dir) => {
      import graft.operators.ProductQuant
      val e = embs(s, dir)
      val cbs = ProductQuant.trainCodebooks(e, "vec_id", "embedding",
        m = 4, subDim = 16, k = 8, iters = 2)
      val codes = ProductQuant.encode(e, "vec_id", "embedding", cbs, subDim = 16)
      val cells = Similarity.assignCells(e, "vec_id", "embedding", nCells = 8)
      def collectVecs(df: org.apache.spark.sql.DataFrame) = df
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toSeq
      val centroids = collectVecs(e.orderBy("vec_id").limit(8))
      val probes = collectVecs(e.where(col("vec_id") < 3).orderBy("vec_id"))
      ProductQuant.ivfAdcTopK(codes, cells, centroids, probes, cbs,
        subDim = 16, nprobe = 2, topK = 5)
    }),

    // Brute-force exact cosine top-5 for the first 10 vectors.
    "knn_cosine" -> ((s, dir) => {
      val e = embs(s, dir)
      val q = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("vec"))
      val c = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.cosineTopK(q, c, k = 5)
        .select(col("qid"), col("id"), col("rk"))
    }),

    // ANN (hyperplane-LSH) top-3 with LCG buckets: the oracle
    // recomputes the buckets, the candidate join, and the rerank, so
    // the whole ANN pipeline is hash-gated. Recall vs exact is
    // spec-checked on the splitmix variant. `bits` is DERIVED from the
    // corpus count (lshBitsFor, the default) and the oracle recomputes
    // the same law from count(*) — no checked LSH path carries a fixed
    // bucket granularity.
    "knn_ann" -> ((s, dir) => {
      val e = embs(s, dir)
      val q = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("vec"))
      val c = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.annTopK(q, c, k = 3)
        .select(col("qid"), col("id"), col("rk"))
    }),

    // ANN quality harness: recall@5 of the LSH path against exact
    // brute-force, per query — the measurement a production ANN tier
    // ships with (is the approximation good enough BEFORE trusting it
    // at scale). Both sides are the gated operators above; the overlap
    // is a (qid, id) semi-join, so the oracle recomputes the whole
    // comparison end to end.
    "knn_recall" -> ((s, dir) => {
      val e = embs(s, dir)
      val q = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("vec"))
      val c = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
      val exact = Similarity.cosineTopK(q, c, k = 5).select("qid", "id")
      val ann = Similarity.annTopK(q, c, k = 5)
        .select("qid", "id")
      val hits = exact.join(ann, Seq("qid", "id"), "left_semi")
        .groupBy("qid").agg(count(lit(1)).as("hit_n"))
      q.select("qid").join(hits, Seq("qid"), "left")
        .select(col("qid"),
          coalesce(col("hit_n"), lit(0L)).as("n_hit"),
          round(coalesce(col("hit_n"), lit(0L)) / 5.0, 6).as("recall"))
    }),

    // JL random projection 64 -> 16 dims (Lehmer-LCG directions, no
    // stored matrix): the payload-shrinking step ahead of ANN at scale.
    // Gate shape: one row per (vector, output dim) — the driver's hash
    // compare handles scalars, not arrays — value rounded to 6 dp.
    "emb_project" -> ((s, dir) =>
      Similarity.randomProject(
        embs(s, dir).select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", dims = 16)
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("j", "val")))
        .select(col("vec_id"), col("j"), round(col("val"), 6).as("val"))),

    // Approximate k-NN JOIN: EVERY vector's top-5 neighbors among its
    // multi-table LSH bucket mates (derived bits, capped buckets,
    // exact cosine rerank, WindowGroupLimit top-k). The per-probe-set
    // sibling is knn_ann; this is the semantic-dedup/cluster-seed op.
    "knn_join" -> ((s, dir) =>
      Similarity.annSelfTopK(
        embs(s, dir).select(col("vec_id").as("id"), col("embedding").as("vec")),
        k = 5, tables = 3, maxBucketSize = 1000)),

    // Per-label embedding centroid via the typed VectorMean Aggregator
    // (map-side partial aggregation; one buffer per label/partition).
    // First four dims exposed for the oracle.
    "emb_centroid" -> ((s, dir) => {
      val cent = embs(s, dir)
        .select(col("label"), col("embedding").cast("array<double>").as("v"))
        .groupBy("label")
        .agg(graft.functions.VectorAgg.vectorMean(col("v")).as("c"),
          count(lit(1)).as("n"))
      cent.select(col("label"), col("n"),
        round(element_at(col("c"), 1), 6).as("c1"),
        round(element_at(col("c"), 2), 6).as("c2"),
        round(element_at(col("c"), 3), 6).as("c3"),
        round(element_at(col("c"), 4), 6).as("c4"))
    }),

    // K-means curation clusters: 2 Lloyd iterations, k=8, deterministic
    // seed (lowest vec_ids) and 1e-6-grid centroid snapping, so the
    // whole trajectory — assignments included — is engine-exact and
    // hash-gated. Centroid components land on the grid; no output
    // rounding needed. `n` counts the FULL corpus under the returned
    // centroids (oracle CTE a3). Training reads a <= 100k-row hash
    // sample — the identity at every gate sf (500/2000 vectors), so
    // the oracle's unsampled training CTEs stay exact; the sample-
    // parity law itself is spec-tested (PipelineOpsSpec).
    "emb_kmeans" -> ((s, dir) =>
      graft.operators.Clustering.kmeansCentroids(embs(s, dir), "vec_id", "embedding",
          k = 8, iters = 2)
        .select(col("cid"), col("n"),
          element_at(col("c"), 1).as("c1"), element_at(col("c"), 2).as("c2"),
          element_at(col("c"), 3).as("c3"), element_at(col("c"), 4).as("c4"))),

    // Data mixing: deterministic per-language sampling rates over a
    // hash-of-key bucket — reproducible across engines, so the oracle
    // recomputes the exact surviving set.
    "q_mix_sample" -> ((s, dir) =>
      graft.operators.Sampling.stratifiedHashSample(docs(s, dir), "doc_id", "lang",
        Map("en" -> 0.8, "de" -> 0.5, "fr" -> 0.2), defaultRate = 1.0)
        .groupBy("lang")
        .agg(count(lit(1)).as("n"), min("doc_id").as("min_id"), max("doc_id").as("max_id"))),

    // Token-budget mixing: rates DERIVED from per-language token
    // totals (en capped at 20k tokens, zh at 5k, others unlimited) —
    // q_mix_sample's fixed-rate sibling where the budget, not the
    // rate, is the spec. All-integer rate arithmetic, so the oracle
    // recomputes the exact kept set.
    "q_token_budget" -> ((s, dir) =>
      graft.operators.Sampling.mixToTokenBudget(docs(s, dir), "doc_id", "lang",
          size(split(trim(col("text")), "\\s+")),
          Map("en" -> 20000L, "zh" -> 5000L))
        .groupBy("lang")
        .agg(count(lit(1)).as("n"),
          sum(size(split(trim(col("text")), "\\s+")).cast("long")).as("kept_tokens"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"))),

    // Temperature-flattened mixing (share ~ tokens^alpha, alpha=0.5,
    // anchored at the smallest stratum): q_token_budget's temperature
    // sibling. alpha=0.5 rides IEEE sqrt — correctly rounded in every
    // engine — so the derived per-mille rates and the exact kept set
    // are oracle-reproducible.
    "q_temp_mix" -> ((s, dir) =>
      graft.operators.Sampling.temperatureMix(docs(s, dir), "doc_id", "lang",
          size(split(trim(col("text")), "\\s+")), alpha = 0.5)
        .groupBy("lang")
        .agg(count(lit(1)).as("n"),
          sum(size(split(trim(col("text")), "\\s+")).cast("long")).as("kept_tokens"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"))),

    // Deterministic training-export sharding: the reproducible "global
    // shuffle" a training run reads — shard = md5₁₆(doc_id) mod 8,
    // pos = 1-based rank of (md5hex, doc_id) within the shard. The
    // whole permutation is hash-gated: every (doc_id, shard, pos)
    // triple must match the oracle recomputing the same law. At scale
    // this is nShards independent sorts, never one global sort.
    "q_shard_order" -> ((s, dir) =>
      graft.sources.Sinks.assignTrainingShards(
          docs(s, dir).select("doc_id"), "doc_id", nShards = 8)
        .select(col("doc_id"), col("shard"), col("pos"))),

    // Quality-weighted sampling: keep probability = 0.5 · quality —
    // more of the good data, less of the bad, no hard threshold.
    // Same determinism laws as q_mix_sample (md5-of-key decision).
    "q_weighted_sample" -> ((s, dir) =>
      graft.operators.Sampling.weightedHashSample(docs(s, dir), "doc_id",
        graft.functions.TextFunctions.qualityScore(col("text")), rate = 0.5)
        .groupBy("lang")
        .agg(count(lit(1)).as("n"), min("doc_id").as("min_id"),
          max("doc_id").as("max_id"))),

    // DSIR end-to-end: importance weights toward the English target
    // (txt_dsir's law) then Gumbel-top-k resampling — EXACTLY 200
    // docs drawn without replacement ∝ exp(weight), noise derived
    // from md5(doc_id) so the draw is deterministic and the oracle
    // replays it. Selection is TakeOrdered (per-partition heaps),
    // never a global sort.
    "q_dsir_sample" -> ((s, dir) => {
      val d = docs(s, dir)
      val w = graft.operators.Curation.dsirLogWeights(
        d, d.where(col("lang") === "en"), "doc_id", "text",
        dim = 65536, n = 2)
      graft.operators.Sampling.gumbelTopK(w, "doc_id", col("dsir_micro"), 200)
    }),

    // Int8 embedding quantization: per-vector scale + quantized values
    // + cosine between original and reconstruction (rounding is
    // floor(x+0.5) in both engines, so every output is deterministic).
    "emb_quantize" -> ((s, dir) => {
      val q = embs(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("qz", graft.functions.VectorOps.int8Quantize(col("v")))
        .withColumn("dq", graft.functions.VectorOps.int8Dequantize(col("qz")))
      import graft.functions.NativeExprs.dotNative
      q.select(col("vec_id"),
        round(col("qz.scale"), 9).as("scale"),
        element_at(col("qz.q"), 1).as("q1"),
        element_at(col("qz.q"), 2).as("q2"),
        element_at(col("qz.q"), 3).as("q3"),
        element_at(col("qz.q"), 4).as("q4"),
        round(dotNative(col("v"), col("dq"))
          / (sqrt(dotNative(col("v"), col("v"))) * sqrt(dotNative(col("dq"), col("dq")))), 4)
          .as("recon_cos"))
    }),

    // Multimodal feature extraction: per-media float vector from the
    // batched stub extractor, emitted as integer grid values so the
    // float/double seam can't blur the hash compare.
    // Real feature extraction: fixed Rademacher projection of decoded
    // stats; the ×1000 HALF_UP round recovers the exact milli-grid
    // integer the projection folded in longs (cast to double first so
    // the recovery pays one float rounding, not two).
    "mm_features" -> ((s, dir) => {
      val media = Multimodal.fromDocuments(docs(s, dir), "doc_id", "text", "source")
      val feats = Multimodal.extractFeatures(media, dim = 8)
      feats.select(col("media_id") +:
        (0 until 8).map(d =>
          round(element_at(col("features"), d + 1).cast("double") * 1000)
            .cast("int").as(s"f$d")): _*)
    }),

    // Multimodal frame sampling: every stride-th fixed-size chunk of
    // the payload becomes a frame row; per-media frame count and bytes.
    "mm_frames" -> ((s, dir) => {
      val media = Multimodal.fromDocuments(docs(s, dir), "doc_id", "text", "source")
      Multimodal.sampleFrames(media, frameBytes = 64, stride = 4)
        .groupBy("media_id")
        .agg(count(lit(1)).as("n_frames"),
          sum(length(col("frame")).cast("long")).as("frame_bytes"))
    }),

    // Image near-dup dedup: perceptual dHash (9×8 pooled grid → 64
    // gradient-sign bits) into the pigeonhole Hamming join. The
    // text-backed fixture takes the deterministic byte-pool grid (the
    // no-codec fallback — ANSI-SQL-recomputable; code point == byte on
    // the ASCII corpus); real decodes take the average-pooled pixels
    // (PipelineOpsSpec pins that path against planted PNG near-dups).
    // The corpus has no near-identical texts at sf0.01, so the gate
    // PLANTS one per doc: a same-length single-char overwrite at
    // doc_id % len — the text analogue of a one-block image edit
    // (insertion-free, so the pooled grid moves only locally; an
    // INSERTION shifts every byte downstream and is exactly what a
    // perceptual image hash is NOT meant to survive). maxHamming = 3
    // stays inside the guaranteed-recall pigeonhole bound, so the
    // blocked join provably equals the oracle's identical blocking.
    "mm_dedup" -> ((s, dir) => {
      val d = docs(s, dir).select("doc_id", "text", "source")
      val mut = d.select((col("doc_id") + 1000000L).as("doc_id"),
        expr("concat(substr(text, 1, cast(doc_id % greatest(length(text), 1) as int)), 'Z', " +
          "substr(text, cast(doc_id % greatest(length(text), 1) as int) + 2))").as("text"),
        col("source"))
      val media = Multimodal.fromDocuments(d.unionByName(mut),
        "doc_id", "text", "source")
      Dedup.imageNearDupPairs(media, maxHamming = 3)
        .select(col("id_a"), col("id_b"), col("hamming"))
    }),

    // Frame-level (video) near-dup: sample every 32-byte frame of
    // each payload (stride 1 — the corpus's docs are short; a real
    // video pipeline strides), dHash each frame, pair media sharing
    // >= 2 distinct frame fingerprints — the shared-scene law. The
    // planted mutant differs in exactly one frame, so it shares all
    // the others with its original.
    "mm_frame_dedup" -> ((s, dir) => {
      val d = docs(s, dir).select("doc_id", "text", "source")
      val mut = d.select((col("doc_id") + 1000000L).as("doc_id"),
        expr("concat(substr(text, 1, cast(doc_id % greatest(length(text), 1) as int)), 'Z', " +
          "substr(text, cast(doc_id % greatest(length(text), 1) as int) + 2))").as("text"),
        col("source"))
      val media = Multimodal.fromDocuments(d.unionByName(mut),
        "doc_id", "text", "source")
      Dedup.frameNearDupPairs(media, frameBytes = 32, stride = 1,
        minShared = 2)
    }),

    // Image-dedup POLICY end to end: dHash near-dup pairs → connected
    // components → min-id survivor per cluster — the media analogue
    // of dd_survivors, so a user gets the kept-set directly, not just
    // the pair evidence.
    "mm_survivors" -> ((s, dir) => {
      val d = docs(s, dir).select("doc_id", "text", "source")
      val mut = d.select((col("doc_id") + 1000000L).as("doc_id"),
        expr("concat(substr(text, 1, cast(doc_id % greatest(length(text), 1) as int)), 'Z', " +
          "substr(text, cast(doc_id % greatest(length(text), 1) as int) + 2))").as("text"),
        col("source"))
      val all = d.unionByName(mut)
      val pairs = Dedup.imageNearDupPairs(
        Multimodal.fromDocuments(all, "doc_id", "text", "source"),
        maxHamming = 3).select("id_a", "id_b")
      graft.operators.ConnectedComponents
        .dropNearDuplicates(all, "doc_id", pairs)
        .select("doc_id")
    }),

    // Incremental image dedup: persist the dHash chunk index over the
    // full corpus (bucketed by the pigeonhole key — probes read it
    // exchange-free), then probe a delta of mutated copies of the
    // md5-bucket >= 800 slice against it. Daily-sweep shape for the
    // image modality: payload bytes touched once at index time, the
    // sweep joins 8-byte fingerprints.
    "mm_incr_dedup" -> ((s, dir) => {
      val d = docs(s, dir).select("doc_id", "text", "source")
      Dedup.writeDHashIndex(
        Multimodal.fromDocuments(d, "doc_id", "text", "source"),
        GateTables.name("g_dh_idx"), 8)
      val bkt = graft.operators.Sampling.hashBucket(col("doc_id"))
      val mut = d.where(bkt >= 800).select(
        (col("doc_id") + 1000000L).as("doc_id"),
        expr("concat(substr(text, 1, cast(doc_id % greatest(length(text), 1) as int)), 'Z', " +
          "substr(text, cast(doc_id % greatest(length(text), 1) as int) + 2))").as("text"),
        col("source"))
      Dedup.incrementalImageNearDups(
        Multimodal.fromDocuments(mut, "doc_id", "text", "source"),
        s.table(GateTables.name("g_dh_idx")))
    }),

    // Image similarity search end to end: payload → decoded-stat
    // Rademacher features (the mm_features law, recovered onto the
    // exact milli-integer grid so engine and oracle rank the same
    // vectors) → brute-force cosine top-5 per query image — the
    // multimodal × similarity composition a media search needs. The
    // query set broadcasts; the corpus streams (the knn_cosine plan).
    "mm_knn" -> ((s, dir) => {
      val media = Multimodal.fromDocuments(docs(s, dir), "doc_id", "text", "source")
      val iv = Multimodal.extractFeatures(media, dim = 8)
        .select(col("media_id"), expr(
          "transform(features, x -> cast(round(cast(x as double) * 1000) as double))")
          .as("v"))
      val q = iv.where(col("media_id") % 50 === 0)
        .select(col("media_id").as("qid"), col("v").as("vec"))
      val c = iv.select(col("media_id").as("id"), col("v").as("vec"))
      Similarity.cosineTopK(q, c, k = 5)
        .select(col("qid"), col("id"), col("rk"))
    }),

    // Multimodal plumbing: binary payload → stub decode → aggregate.
    "mm_decode_stats" -> ((s, dir) => {
      val media = Multimodal.fromDocuments(docs(s, dir), "doc_id", "text", "source")
      Multimodal.decodeImages(media)
        .groupBy(col("meta.source").as("source"))
        .agg(count(lit(1)).as("n"),
          sum(col("width").cast("long")).as("sum_w"),
          sum(col("height").cast("long")).as("sum_h"))
    }))

  /** knn_pq oracle, generated: the emb_kmeans recursive-Lloyd CTE
    * chain instantiated once per PQ subspace (slice offsets 0/16/32/48,
    * dim 16, k=8, 2 iterations), then encode, probe LUTs, and the ADC
    * score join. Same determinism seams as emb_kmeans: sequential
    * list_sum dots, 1e-6 centroid snap, (score, cid) tie-breaks.
    * The subspace chain is shared with [[ivfPqOracleSql]]. */
  private def pqSubspaceCtes: String = {
    val subs = (0 until 4).map { s =>
      val o = 16 * s
      def iter(n: Int): String = {
        val prev = s"c$s${n - 1}"
        s"""s$s$n AS (SELECT e.id, e.v, c.cid,
           |    list_sum(list_transform(c.c, x -> x * x)) -
           |    2 * list_sum(list_transform(range(1, 17), i -> e.v[i] * c.c[i])) AS s
           |  FROM e$s e CROSS JOIN $prev c),
           |a$s$n AS (SELECT id, v, cid FROM (
           |    SELECT id, v, cid, row_number() OVER (PARTITION BY id ORDER BY s, cid) AS rn
           |    FROM s$s$n) WHERE rn = 1),
           |m$s$n AS (SELECT cid, d, floor(avg(v[d]) * 1000000 + 0.5) / 1000000 AS mv
           |  FROM a$s$n CROSS JOIN range(1, 17) t(d) GROUP BY cid, d),
           |c$s$n AS (SELECT p.cid, coalesce(mm.c, p.c) AS c
           |  FROM $prev p LEFT JOIN (
           |    SELECT cid, list(mv ORDER BY d) AS c FROM m$s$n GROUP BY cid) mm
           |    ON p.cid = mm.cid)""".stripMargin
      }
      s"""e$s AS (SELECT vec_id AS id,
         |  list_transform(range(1, 17), i -> embedding[CAST($o + i AS INT)]::DOUBLE) AS v
         |  FROM embeddings),
         |c${s}0 AS (SELECT CAST(id AS INT) AS cid, v AS c FROM e$s WHERE id < 8),
         |${iter(1)},
         |${iter(2)},
         |n$s AS (SELECT id, cid AS code FROM (
         |    SELECT e.id, c.cid, row_number() OVER (PARTITION BY e.id ORDER BY
         |      list_sum(list_transform(c.c, x -> x * x)) -
         |      2 * list_sum(list_transform(range(1, 17), i -> e.v[i] * c.c[i])), c.cid) AS rn
         |    FROM e$s e CROSS JOIN c${s}2 c) WHERE rn = 1),
         |l$s AS (SELECT q.id AS qid, c.cid AS code,
         |    list_sum(list_transform(c.c, x -> x * x)) -
         |    2 * list_sum(list_transform(range(1, 17), i -> q.v[i] * c.c[i])) AS part
         |  FROM e$s q CROSS JOIN c${s}2 c WHERE q.id < 3)""".stripMargin
    }
    subs.mkString(",\n")
  }

  private def pqOracleSql: String =
    s"""WITH $pqSubspaceCtes,
       |sc AS (SELECT n0.id, l0.qid, l0.part + l1.part + l2.part + l3.part AS score
       |  FROM n0 JOIN n1 ON n0.id = n1.id JOIN n2 ON n0.id = n2.id JOIN n3 ON n0.id = n3.id
       |  JOIN l0 ON l0.code = n0.code
       |  JOIN l1 ON l1.code = n1.code AND l1.qid = l0.qid
       |  JOIN l2 ON l2.code = n2.code AND l2.qid = l0.qid
       |  JOIN l3 ON l3.code = n3.code AND l3.qid = l0.qid)
       |SELECT qid, id, round(score, 6) AS score, rk FROM (
       |  SELECT qid, id, score,
       |    row_number() OVER (PARTITION BY qid ORDER BY score, id) AS rk FROM sc) t
       |WHERE rk <= 5""".stripMargin

  /** knn_ivfpq oracle: the PQ subspace chain plus the knn_ivf coarse
    * assignment/probe CTEs (9-dp cosine, ties to the smaller centroid
    * id); ADC scoring restricted to each probe's 2 cells. */
  private def ivfPqOracleSql: String =
    s"""WITH $pqSubspaceCtes,
       |v AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
       |  FROM embeddings),
       |cent AS (SELECT vec_id AS cent_id, embedding AS centv, nrm AS cnrm
       |         FROM v ORDER BY vec_id LIMIT 8),
       |asg AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT a.vec_id, c.cent_id AS cell,
       |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
       |        round(list_sum(list_transform(range(1, len(a.embedding) + 1),
       |          i -> a.embedding[CAST(i AS INT)]::DOUBLE * c.centv[CAST(i AS INT)]::DOUBLE)) / (a.nrm * c.cnrm), 9) DESC, c.cent_id) AS crk
       |    FROM v a, cent c) WHERE crk = 1),
       |probe AS (
       |  SELECT qid, cell FROM (
       |    SELECT q.vec_id AS qid, c.cent_id AS cell,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        round(list_sum(list_transform(range(1, len(q.embedding) + 1),
       |          i -> q.embedding[CAST(i AS INT)]::DOUBLE * c.centv[CAST(i AS INT)]::DOUBLE)) / (q.nrm * c.cnrm), 9) DESC, c.cent_id) AS prk
       |    FROM v q, cent c WHERE q.vec_id < 3) WHERE prk <= 2),
       |sc AS (SELECT n0.id, l0.qid, l0.part + l1.part + l2.part + l3.part AS score
       |  FROM n0 JOIN n1 ON n0.id = n1.id JOIN n2 ON n0.id = n2.id JOIN n3 ON n0.id = n3.id
       |  JOIN l0 ON l0.code = n0.code
       |  JOIN l1 ON l1.code = n1.code AND l1.qid = l0.qid
       |  JOIN l2 ON l2.code = n2.code AND l2.qid = l0.qid
       |  JOIN l3 ON l3.code = n3.code AND l3.qid = l0.qid
       |  JOIN asg ON asg.vec_id = n0.id
       |  JOIN probe p ON p.cell = asg.cell AND p.qid = l0.qid)
       |SELECT qid, id, round(score, 6) AS score, rk FROM (
       |  SELECT qid, id, score,
       |    row_number() OVER (PARTITION BY qid ORDER BY score, id) AS rk FROM sc) t
       |WHERE rk <= 5""".stripMargin

  /** Shared by knn_ivf (inline) and knn_ivf_idx (served from the
    * persisted index): the two paths are result-identical by design,
    * so both gates pin against the same SQL. */
  private val knnIvfOracle: String =
    """WITH v AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
      |  FROM embeddings),
      |cent AS (SELECT vec_id AS cent_id, embedding AS centv, nrm AS cnrm
      |         FROM v ORDER BY vec_id LIMIT 8),
      |asg AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT a.vec_id, c.cent_id AS cell,
      |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
      |        round(list_sum(list_transform(range(1, len(a.embedding) + 1),
      |          i -> a.embedding[CAST(i AS INT)]::DOUBLE * c.centv[CAST(i AS INT)]::DOUBLE)) / (a.nrm * c.cnrm), 9) DESC, c.cent_id) AS crk
      |    FROM v a, cent c) WHERE crk = 1),
      |probe AS (
      |  SELECT qid, cell FROM (
      |    SELECT q.vec_id AS qid, c.cent_id AS cell,
      |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |        round(list_sum(list_transform(range(1, len(q.embedding) + 1),
      |          i -> q.embedding[CAST(i AS INT)]::DOUBLE * c.centv[CAST(i AS INT)]::DOUBLE)) / (q.nrm * c.cnrm), 9) DESC, c.cent_id) AS prk
      |    FROM v q, cent c WHERE q.vec_id < 10) WHERE prk <= 2),
      |pairs AS (
      |  SELECT p.qid, a.vec_id AS id,
      |    round(list_sum(list_transform(range(1, len(q.embedding) + 1),
      |      i -> q.embedding[CAST(i AS INT)]::DOUBLE * c.embedding[CAST(i AS INT)]::DOUBLE)) / (q.nrm * c.nrm), 9) AS sim
      |  FROM probe p JOIN asg a USING (cell)
      |       JOIN v q ON q.vec_id = p.qid JOIN v c ON c.vec_id = a.vec_id
      |  WHERE a.vec_id != p.qid)
      |SELECT qid, id, CAST(rk AS INT) AS rk FROM (
      |  SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id) AS rk
      |  FROM pairs) WHERE rk <= 3 ORDER BY qid, rk""".stripMargin

  /** Shared by srch_bm25 (inline fused scoring) and srch_bm25_idx
    * (served from the persisted postings index): the two paths are
    * result-identical by design — same scoring law, same per-term
    * HALF_UP micro-unit quantization — so both gates pin against the
    * same SQL. */
  private val incrFuzzyOracle: String =
    """WITH bkt AS (
      |  SELECT doc_id, text,
      |    ((instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
      |   + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
      |   + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
      |   + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1)) % 1000 AS bkt
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, bkt,
      |    list_distinct(list_transform(range(1, greatest(length(text) - 7, 1) + 1),
      |                                 i -> substr(text, i, 8))) AS s
      |  FROM bkt),
      |sz AS (SELECT doc_id, bkt, s, len(s) AS ns FROM sh)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      |        / (a.ns + b.ns - len(list_intersect(a.s, b.s))), 6) AS jaccard
      |FROM sz a JOIN sz b
      |  ON a.bkt >= 800 AND b.bkt < 800
      | AND least(a.ns, b.ns) * 100 >= 69 * greatest(a.ns, b.ns)
      |WHERE round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      |        / (a.ns + b.ns - len(list_intersect(a.s, b.s))), 6) >= 0.7
      |ORDER BY 1, 2""".stripMargin

  private val srchBm25Oracle: String = bm25Oracle("documents")
  /** The BM25 oracle law over any relation expression (the zipf gate
    * substitutes the committed asset's read_parquet). */
  private def bm25Oracle(rel: String): String =
    s"""WITH tok AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS token
      |  FROM $rel),
      |cnt AS (SELECT token, count(*) AS c FROM tok WHERE token <> '' GROUP BY token),
      |vocab AS (SELECT token, row_number() OVER (ORDER BY c DESC, token) AS rn
      |          FROM cnt ORDER BY c DESC, token LIMIT 15),
      |stats AS (SELECT count(*) AS n_docs,
      |                 sum(len(regexp_split_to_array(trim(text), '\\s+'))) AS sum_dl
      |          FROM $rel),
      |dfc AS (SELECT token, count(DISTINCT doc_id) AS df
      |        FROM tok JOIN vocab USING (token) GROUP BY token),
      |ti AS (SELECT vocab.token, (rn - 1) // 3 AS query_id,
      |              ln(1 + (n_docs - df + 0.5) / (df + 0.5)) AS idf
      |       FROM vocab JOIN dfc USING (token) CROSS JOIN stats),
      |d AS (SELECT doc_id, len(regexp_split_to_array(trim(text), '\\s+')) AS dl
      |      FROM $rel),
      |tf AS (SELECT t.doc_id, t.token, count(*) AS tf
      |       FROM tok t JOIN vocab USING (token) GROUP BY 1, 2),
      |pairs AS (
      |  SELECT ti.query_id, d.doc_id,
      |    CAST(round(ti.idf * coalesce(tf.tf, 0) * 2.2 /
      |         (coalesce(tf.tf, 0) + 1.2 * (1.0 - 0.75 + (0.75 * d.dl) /
      |          (stats.sum_dl / stats.n_docs))) * 1e6) AS BIGINT) AS li
      |  FROM ti CROSS JOIN d
      |  LEFT JOIN tf ON tf.doc_id = d.doc_id AND tf.token = ti.token
      |  CROSS JOIN stats),
      |sc AS (SELECT query_id, doc_id, sum(li) AS s FROM pairs GROUP BY 1, 2),
      |r AS (SELECT query_id, doc_id,
      |        row_number() OVER (PARTITION BY query_id ORDER BY s DESC, doc_id) AS rnk,
      |        s FROM sc)
      |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
      |  CAST(rnk AS BIGINT) AS rnk, round(s / 1e6, 6) AS score
      |FROM r WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin

  /** The logistic-regression training chain, shared by txt_lr_train
    * and txt_lr_score: three GD iterations unrolled as CTE stages on
    * the exact-integer law of [[graft.operators.Training]] — hashed
    * counts (the classifier md5 bucket law), long dot products,
    * 1e-4-quantized sigmoid, micro-unit gradient sums, floor(x+0.5)
    * weight updates. `spine` keeps buckets no token hashes to. */
  /** The DSIR weight chain, shared by txt_dsir and q_dsir_sample:
    * hashed-bigram counts per corpus, add-1-smoothed log ratio
    * quantized to micro-nats per bucket, integer-summed per doc —
    * the classifier md5 bucket law on the gram string. Ends at the
    * per-doc weight CTE `w`. */
  private val dsirWeightCtes: String =
    """tok AS (
      |  SELECT doc_id, lang,
      |    list_filter(regexp_split_to_array(trim(text), '\s+'),
      |                t -> length(t) > 0) AS toks
      |  FROM documents),
      |g AS (
      |  SELECT doc_id, lang,
      |    unnest(CASE WHEN len(toks) >= 2
      |      THEN list_transform(range(1, len(toks)),
      |        i -> CAST(concat('0x', substr(md5(concat(toks[i], ' ', toks[i+1])), 1, 15)) AS BIGINT) % 65536)
      |      ELSE CAST([] AS BIGINT[]) END) AS b
      |  FROM tok),
      |cr AS (SELECT b, count(*) AS c FROM g GROUP BY b),
      |ct AS (SELECT b, count(*) AS c FROM g WHERE lang = 'en' GROUP BY b),
      |tot AS (SELECT (SELECT count(*) FROM g) AS nr,
      |               (SELECT count(*) FROM g WHERE lang = 'en') AS nt),
      |lam AS (
      |  SELECT cr.b,
      |    round((ln((COALESCE(ct.c, 0) + 1.0) / (tot.nt + 65536))
      |         - ln((cr.c + 1.0) / (tot.nr + 65536))) * 1e6) AS lm
      |  FROM cr LEFT JOIN ct ON cr.b = ct.b, tot),
      |sc AS (
      |  SELECT g.doc_id, CAST(SUM(lam.lm) AS BIGINT) AS dsir_micro
      |  FROM g JOIN lam ON g.b = lam.b GROUP BY g.doc_id),
      |w AS (
      |  SELECT d.doc_id, COALESCE(sc.dsir_micro, 0) AS dsir_micro
      |  FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id)""".stripMargin

  private val lrChainSql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(trim(text), '\s+'),
      |                                    t -> length(t) > 0)) AS t
      |  FROM documents),
      |lab AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      |        FROM documents),
      |spine AS (SELECT unnest(range(0, 33)) AS j),
      |f AS (
      |  SELECT doc_id, CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) % 32 AS j,
      |         count(*) AS x
      |  FROM tok GROUP BY 1, 2
      |  UNION ALL SELECT doc_id, 32 AS j, 1 AS x FROM documents),
      |nn AS (SELECT count(*) AS n FROM documents),
      |g1 AS (
      |  SELECT s.j, coalesce(sum(fl.gv), 0) AS g
      |  FROM spine s LEFT JOIN (
      |    SELECT f.j, (5000 - lab.y * 10000) * f.x * 100 AS gv
      |    FROM f JOIN lab USING (doc_id)) fl ON fl.j = s.j
      |  GROUP BY s.j),
      |w1 AS (SELECT g1.j, 0 - CAST(floor(0.2 * g1.g / nn.n + 0.5) AS BIGINT) AS w
      |       FROM g1 CROSS JOIN nn),
      |m2 AS (SELECT f.doc_id, sum(w1.w * f.x) AS m FROM f JOIN w1 USING (j) GROUP BY 1),
      |p2 AS (SELECT doc_id, CAST(floor(1e4 / (1 + exp(-(m / 1e6))) + 0.5) AS BIGINT) AS pq
      |       FROM m2),
      |g2 AS (
      |  SELECT s.j, coalesce(sum(fl.gv), 0) AS g
      |  FROM spine s LEFT JOIN (
      |    SELECT f.j, (p2.pq - lab.y * 10000) * f.x * 100 AS gv
      |    FROM f JOIN lab USING (doc_id) JOIN p2 USING (doc_id)) fl ON fl.j = s.j
      |  GROUP BY s.j),
      |w2 AS (SELECT w1.j, w1.w - CAST(floor(0.2 * g2.g / nn.n + 0.5) AS BIGINT) AS w
      |       FROM w1 JOIN g2 USING (j) CROSS JOIN nn),
      |m3 AS (SELECT f.doc_id, sum(w2.w * f.x) AS m FROM f JOIN w2 USING (j) GROUP BY 1),
      |p3 AS (SELECT doc_id, CAST(floor(1e4 / (1 + exp(-(m / 1e6))) + 0.5) AS BIGINT) AS pq
      |       FROM m3),
      |g3 AS (
      |  SELECT s.j, coalesce(sum(fl.gv), 0) AS g
      |  FROM spine s LEFT JOIN (
      |    SELECT f.j, (p3.pq - lab.y * 10000) * f.x * 100 AS gv
      |    FROM f JOIN lab USING (doc_id) JOIN p3 USING (doc_id)) fl ON fl.j = s.j
      |  GROUP BY s.j),
      |w3 AS (SELECT w2.j, w2.w - CAST(floor(0.2 * g3.g / nn.n + 0.5) AS BIGINT) AS w
      |       FROM w2 JOIN g3 USING (j) CROSS JOIN nn)""".stripMargin

  /** The softmax-training chain, shared by txt_softmax_train and
    * txt_softmax_pred: two GD iterations over a (j, k, w) weight
    * table on [[graft.operators.Training.trainSoftmaxWeights]]'s
    * law — integer margins, shifted exp quantized to the 1e6 grid,
    * probabilities to the 1e4 grid, exact gradient sums,
    * floor(x+0.5) updates. Iteration 1 hardcodes pq = 2000 (all
    * margins 0 under zero weights → uniform 1/5 on the 1e4 grid). */
  private val softmaxChainSql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(trim(text), '\s+'),
      |                                    t -> length(t) > 0)) AS t
      |  FROM documents),
      |cls AS (SELECT * FROM (VALUES (0, 'en'), (1, 'de'), (2, 'es'),
      |                              (3, 'fr'), (4, 'zh')) c(k, lang)),
      |lab AS (SELECT d.doc_id, coalesce(cls.k, 0) AS y
      |        FROM documents d LEFT JOIN cls USING (lang)),
      |spine AS (SELECT a.j, b.k
      |          FROM (SELECT unnest(range(0, 17)) AS j) a,
      |               (SELECT unnest(range(0, 5)) AS k) b),
      |f AS (
      |  SELECT doc_id, CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) % 16 AS j,
      |         count(*) AS x
      |  FROM tok GROUP BY 1, 2
      |  UNION ALL SELECT doc_id, 16 AS j, 1 AS x FROM documents),
      |nn AS (SELECT count(*) AS n FROM documents),
      |g1 AS (
      |  SELECT s.j, s.k, coalesce(sum(fl.gv), 0) AS g
      |  FROM spine s LEFT JOIN (
      |    SELECT f.j, c.k,
      |      (2000 - CASE WHEN l.y = c.k THEN 10000 ELSE 0 END) * 100 * f.x AS gv
      |    FROM f JOIN lab l USING (doc_id)
      |         CROSS JOIN (SELECT unnest(range(0, 5)) AS k) c) fl
      |    ON fl.j = s.j AND fl.k = s.k
      |  GROUP BY s.j, s.k),
      |w1 AS (SELECT g1.j, g1.k, 0 - CAST(floor(0.2 * g1.g / nn.n + 0.5) AS BIGINT) AS w
      |       FROM g1 CROSS JOIN nn),
      |m2 AS (SELECT f.doc_id, w1.k, sum(w1.w * f.x) AS m
      |       FROM f JOIN w1 USING (j) GROUP BY 1, 2),
      |mm2 AS (SELECT doc_id, max(m) AS mm FROM m2 GROUP BY 1),
      |e2 AS (SELECT m2.doc_id, m2.k,
      |         CAST(floor(exp(CAST(m2.m - mm2.mm AS DOUBLE) / 1e6) * 1e6 + 0.5) AS BIGINT) AS eq
      |       FROM m2 JOIN mm2 USING (doc_id)),
      |s2 AS (SELECT doc_id, sum(eq) AS sq FROM e2 GROUP BY 1),
      |p2 AS (SELECT e2.doc_id, e2.k,
      |         CAST(floor(CAST(e2.eq AS DOUBLE) / s2.sq * 1e4 + 0.5) AS BIGINT) AS pq
      |       FROM e2 JOIN s2 USING (doc_id)),
      |g2 AS (
      |  SELECT s.j, s.k, coalesce(sum(fl.gv), 0) AS g
      |  FROM spine s LEFT JOIN (
      |    SELECT f.j, p.k,
      |      (p.pq - CASE WHEN l.y = p.k THEN 10000 ELSE 0 END) * 100 * f.x AS gv
      |    FROM f JOIN lab l USING (doc_id) JOIN p2 p USING (doc_id)) fl
      |    ON fl.j = s.j AND fl.k = s.k
      |  GROUP BY s.j, s.k),
      |w2 AS (SELECT w1.j, w1.k, w1.w - CAST(floor(0.2 * g2.g / nn.n + 0.5) AS BIGINT) AS w
      |       FROM w1 JOIN g2 ON w1.j = g2.j AND w1.k = g2.k CROSS JOIN nn)""".stripMargin

  /** mm_features oracle: replays [[graft.operators.Multimodal
    * .extractFeatures]]' Rademacher projection in DuckDB integer
    * arithmetic. Payloads in the gate are text, so `decodeOne` always
    * falls to the deterministic `fakeDecode` stub — width/height from
    * the first two 16-bit words of md5(text), mean_px from digest
    * byte 4 (hex chars 9-10); byte_mean is the mean unsigned byte of
    * the text (pure ASCII in the documents table: strlen ==
    * octet_length, so char-based `ascii(substr(...))` IS the byte),
    * HALF_UP onto the milli grid exactly as `Quantize.quantizeDouble`
    * (DuckDB's `round(double)` rounds half away from zero; the .5
    * grid points are exactly representable, so it agrees with Java's
    * shortest-decimal HALF_UP for these non-negative stats). The 40
    * ±1 projection signs are inlined as constants from the SAME
    * `Multimodal.projSign` definition the executors evaluate, and the
    * engine's signed long milli-sum s_d is recovered exactly by the
    * gate's `round(f·1000)` (|s_d| < 2^23 for these payloads). */
  /** DuckDB replay of the dHash byte-pool law over a relation
    * `rel(doc_id, text)` — a derived table `(doc_id, dh)`. Shared by
    * the mm_dedup and mm_incr_dedup oracles so the grid/fingerprint
    * SQL exists exactly once. Bit 63 rides the two's-complement
    * constant (DuckDB refuses `1 << 63` as a signed overflow; summing
    * distinct powers equals OR). */
  private def dhashSqlOver(rel: String): String =
    s"""(SELECT doc_id, CAST(list_sum(list_transform(range(64), k ->
       |    CASE WHEN cells[CAST(k//8*9 + k%8 + 1 AS INT)] < cells[CAST(k//8*9 + k%8 + 2 AS INT)]
       |         THEN CASE WHEN k = 63 THEN (-9223372036854775807 - 1)
       |              ELSE (1::BIGINT << CAST(k AS INT)) END
       |         ELSE 0 END)) AS BIGINT) AS dh
       |  FROM (SELECT doc_id, list_transform(range(72), i ->
       |    list_sum(list_transform(
       |      range(i*len(text)//72, greatest((i+1)*len(text)//72, i*len(text)//72 + 1)),
       |      j -> unicode(substr(text, CAST(j+1 AS INT), 1))))
       |    // (greatest((i+1)*len(text)//72, i*len(text)//72 + 1) - i*len(text)//72)) AS cells
       |  FROM $rel))""".stripMargin

  private def mmFeaturesOracle: String = {
    def hex16(pos: Int): String =
      Seq(4096, 256, 16, 1).zipWithIndex.map { case (m, i) =>
        s"(instr('0123456789abcdef', substr(h, ${pos + i}, 1)) - 1) * $m"
      }.mkString("(", "\n          + ", ")")
    val stats = Seq("qw", "qh", "qm", "qb", "ql")
    val feats = (0 until 8).map { d =>
      val terms = stats.zipWithIndex.map { case (s, j) =>
        s"(${graft.operators.Multimodal.projSign(d, j)}) * $s"
      }.mkString(" + ")
      s"  CAST($terms AS INT) AS f$d"
    }.mkString(",\n")
    s"""WITH d AS (
       |  SELECT doc_id, text, md5(text) AS h, strlen(text) AS len FROM documents),
       |b AS (
       |  SELECT doc_id, h, len,
       |    CAST(list_sum(list_transform(range(1, CAST(len AS INT) + 1),
       |      i -> ascii(substr(text, CAST(i AS INT), 1)))) AS BIGINT) AS bsum
       |  FROM d),
       |v AS (
       |  SELECT doc_id,
       |    (64 + (${hex16(1)} % 448)) * 1000 AS qw,
       |    (64 + (${hex16(5)} % 448)) * 1000 AS qh,
       |    ((instr('0123456789abcdef', substr(h, 9, 1)) - 1) * 16
       |     + (instr('0123456789abcdef', substr(h, 10, 1)) - 1)) * 1000 AS qm,
       |    CAST(round(CAST(bsum AS DOUBLE) / len * 1000.0) AS BIGINT) AS qb,
       |    len AS ql
       |  FROM b)
       |SELECT doc_id AS media_id,
       |$feats
       |FROM v ORDER BY 1""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "txt_softmax_train" -> (softmaxChainSql +
      """
        |SELECT CAST(k AS INT) AS k, CAST(j AS INT) AS bucket,
        |  CAST(w AS BIGINT) AS w_micro
        |FROM w2 ORDER BY 1, 2""".stripMargin),
    "txt_softmax_pred" -> (softmaxChainSql +
      """,
        |m3 AS (SELECT f.doc_id, w2.k, sum(w2.w * f.x) AS m
        |       FROM f JOIN w2 USING (j) GROUP BY 1, 2),
        |r3 AS (SELECT doc_id, k,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY m DESC, k) AS rk
        |       FROM m3)
        |SELECT doc_id, CAST(k AS INT) AS yhat FROM r3 WHERE rk = 1
        |ORDER BY doc_id""".stripMargin),
    "txt_lr_train" -> (lrChainSql +
      """
        |SELECT CAST(j AS INT) AS bucket, CAST(w AS BIGINT) AS w_micro
        |FROM w3 ORDER BY bucket""".stripMargin),
    "txt_lr_eval" -> (lrChainSql +
      """,
        |m4 AS (SELECT f.doc_id, sum(w3.w * f.x) AS m FROM f JOIN w3 USING (j) GROUP BY 1),
        |p4 AS (SELECT doc_id, CAST(floor(1e4 / (1 + exp(-(m / 1e6))) + 0.5) AS BIGINT) AS pq
        |       FROM m4),
        |ev AS (SELECT p4.pq, CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
        |       FROM p4 JOIN documents d USING (doc_id)),
        |h AS (SELECT pq, count(*) AS n, sum(y) AS np FROM ev GROUP BY 1),
        |r AS (SELECT pq, n, np,
        |        (sum(n) OVER (ORDER BY pq ROWS UNBOUNDED PRECEDING) - n) * 2 + n + 1 AS ar2
        |      FROM h),
        |agg AS (SELECT
        |    coalesce(sum(CASE WHEN pq >= 5000 THEN np END), 0) AS tp,
        |    coalesce(sum(CASE WHEN pq >= 5000 THEN n - np END), 0) AS fp,
        |    coalesce(sum(CASE WHEN pq < 5000 THEN n - np END), 0) AS tn,
        |    coalesce(sum(CASE WHEN pq < 5000 THEN np END), 0) AS fn,
        |    sum(np) AS pos, sum(n - np) AS neg, sum(np * ar2) AS u2
        |  FROM r)
        |SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
        |  CAST(tn AS BIGINT) AS tn, CAST(fn AS BIGINT) AS fn,
        |  CAST(pos AS BIGINT) AS pos, CAST(neg AS BIGINT) AS neg,
        |  CAST(u2 AS BIGINT) AS u2,
        |  round((u2 / 2.0 - pos * (pos + 1) / 2.0) / (pos * neg), 6) AS auc
        |FROM agg""".stripMargin),

    "q_jsonl_roundtrip" ->
      """SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    "sk_quant_group" ->
      """WITH v AS (
        |  SELECT lang, len(regexp_split_to_array(trim(text), '\s+')) AS n_tok
        |  FROM documents),
        |b AS (
        |  SELECT lang, CAST(least(greatest(floor((CAST(n_tok AS DOUBLE) - 0.0)
        |           / (200.0 - 0.0) * 64.0), 0.0), 63.0) AS BIGINT) AS bin
        |  FROM v WHERE n_tok IS NOT NULL),
        |h AS (SELECT lang, bin, count(*) AS cnt FROM b GROUP BY 1, 2),
        |t AS (SELECT lang, sum(cnt) AS n FROM h GROUP BY 1),
        |c AS (SELECT h.lang, bin, cnt,
        |        sum(cnt) OVER (PARTITION BY h.lang ORDER BY bin
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |        t.n FROM h JOIN t USING (lang)),
        |q AS (SELECT unnest([0.5, 0.9, 0.99]) AS q)
        |SELECT c.lang, q.q,
        |  round(0.0 + (c.bin + (q.q * c.n - (c.cum - c.cnt)) / c.cnt)
        |        * ((200.0 - 0.0) / 64.0), 6) AS est
        |FROM c, q
        |WHERE c.cum >= q.q * c.n AND (c.cum - c.cnt) < q.q * c.n
        |ORDER BY 1, 2""".stripMargin,

    "pipe_train_curate" -> (lrChainSql +
      """,
        |m4 AS (SELECT f.doc_id, sum(w3.w * f.x) AS m FROM f JOIN w3 USING (j) GROUP BY 1),
        |p4 AS (SELECT doc_id, CAST(floor(1e4 / (1 + exp(-(m / 1e6))) + 0.5) AS BIGINT) AS pq
        |       FROM m4),
        |kept AS (SELECT d.doc_id, d.text, p4.pq
        |         FROM p4 JOIN documents d USING (doc_id) WHERE p4.pq > 0),
        |dd AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(text))
        |SELECT k.doc_id, k.pq FROM kept k JOIN dd USING (doc_id)
        |ORDER BY k.doc_id""".stripMargin),

    "txt_lr_calibration" -> (lrChainSql +
      """,
        |m4 AS (SELECT f.doc_id, sum(w3.w * f.x) AS m FROM f JOIN w3 USING (j) GROUP BY 1),
        |p4 AS (SELECT doc_id, CAST(floor(1e4 / (1 + exp(-(m / 1e6))) + 0.5) AS BIGINT) AS pq
        |       FROM m4)
        |SELECT CAST(pq // 1000 AS INT) AS bucket, count(*) AS n,
        |  CAST(sum(CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |  CAST(sum(pq) AS BIGINT) AS sum_pq
        |FROM p4 JOIN documents d USING (doc_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    "txt_lr_score" -> (lrChainSql +
      """,
        |m4 AS (SELECT f.doc_id, sum(w3.w * f.x) AS m FROM f JOIN w3 USING (j) GROUP BY 1),
        |p4 AS (SELECT doc_id, CAST(floor(1e4 / (1 + exp(-(m / 1e6))) + 0.5) AS BIGINT) AS pq
        |       FROM m4)
        |SELECT doc_id, pq,
        |  CASE WHEN pq >= 5000 THEN 1 ELSE 0 END AS pred_keep
        |FROM p4 ORDER BY doc_id""".stripMargin),
    "knn_pq" -> pqOracleSql,
    "knn_ivfpq" -> ivfPqOracleSql,
    "txt_tokens" ->
      """SELECT doc_id, CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_tokens,
        |       CAST(length(text) AS INT) AS len
        |FROM documents ORDER BY doc_id""".stripMargin,

    "txt_entropy" ->
      """WITH ch AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(text, '')) AS c FROM documents),
        |cnt AS (SELECT doc_id, c, count(*) AS n FROM ch GROUP BY 1, 2),
        |tot AS (SELECT doc_id, sum(n) AS N,
        |        list(n * log2(n) ORDER BY c) AS terms FROM cnt GROUP BY 1)
        |SELECT doc_id, round(log2(N) - list_sum(terms) / N, 6) AS entropy
        |FROM tot ORDER BY doc_id""".stripMargin,

    "txt_quality" ->
      """SELECT doc_id,
        |  round(CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE)
        |        / len(regexp_split_to_array(trim(text), '\s+')), 6) AS avg_word_len,
        |  round(CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |        t -> t IN ('the','a','an','of','and','in','to','is'))) AS DOUBLE)
        |        / len(regexp_split_to_array(trim(text), '\s+')), 6) AS stop_ratio,
        |  round(least(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE), 200.0) / 200.0 *
        |        (1.0 - CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |        t -> t IN ('the','a','an','of','and','in','to','is'))) AS DOUBLE)
        |        / len(regexp_split_to_array(trim(text), '\s+'))), 6) AS quality
        |FROM documents ORDER BY doc_id""".stripMargin,

    "txt_classifier" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'),
        |                             t -> length(t) > 0) AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, len(toks) AS n,
        |    list_sum(list_transform(toks,
        |      t -> (CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) % 262144) % 2001 - 1000)) AS ms
        |  FROM tok)
        |SELECT doc_id, clf_score,
        |  CASE WHEN clf_score >= 0 THEN 1 ELSE 0 END AS clf_keep
        |FROM (
        |  SELECT doc_id,
        |    CASE WHEN n > 0 THEN round(CAST(ms AS DOUBLE) / (n * 1000.0), 6)
        |         ELSE 0.0 END AS clf_score
        |  FROM s)
        |ORDER BY doc_id""".stripMargin,

    // The shared DSIR weight chain (dsirWeightCtes), read out per doc.
    "txt_dsir" ->
      s"""WITH $dsirWeightCtes
        |SELECT doc_id, dsir_micro FROM w
        |ORDER BY doc_id""".stripMargin,

    // The weight chain + deterministic Gumbel noise from md5(doc_id),
    // integer sampling key, top-200 by (key desc, id).
    "q_dsir_sample" ->
      s"""WITH $dsirWeightCtes,
        |sel AS (
        |  SELECT doc_id, dsir_micro,
        |    dsir_micro + CAST(round(-ln(-ln(
        |      ((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |        % 9007199254740991) + 0.5) / 9007199254740992)) * 1e6) AS BIGINT) AS samp_micro
        |  FROM w)
        |SELECT doc_id, dsir_micro, samp_micro FROM sel
        |ORDER BY samp_micro DESC, doc_id LIMIT 200""".stripMargin,

    "q_quality_filter" ->
      """WITH q AS (
        |  SELECT doc_id, lang,
        |    len(regexp_split_to_array(trim(text), '\s+')) AS n_tok,
        |    round(least(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE), 200.0) / 200.0 *
        |          (1.0 - CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |          t -> t IN ('the','a','an','of','and','in','to','is'))) AS DOUBLE)
        |          / len(regexp_split_to_array(trim(text), '\s+'))), 6) AS quality
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
        |  round(avg(quality), 6) AS avg_quality
        |FROM q WHERE quality >= 0.3 GROUP BY 1 ORDER BY 1""".stripMargin,

    // Duplicate/top n-gram shares recomputed relationally (unnest +
    // group by); docs too short for any n-gram fall out of the join and
    // take the engine's defined 0.0. Same IEEE division + 6 dp round.
    "txt_rep" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
        |g2 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 1),
        |               i -> w[i] || ' ' || w[i + 1])) AS gram FROM t),
        |g3 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 2),
        |               i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS gram FROM t),
        |c2 AS (SELECT doc_id, gram, count(*) AS c FROM g2 GROUP BY 1, 2),
        |s2 AS (SELECT doc_id, max(c) AS top, sum(c) AS total, count(*) AS nd FROM c2 GROUP BY 1),
        |c3 AS (SELECT doc_id, gram, count(*) AS c FROM g3 GROUP BY 1, 2),
        |s3 AS (SELECT doc_id, max(c) AS top, sum(c) AS total, count(*) AS nd FROM c3 GROUP BY 1)
        |SELECT d.doc_id,
        |  round(coalesce(1.0 - s2.nd / CAST(s2.total AS DOUBLE), 0.0), 6) AS dup2,
        |  round(coalesce(s2.top / CAST(s2.total AS DOUBLE), 0.0), 6) AS top2,
        |  round(coalesce(1.0 - s3.nd / CAST(s3.total AS DOUBLE), 0.0), 6) AS dup3
        |FROM documents d LEFT JOIN s2 ON d.doc_id = s2.doc_id
        |                 LEFT JOIN s3 ON d.doc_id = s3.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "txt_bpe_roundtrip" ->
      """SELECT doc_id,
        |  array_to_string(list_filter(string_split_regex(trim(text), '\s+'),
        |    x -> x <> ''), ' ') AS rejoined
        |FROM documents ORDER BY doc_id""".stripMargin,

    "txt_tokens_bpe" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]', 0)) AS INT) AS n_bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "txt_normalize" ->
      """SELECT doc_id,
        |  substr(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), 1, 80) AS norm80,
        |  regexp_replace(regexp_replace(regexp_replace(
        |    'contact ' || source || '@example.org or call +1 (415) 555-01' ||
        |      lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || ' about: ' || substr(text, 1, 40),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
        |    '\+?[0-9][0-9()\- ]{7,}[0-9]', '<PHONE>', 'g') AS redacted
        |FROM documents ORDER BY doc_id""".stripMargin,

    "txt_pii" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |    substr(text, 1, 60) || ' reach ' || source || '.team+' ||
        |      CAST(doc_id AS VARCHAR) || '@data.example.com host 192.168.' ||
        |      CAST(doc_id % 200 AS VARCHAR) || '.' || CAST(doc_id % 250 AS VARCHAR) ||
        |      CASE WHEN doc_id % 3 = 0
        |           THEN ' tel +44 20 7946 09' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
        |           ELSE ' no phone' END AS t
        |  FROM documents),
        |st AS (
        |  SELECT doc_id, t,
        |    regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |                   '<EMAIL>', 'g') AS t1
        |  FROM aug),
        |st2 AS (
        |  SELECT doc_id, t, t1,
        |    regexp_replace(t1, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b',
        |                   '<IP>', 'g') AS t2
        |  FROM st)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
        |  CAST(len(regexp_extract_all(t1,
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS INT) AS n_ip,
        |  CAST(len(regexp_extract_all(t2,
        |    '\+?[0-9][0-9()\- ]{7,}[0-9]')) AS INT) AS n_phone,
        |  regexp_replace(t2, '\+?[0-9][0-9()\- ]{7,}[0-9]', '<PHONE>', 'g') AS redacted
        |FROM st2 ORDER BY doc_id""".stripMargin,

    "txt_vocab" ->
      """SELECT token, count(*) AS n FROM (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents)
        |WHERE token <> '' GROUP BY 1
        |ORDER BY n DESC, token LIMIT 200""".stripMargin,

    "txt_oov" ->
      """WITH tk AS (
        |  SELECT doc_id, token FROM (
        |    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |    FROM documents) WHERE token <> ''),
        |vocab AS (SELECT token FROM (
        |  SELECT token, count(*) AS n FROM tk GROUP BY 1
        |  ORDER BY n DESC, token LIMIT 200)),
        |per AS (SELECT doc_id, count(*) AS n_tok FROM tk GROUP BY 1),
        |oov AS (SELECT doc_id, count(*) AS oov_n
        |        FROM tk ANTI JOIN vocab USING (token) GROUP BY 1)
        |SELECT p.doc_id, p.n_tok,
        |  CAST(coalesce(o.oov_n, 0) AS BIGINT) AS n_oov,
        |  round(coalesce(o.oov_n, 0) / p.n_tok, 6) AS oov_rate
        |FROM per p LEFT JOIN oov o USING (doc_id)
        |ORDER BY p.doc_id""".stripMargin,

    "txt_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf
        |       FROM toks WHERE token <> '' GROUP BY 1, 2),
        |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.token, tf.tf,
        |    tf.tf * (n.n_docs + 1.0) / (df.df + 1.0) AS score
        |  FROM tf JOIN df USING (token) CROSS JOIN n),
        |r AS (SELECT *, CAST(row_number() OVER (
        |        PARTITION BY doc_id ORDER BY score DESC, token) AS INT) AS rk
        |      FROM scored)
        |SELECT doc_id, token, tf, round(score, 6) AS score, rk
        |FROM r WHERE rk <= 5 ORDER BY doc_id, rk""".stripMargin,

    "txt_langid" ->
      """WITH sc AS (
        |  SELECT doc_id,
        |    len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |        t -> t IN ('the','a','of','and','in','to','is'))) AS s_en,
        |    len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |        t -> t IN ('der','die','das','und','ist','ein'))) AS s_de,
        |    len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |        t -> t IN ('le','la','les','et','est','un'))) AS s_fr
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN greatest(s_en, s_de, s_fr) = 0 THEN 'und'
        |       WHEN s_en = greatest(s_en, s_de, s_fr) THEN 'en'
        |       WHEN s_de = greatest(s_en, s_de, s_fr) THEN 'de'
        |       ELSE 'fr' END AS pred_lang
        |FROM sc ORDER BY doc_id""".stripMargin,

    "fp_minhash1" ->
      """SELECT doc_id,
        |  list_min(list_transform(
        |    list_distinct(list_transform(range(1, greatest(length(text) - 7, 1) + 1),
        |                                 i -> substr(text, i, 8))),
        |    s -> md5(s))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "dd_segment_dedup" ->
      """WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |seg AS (
        |  SELECT doc_id, i,
        |    array_to_string(ws[(i*10+1):least((i+1)*10, len(ws))], ' ') AS seg
        |  FROM w, LATERAL (SELECT unnest(range(0,
        |    greatest(CAST(ceil(len(ws) / 10.0) AS BIGINT), 1))) AS i)),
        |kept AS (
        |  SELECT doc_id, i, seg FROM (
        |    SELECT doc_id, i, seg,
        |      row_number() OVER (PARTITION BY seg ORDER BY doc_id, i) AS rn
        |    FROM seg) WHERE rn = 1)
        |SELECT d.doc_id,
        |  coalesce(k.text, '') AS text
        |FROM documents d LEFT JOIN (
        |  SELECT doc_id, string_agg(seg, ' ' ORDER BY i) AS text
        |  FROM kept GROUP BY doc_id) k USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "dd_boilerplate" ->
      """WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |seg AS (
        |  SELECT doc_id, i,
        |    array_to_string(ws[(i*10+1):least((i+1)*10, len(ws))], ' ') AS seg
        |  FROM w, LATERAL (SELECT unnest(range(0,
        |    greatest(CAST(ceil(len(ws) / 10.0) AS BIGINT), 1))) AS i)),
        |freq AS (
        |  SELECT seg FROM seg GROUP BY seg HAVING count(DISTINCT doc_id) > 2),
        |kept AS (
        |  SELECT s.doc_id, s.i, s.seg FROM seg s ANTI JOIN freq f USING (seg))
        |SELECT d.doc_id,
        |  coalesce(k.text, '') AS text
        |FROM documents d LEFT JOIN (
        |  SELECT doc_id, string_agg(seg, ' ' ORDER BY i) AS text
        |  FROM kept GROUP BY doc_id) k USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "dd_substring" ->
      """WITH win AS (
        |  SELECT doc_id, substr(text, CAST(i AS BIGINT), 40) AS w
        |  FROM documents, LATERAL (SELECT unnest(range(1, length(text) - 40 + 2, 10)) AS i)
        |  WHERE length(text) >= 40),
        |dup AS (SELECT w FROM win GROUP BY w HAVING count(DISTINCT doc_id) >= 2),
        |cnt AS (SELECT doc_id, count(*) AS dup_n
        |        FROM win SEMI JOIN dup USING (w) GROUP BY doc_id),
        |base AS (SELECT doc_id,
        |    CASE WHEN length(text) >= 40
        |         THEN (length(text) - 40) // 10 + 1 ELSE 0 END AS n_windows
        |  FROM documents)
        |SELECT b.doc_id, CAST(b.n_windows AS BIGINT) AS n_windows,
        |  CAST(coalesce(c.dup_n, 0) AS BIGINT) AS n_dup_windows,
        |  CASE WHEN b.n_windows > 0
        |       THEN round(coalesce(c.dup_n, 0) / b.n_windows, 6)
        |       ELSE 0.0 END AS dup_ratio
        |FROM base b LEFT JOIN cnt c USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin,

    "txt_unigram_lm" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents),
        |cnt AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
        |n AS (SELECT sum(c) AS total FROM cnt),
        |lp AS (SELECT token, CAST(round(log2(c / total) * 1e9) AS BIGINT) AS li
        |       FROM cnt CROSS JOIN n),
        |dt AS (SELECT doc_id, token, count(*) AS nt FROM tok GROUP BY 1, 2),
        |d AS (SELECT doc_id, sum(nt) AS n_tok, sum(nt * li) AS s
        |      FROM dt JOIN lp USING (token) GROUP BY doc_id)
        |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
        |  round(-s / 1e9 / n_tok, 6) AS bits_per_token
        |FROM d ORDER BY doc_id""".stripMargin,

    "txt_bigram_lm" ->
      """WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |bg AS (
        |  SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
        |  FROM w, LATERAL (SELECT unnest(range(1, len(ws))) AS i)),
        |cb AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
        |c1 AS (SELECT w1, sum(c2) AS c1 FROM cb GROUP BY 1),
        |lp AS (SELECT w1, w2, CAST(round(log2(c2 / c1) * 1e9) AS BIGINT) AS li
        |       FROM cb JOIN c1 USING (w1)),
        |db AS (SELECT doc_id, w1, w2, count(*) AS nt FROM bg GROUP BY 1, 2, 3),
        |d AS (SELECT doc_id, sum(nt) AS nb, sum(nt * li) AS s
        |      FROM db JOIN lp USING (w1, w2) GROUP BY doc_id)
        |SELECT doc_id, CAST(nb AS BIGINT) AS n_bigrams,
        |  round(-s / 1e9 / nb, 6) AS bits_per_bigram
        |FROM d ORDER BY doc_id""".stripMargin,

    // Same LM chain as txt_unigram_lm, then quantized per-lang moments
    // (HUGEINT sums = Spark's decimal sums, exact) and the identical
    // IEEE threshold expression: s1d/ln first, /1e6 last, mq*mq not
    // pow, 6-dp round before comparison.
    "txt_ppl_buckets" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents),
        |cnt AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
        |n AS (SELECT sum(c) AS total FROM cnt),
        |lp AS (SELECT token, CAST(round(log2(c / total) * 1e9) AS BIGINT) AS li
        |       FROM cnt CROSS JOIN n),
        |dt AS (SELECT doc_id, token, count(*) AS nt FROM tok GROUP BY 1, 2),
        |d AS (SELECT doc_id, sum(nt) AS n_tok, sum(nt * li) AS s
        |      FROM dt JOIN lp USING (token) GROUP BY doc_id),
        |q AS (SELECT d.doc_id, doc.lang, CAST(d.n_tok AS BIGINT) AS n_tok,
        |        round(-d.s / 1e9 / d.n_tok, 6) AS bits_per_token,
        |        CAST(round(round(-d.s / 1e9 / d.n_tok, 6) * 1e6) AS BIGINT) AS bq
        |      FROM d JOIN documents doc ON d.doc_id = doc.doc_id),
        |st AS (SELECT lang, count(*) AS ln, sum(bq) AS s1, sum(bq * bq) AS s2
        |       FROM q GROUP BY lang),
        |thr AS (SELECT lang,
        |  round(CAST(s1 AS DOUBLE) / ln / 1e6
        |    - 0.4307 * sqrt(CAST(s2 AS DOUBLE) / ln
        |        - (CAST(s1 AS DOUBLE) / ln) * (CAST(s1 AS DOUBLE) / ln)) / 1e6, 6) AS t_lo,
        |  round(CAST(s1 AS DOUBLE) / ln / 1e6
        |    + 0.4307 * sqrt(CAST(s2 AS DOUBLE) / ln
        |        - (CAST(s1 AS DOUBLE) / ln) * (CAST(s1 AS DOUBLE) / ln)) / 1e6, 6) AS t_hi
        |  FROM st)
        |SELECT q.doc_id, q.lang, q.n_tok, q.bits_per_token,
        |  CASE WHEN q.bits_per_token < t.t_lo THEN 'head'
        |       WHEN q.bits_per_token >= t.t_hi THEN 'tail'
        |       ELSE 'middle' END AS bucket
        |FROM q JOIN thr t USING (lang) ORDER BY q.doc_id""".stripMargin,

    "dd_domain_cap" ->
      """SELECT doc_id, source, CAST(rk AS INT) AS rk FROM (
        |  SELECT doc_id, source, row_number() OVER (PARTITION BY source ORDER BY
        |    round(least(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE), 200.0) / 200.0 *
        |          (1.0 - CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |          t -> t IN ('the','a','an','of','and','in','to','is'))) AS DOUBLE)
        |          / len(regexp_split_to_array(trim(text), '\s+'))), 6) DESC, doc_id) AS rk
        |  FROM documents) WHERE rk <= 10 ORDER BY source, rk""".stripMargin,

    "dd_exact" ->
      """SELECT md5(text) AS h, CAST(min(doc_id) AS BIGINT) AS keep_id, count(*) AS n
        |FROM documents GROUP BY text ORDER BY h""".stripMargin,

    "dd_contamination" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, greatest(length(text) - 7, 1) + 1),
        |                                 i -> substr(text, i, 8))) AS s
        |  FROM documents)
        |SELECT c.doc_id AS c_id, p.doc_id AS p_id,
        |  CAST(len(list_intersect(c.s, p.s)) AS BIGINT) AS n_shared
        |FROM sh c JOIN sh p ON p.doc_id < 5 AND c.doc_id >= 5
        |WHERE len(list_intersect(c.s, p.s)) >= 10
        |ORDER BY 1, 2""".stripMargin,

    "dd_fp_jaccard" ->
      """WITH f0 AS (
        |  SELECT doc_id,
        |    list_min(list_transform(
        |      list_distinct(list_transform(range(1, greatest(length(text) - 7, 1) + 1),
        |                                   i -> substr(text, i, 8))),
        |      s -> md5(s))) AS fp,
        |    list_distinct(regexp_split_to_array(trim(text), '\s+')) AS toks
        |  FROM documents),
        |fc AS (SELECT fp FROM f0 GROUP BY fp HAVING count(*) <= 1000),
        |f AS (SELECT f0.* FROM f0 JOIN fc USING (fp))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.toks, b.toks))), 6) AS jaccard
        |FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |ORDER BY 1, 2""".stripMargin,

    "dd_edit_join" ->
      """WITH t AS (SELECT doc_id, substr(text, 1, 64) AS title FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(levenshtein(a.title, b.title) AS BIGINT) AS ed
        |FROM t a JOIN t b ON a.doc_id < b.doc_id
        |  AND abs(length(a.title) - length(b.title)) <= 4
        |WHERE levenshtein(a.title, b.title) <= 4
        |ORDER BY 1, 2""".stripMargin,

    "dd_edit_cross" ->
      """WITH t AS (SELECT doc_id, substr(text, 1, 64) AS title FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(levenshtein(a.title, b.title) AS BIGINT) AS ed
        |FROM t a JOIN t b ON a.doc_id < 250 AND b.doc_id >= 250
        |  AND abs(length(a.title) - length(b.title)) <= 4
        |WHERE levenshtein(a.title, b.title) <= 4
        |ORDER BY 1, 2""".stripMargin,

    "q_dataset_split" ->
      """WITH b AS (
        |  SELECT doc_id, text,
        |    ((instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
        |   + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
        |   + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
        |   + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1)) % 1000 AS bkt
        |  FROM documents)
        |SELECT CASE WHEN bkt < 960 THEN 'train'
        |            WHEN bkt < 980 THEN 'val' ELSE 'test' END AS split,
        |  count(*) AS n_docs,
        |  CAST(sum(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)) AS BIGINT) AS n_tokens
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_source_report" ->
      """WITH p AS (
        |  SELECT source, doc_id, lang,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok,
        |    CAST(round(round(least(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE), 200.0) / 200.0 *
        |      (1.0 - CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      t -> t IN ('the','a','an','of','and','in','to','is'))) AS DOUBLE)
        |      / len(regexp_split_to_array(trim(text), '\s+'))), 6) * 1e6) AS BIGINT) AS q_micro,
        |    md5(text) AS digest
        |  FROM documents),
        |s AS (
        |  SELECT source, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |    sum(q_micro) AS q_sum, count(DISTINCT lang) AS n_langs
        |  FROM p GROUP BY source),
        |dupd AS (SELECT digest FROM p GROUP BY digest HAVING count(*) >= 2),
        |dup AS (SELECT source, count(*) AS n_dup FROM p JOIN dupd USING (digest)
        |        GROUP BY source)
        |SELECT s.source, s.n_docs, s.n_tokens,
        |  round(CAST(q_sum AS DOUBLE) / n_docs / 1e6, 6) AS avg_quality,
        |  CAST(n_langs AS BIGINT) AS n_langs,
        |  coalesce(dup.n_dup, 0) AS n_dup,
        |  round(CAST(coalesce(dup.n_dup, 0) AS DOUBLE) / n_docs, 6) AS dup_rate
        |FROM s LEFT JOIN dup ON s.source = dup.source
        |ORDER BY s.source""".stripMargin,

    "dd_clusters" ->
      """WITH RECURSIVE f0 AS (
        |  SELECT doc_id,
        |    list_min(list_transform(
        |      list_distinct(list_transform(range(1, greatest(length(text) - 7, 1) + 1),
        |                                   i -> substr(text, i, 8))),
        |      s -> md5(s))) AS fp,
        |    list_distinct(regexp_split_to_array(trim(text), '\s+')) AS toks
        |  FROM documents),
        |fc AS (SELECT fp FROM f0 GROUP BY fp HAVING count(*) <= 1000),
        |f AS (SELECT f0.* FROM f0 JOIN fc USING (fp)),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  WHERE round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.toks, b.toks))), 6) >= 0.5),
        |edges AS (
        |  SELECT id_a AS u, id_b AS v FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v != r.u),
        |comp AS (SELECT u AS node, least(u, min(v)) AS comp FROM reach GROUP BY u)
        |SELECT node AS doc_id, comp AS cluster_id FROM comp ORDER BY 1""".stripMargin,

    "dd_best_survivor" ->
      """WITH RECURSIVE f0 AS (
        |  SELECT doc_id,
        |    list_min(list_transform(
        |      list_distinct(list_transform(range(1, greatest(length(text) - 7, 1) + 1),
        |                                   i -> substr(text, i, 8))),
        |      s -> md5(s))) AS fp,
        |    list_distinct(regexp_split_to_array(trim(text), '\s+')) AS toks
        |  FROM documents),
        |fc AS (SELECT fp FROM f0 GROUP BY fp HAVING count(*) <= 1000),
        |f AS (SELECT f0.* FROM f0 JOIN fc USING (fp)),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  WHERE round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.toks, b.toks))), 6) >= 0.5),
        |edges AS (
        |  SELECT id_a AS u, id_b AS v FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v != r.u),
        |comp AS (SELECT u AS node, least(u, min(v)) AS comp FROM reach GROUP BY u),
        |q AS (
        |  SELECT doc_id,
        |    round(least(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE), 200.0) / 200.0 *
        |      (1.0 - CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      t -> t IN ('the','a','an','of','and','in','to','is'))) AS DOUBLE)
        |      / len(regexp_split_to_array(trim(text), '\s+'))), 6) AS quality
        |  FROM documents),
        |r AS (
        |  SELECT comp.node, row_number() OVER (PARTITION BY comp.comp
        |    ORDER BY q.quality DESC, comp.node) AS rn
        |  FROM comp JOIN q ON comp.node = q.doc_id)
        |SELECT d.doc_id, q.quality FROM documents d JOIN q ON q.doc_id = d.doc_id
        |WHERE d.doc_id NOT IN (SELECT node FROM r WHERE rn > 1)
        |ORDER BY 1""".stripMargin,

    "emb_moments" ->
      """WITH q AS (
        |  SELECT vec_id, list_transform(embedding[1:16],
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT)) AS xq
        |  FROM embeddings),
        |idx AS (SELECT unnest(range(0, 16)) AS i),
        |pr AS (SELECT a.i AS i, b.i AS j FROM idx a JOIN idx b ON b.i >= a.i),
        |prod AS (
        |  SELECT pr.i, pr.j, sum(xq[CAST(pr.i + 1 AS INT)] * xq[CAST(pr.j + 1 AS INT)]) AS s
        |  FROM q CROSS JOIN pr GROUP BY 1, 2),
        |marg AS (
        |  SELECT idx.i AS i, -1 AS j, sum(xq[CAST(idx.i + 1 AS INT)]) AS s
        |  FROM q CROSS JOIN idx GROUP BY 1, 2),
        |cnt AS (SELECT -1 AS i, -1 AS j, count(*) AS s FROM q)
        |SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j, CAST(s AS BIGINT) AS s
        |FROM (SELECT * FROM prod UNION ALL SELECT * FROM marg
        |      UNION ALL SELECT * FROM cnt)
        |ORDER BY i, j""".stripMargin,

    "dd_span_overlap" ->
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
        |  FROM documents),
        |sp AS (
        |  SELECT DISTINCT doc_id,
        |    CAST(concat('0x', substr(md5(array_to_string(
        |      ws[CAST(i + 1 AS INT) : CAST(i + 8 AS INT)], ' ')), 1, 15)) AS BIGINT) AS h
        |  FROM tok, LATERAL (SELECT unnest(range(0, greatest(len(ws) - 7, 0))) AS i)),
        |cap AS (SELECT h FROM sp GROUP BY h HAVING count(*) BETWEEN 2 AND 100),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sp a JOIN cap USING (h) JOIN sp b USING (h)
        |  WHERE a.doc_id < b.doc_id)
        |SELECT id_a, id_b, count(*) AS n_spans FROM pairs
        |GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY 1, 2""".stripMargin,

    "dd_span_survivors" ->
      """WITH RECURSIVE tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
        |  FROM documents),
        |sp AS (
        |  SELECT DISTINCT doc_id,
        |    CAST(concat('0x', substr(md5(array_to_string(
        |      ws[CAST(i + 1 AS INT) : CAST(i + 8 AS INT)], ' ')), 1, 15)) AS BIGINT) AS h
        |  FROM tok, LATERAL (SELECT unnest(range(0, greatest(len(ws) - 7, 0))) AS i)),
        |cap AS (SELECT h FROM sp GROUP BY h HAVING count(*) BETWEEN 2 AND 100),
        |pairs AS (
        |  SELECT id_a, id_b FROM (
        |    SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |    FROM sp a JOIN cap USING (h) JOIN sp b USING (h)
        |    WHERE a.doc_id < b.doc_id)
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |edges AS (
        |  SELECT id_a AS u, id_b AS v FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v != r.u),
        |comp AS (SELECT u AS node, least(u, min(v)) AS comp FROM reach GROUP BY u)
        |SELECT d.doc_id FROM documents d
        |WHERE d.doc_id NOT IN (SELECT node FROM comp WHERE node != comp)
        |ORDER BY 1""".stripMargin,

    "dd_incremental" ->
      """WITH bkt AS (
        |  SELECT doc_id, text,
        |    ((instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
        |   + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
        |   + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
        |   + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1)) % 1000 AS bkt
        |  FROM documents),
        |base AS (SELECT DISTINCT md5(text) AS digest FROM bkt WHERE bkt < 800),
        |delta AS (SELECT doc_id, md5(text) AS digest FROM bkt WHERE bkt >= 800)
        |SELECT min(doc_id) AS doc_id, digest, count(*) AS n
        |FROM delta WHERE digest NOT IN (SELECT digest FROM base)
        |GROUP BY digest ORDER BY doc_id""".stripMargin,

    // Brute-force cross-Jaccard between the hash-split delta (>= 800)
    // and base (< 800) — the same split law as dd_incremental and the
    // same shingle/length-band arithmetic as dd_minhash_lsh. The
    // lifecycle gates share it: HOW the base was accumulated (one
    // write / build+append / build+append+compact) must be invisible.
    "dd_incr_fuzzy" -> incrFuzzyOracle,
    "pipe_idx_lifecycle" -> incrFuzzyOracle,
    "pipe_idx_compact" -> incrFuzzyOracle,

    "srch_bm25" -> srchBm25Oracle,
    "srch_bm25_idx" -> srchBm25Oracle,
    "srch_bm25_bulk" -> srchBm25Oracle,

    "pipe_retrieval" ->
      """WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |c AS (
        |  SELECT doc_id, i AS chunk_id,
        |    ws[(CAST(i AS INT) * 48 + 1) : CAST(least(i * 48 + 64, len(ws)) AS INT)] AS chunk
        |  FROM w, LATERAL (SELECT unnest(range(0,
        |    greatest((len(ws) - 64 + 48 - 1) // 48, 0) + 1)) AS i)),
        |p AS (SELECT doc_id * 100000 + chunk_id AS passage_id,
        |        array_to_string(chunk, ' ') AS ptext FROM c),
        |tokd AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents),
        |cnt AS (SELECT token, count(*) AS c FROM tokd WHERE token <> '' GROUP BY token),
        |vocab AS (SELECT token, row_number() OVER (ORDER BY c DESC, token) AS rn
        |          FROM cnt ORDER BY c DESC, token LIMIT 15),
        |stats AS (SELECT count(*) AS n_docs,
        |                 sum(len(regexp_split_to_array(trim(ptext), '\s+'))) AS sum_dl
        |          FROM p),
        |tokp AS (
        |  SELECT passage_id, unnest(regexp_split_to_array(trim(ptext), '\s+')) AS token
        |  FROM p),
        |dfc AS (SELECT token, count(DISTINCT passage_id) AS df
        |        FROM tokp JOIN vocab USING (token) GROUP BY token),
        |ti AS (SELECT vocab.token, (rn - 1) // 3 AS query_id,
        |              ln(1 + (n_docs - df + 0.5) / (df + 0.5)) AS idf
        |       FROM vocab JOIN dfc USING (token) CROSS JOIN stats),
        |d2 AS (SELECT passage_id, len(regexp_split_to_array(trim(ptext), '\s+')) AS dl
        |       FROM p),
        |tf AS (SELECT t.passage_id, t.token, count(*) AS tf
        |       FROM tokp t JOIN vocab USING (token) GROUP BY 1, 2),
        |pairs AS (
        |  SELECT ti.query_id, d2.passage_id,
        |    CAST(round(ti.idf * coalesce(tf.tf, 0) * 2.2 /
        |         (coalesce(tf.tf, 0) + 1.2 * (1.0 - 0.75 + (0.75 * d2.dl) /
        |          (stats.sum_dl / stats.n_docs))) * 1e6) AS BIGINT) AS li
        |  FROM ti CROSS JOIN d2
        |  LEFT JOIN tf ON tf.passage_id = d2.passage_id AND tf.token = ti.token
        |  CROSS JOIN stats),
        |sc AS (SELECT query_id, passage_id, sum(li) AS s FROM pairs GROUP BY 1, 2)
        |SELECT CAST(query_id AS BIGINT) AS query_id, passage_id,
        |  CAST(rnk AS BIGINT) AS rnk, round(s / 1e6, 6) AS score
        |FROM (SELECT query_id, passage_id, s,
        |        row_number() OVER (PARTITION BY query_id ORDER BY s DESC, passage_id) AS rnk
        |      FROM sc)
        |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,

    "srch_rrf" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents),
        |cnt AS (SELECT token, count(*) AS c FROM tok WHERE token <> '' GROUP BY token),
        |vocab AS (SELECT token, row_number() OVER (ORDER BY c DESC, token) AS rn
        |          FROM cnt ORDER BY c DESC, token LIMIT 15),
        |stats AS (SELECT count(*) AS n_docs,
        |                 sum(len(regexp_split_to_array(trim(text), '\s+'))) AS sum_dl
        |          FROM documents),
        |dfc AS (SELECT token, count(DISTINCT doc_id) AS df
        |        FROM tok JOIN vocab USING (token) GROUP BY token),
        |ti AS (SELECT vocab.token, (rn - 1) // 3 AS query_id,
        |              ln(1 + (n_docs - df + 0.5) / (df + 0.5)) AS idf
        |       FROM vocab JOIN dfc USING (token) CROSS JOIN stats),
        |d AS (SELECT doc_id, len(regexp_split_to_array(trim(text), '\s+')) AS dl
        |      FROM documents),
        |tf AS (SELECT t.doc_id, t.token, count(*) AS tf
        |       FROM tok t JOIN vocab USING (token) GROUP BY 1, 2),
        |pairs AS (
        |  SELECT ti.query_id, d.doc_id,
        |    CAST(round(ti.idf * coalesce(tf.tf, 0) * 2.2 /
        |         (coalesce(tf.tf, 0) + 1.2 * (1.0 - 0.75 + (0.75 * d.dl) /
        |          (stats.sum_dl / stats.n_docs))) * 1e6) AS BIGINT) AS li
        |  FROM ti CROSS JOIN d
        |  LEFT JOIN tf ON tf.doc_id = d.doc_id AND tf.token = ti.token
        |  CROSS JOIN stats),
        |sc AS (SELECT query_id, doc_id, sum(li) AS s FROM pairs GROUP BY 1, 2),
        |a AS (SELECT query_id, doc_id, rnk FROM (
        |        SELECT query_id, doc_id,
        |          row_number() OVER (PARTITION BY query_id ORDER BY s DESC, doc_id) AS rnk
        |        FROM sc) WHERE rnk <= 20),
        |qt AS (SELECT (rn - 1) // 3 AS query_id, list(token ORDER BY rn) AS terms
        |       FROM vocab GROUP BY 1),
        |tsd AS (SELECT doc_id,
        |          list_distinct(regexp_split_to_array(trim(text), '\s+')) AS ts
        |        FROM documents),
        |ov AS (SELECT q.query_id, t.doc_id, len(list_intersect(t.ts, q.terms)) AS ovl
        |       FROM qt q CROSS JOIN tsd t),
        |b AS (SELECT query_id, doc_id, rnk FROM (
        |        SELECT query_id, doc_id,
        |          row_number() OVER (PARTITION BY query_id ORDER BY ovl DESC, doc_id) AS rnk
        |        FROM ov) WHERE rnk <= 20),
        |u AS (SELECT * FROM a UNION ALL SELECT * FROM b),
        |f AS (SELECT query_id, doc_id,
        |        sum(CAST(round(1e9 / (60 + rnk)) AS BIGINT)) AS s2
        |      FROM u GROUP BY 1, 2)
        |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
        |  CAST(rnk AS BIGINT) AS rnk, round(s2 / 1e9, 6) AS rrf_score
        |FROM (SELECT query_id, doc_id, s2,
        |        row_number() OVER (PARTITION BY query_id ORDER BY s2 DESC, doc_id) AS rnk
        |      FROM f)
        |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin,

    "txt_chunks" ->
      """WITH w AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
        |c AS (
        |  SELECT doc_id, i AS chunk_id,
        |    ws[(CAST(i AS INT) * 48 + 1) : CAST(least(i * 48 + 64, len(ws)) AS INT)] AS chunk
        |  FROM w, LATERAL (SELECT unnest(range(0,
        |    greatest((len(ws) - 64 + 48 - 1) // 48, 0) + 1)) AS i))
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |  CAST(chunk_id * 48 AS BIGINT) AS tok_start,
        |  CAST(len(chunk) AS BIGINT) AS n_tok,
        |  md5(array_to_string(chunk, ' ')) AS chunk_hash
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,

    "q_pack_sequences" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, n_tok,
        |    CAST(coalesce(SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_before
        |  FROM d)
        |SELECT doc_id, lang, n_tok, tok_before // 2048 AS seq,
        |  tok_before % 2048 AS seq_offset
        |FROM c ORDER BY lang, doc_id""".stripMargin,

    "dd_cross_corpus" ->
      """WITH f0 AS (
        |  SELECT doc_id,
        |    list_min(list_transform(
        |      list_distinct(list_transform(range(1, greatest(length(text) - 7, 1) + 1),
        |                                   i -> substr(text, i, 8))),
        |      s -> md5(s))) AS fp,
        |    list_distinct(regexp_split_to_array(trim(text), '\s+')) AS toks
        |  FROM documents),
        |fc AS (SELECT fp FROM f0 GROUP BY fp HAVING count(*) <= 1000),
        |f AS (SELECT f0.* FROM f0 JOIN fc USING (fp))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.toks, b.toks))), 6) AS jaccard
        |FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < 250 AND b.doc_id >= 250
        |WHERE round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.toks, b.toks))), 6) >= 0.5
        |ORDER BY 1, 2""".stripMargin,

    "emb_centroid" ->
      """SELECT label, count(*) AS n,
        |  round(AVG(embedding[1]::DOUBLE), 6) AS c1,
        |  round(AVG(embedding[2]::DOUBLE), 6) AS c2,
        |  round(AVG(embedding[3]::DOUBLE), 6) AS c3,
        |  round(AVG(embedding[4]::DOUBLE), 6) AS c4
        |FROM embeddings GROUP BY 1 ORDER BY 1""".stripMargin,

    "emb_kmeans" ->
      """WITH e AS (
        |  SELECT vec_id AS id, list_transform(embedding, x -> x::DOUBLE) AS v
        |  FROM embeddings),
        |c0 AS (SELECT id AS cid, v AS c FROM e WHERE id < 8),
        |s1 AS (
        |  SELECT e.id, e.v, c0.cid,
        |    list_sum(list_transform(c0.c, x -> x * x)) -
        |    2 * list_sum(list_transform(range(1, len(e.v) + 1),
        |          i -> e.v[i] * c0.c[i])) AS s
        |  FROM e CROSS JOIN c0),
        |a1 AS (SELECT id, v, cid FROM (
        |    SELECT id, v, cid,
        |      row_number() OVER (PARTITION BY id ORDER BY s, cid) AS rn
        |    FROM s1) WHERE rn = 1),
        |m1 AS (
        |  SELECT cid, d, floor(avg(v[d]) * 1000000 + 0.5) / 1000000 AS m
        |  FROM a1 CROSS JOIN range(1, 65) t(d) GROUP BY cid, d),
        |c1 AS (
        |  SELECT c0.cid, coalesce(mm.c, c0.c) AS c
        |  FROM c0 LEFT JOIN (
        |    SELECT cid, list(m ORDER BY d) AS c FROM m1 GROUP BY cid) mm
        |    ON c0.cid = mm.cid),
        |s2 AS (
        |  SELECT e.id, e.v, c1.cid,
        |    list_sum(list_transform(c1.c, x -> x * x)) -
        |    2 * list_sum(list_transform(range(1, len(e.v) + 1),
        |          i -> e.v[i] * c1.c[i])) AS s
        |  FROM e CROSS JOIN c1),
        |a2 AS (SELECT id, v, cid FROM (
        |    SELECT id, v, cid,
        |      row_number() OVER (PARTITION BY id ORDER BY s, cid) AS rn
        |    FROM s2) WHERE rn = 1),
        |m2 AS (
        |  SELECT cid, d, floor(avg(v[d]) * 1000000 + 0.5) / 1000000 AS m
        |  FROM a2 CROSS JOIN range(1, 65) t(d) GROUP BY cid, d),
        |c2 AS (
        |  SELECT c1.cid, coalesce(mm.c, c1.c) AS c
        |  FROM c1 LEFT JOIN (
        |    SELECT cid, list(m ORDER BY d) AS c FROM m2 GROUP BY cid) mm
        |    ON c1.cid = mm.cid),
        |s3 AS (
        |  SELECT e.id, c2.cid,
        |    list_sum(list_transform(c2.c, x -> x * x)) -
        |    2 * list_sum(list_transform(range(1, len(e.v) + 1),
        |          i -> e.v[i] * c2.c[i])) AS s
        |  FROM e CROSS JOIN c2),
        |a3 AS (SELECT id, cid FROM (
        |    SELECT id, cid,
        |      row_number() OVER (PARTITION BY id ORDER BY s, cid) AS rn
        |    FROM s3) WHERE rn = 1)
        |SELECT CAST(c2.cid AS INT) AS cid, coalesce(n.n, 0) AS n,
        |  c2.c[1] AS c1, c2.c[2] AS c2, c2.c[3] AS c3, c2.c[4] AS c4
        |FROM c2 LEFT JOIN (
        |  SELECT cid, count(*) AS n FROM a3 GROUP BY cid) n ON c2.cid = n.cid
        |ORDER BY 1""".stripMargin,

    // Lehmer-LCG hyperplane components (seed s, plane j, dim d):
    //   x  = (s*1000003 + j*8191 + d*127 + 1) mod (2^31-1)
    //   h2 = 48271^2 * x mod (2^31-1);  comp = (h2 mod 1000)/1000 - 0.5
    // identical integer math to HyperplaneBucketLcgExpr; list_sum over
    // list_transform matches the expression's sequential dot order.
    "dd_embed_cosine" ->
      """WITH bits AS (
        |  SELECT LEAST(48, GREATEST(3, length(bin(GREATEST(1, (count(*) + 99) // 100) - 1)))) AS b
        |  FROM embeddings),
        |hp AS (
        |  SELECT t, j, d,
        |    (((48271 * ((48271 * (((42 + t) * 1000003 + j * 8191 + d * 127 + 1) % 2147483647)) % 2147483647)) % 2147483647) % 1000) / 1000.0 - 0.5 AS comp
        |  FROM range(4) rt(t), range(48) rj(j), range(64) rd(d), bits WHERE j < bits.b),
        |hpl AS (SELECT t, j, list(comp ORDER BY d) AS cl FROM hp GROUP BY 1, 2),
        |bkt AS (
        |  SELECT e.vec_id, e.label, h.t,
        |    CAST(SUM(CASE WHEN list_sum(list_transform(range(1, len(e.embedding) + 1),
        |          d -> e.embedding[CAST(d AS INT)]::DOUBLE * h.cl[CAST(d AS INT)])) > 0
        |        THEN (1::BIGINT << CAST(h.j AS INT)) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM embeddings e, hpl h GROUP BY 1, 2, 3),
        |bc AS (SELECT t, bucket, label FROM bkt GROUP BY 1, 2, 3 HAVING count(*) <= 1000),
        |bkt2 AS (SELECT bkt.* FROM bkt JOIN bc USING (t, bucket, label)),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM bkt2 a JOIN bkt2 b
        |    ON a.t = b.t AND a.bucket = b.bucket AND a.label = b.label
        |   AND a.vec_id < b.vec_id),
        |v AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
        |  FROM embeddings)
        |SELECT c.id_a, c.id_b,
        |  round(list_sum(list_transform(range(1, len(a.embedding) + 1),
        |        i -> a.embedding[CAST(i AS INT)]::DOUBLE * b.embedding[CAST(i AS INT)]::DOUBLE)) / (a.nrm * b.nrm), 6) AS sim
        |FROM cand c JOIN v a ON c.id_a = a.vec_id JOIN v b ON c.id_b = b.vec_id
        |WHERE round(list_sum(list_transform(range(1, len(a.embedding) + 1),
        |        i -> a.embedding[CAST(i AS INT)]::DOUBLE * b.embedding[CAST(i AS INT)]::DOUBLE)) / (a.nrm * b.nrm), 6) >= 0.4
        |ORDER BY 1, 2""".stripMargin,

    // Same Lloyd trajectory as the emb_kmeans oracle (a3 = assignment
    // under the iteration-2 centroids) with k DERIVED from count(*)
    // by the Spark-side law, then within-cluster cosine pairs closed
    // into components by the recursive CTE, min-id survivor per
    // component — the SemDeDup contract, row-exact at every sf.
    "dd_semantic" ->
      """WITH RECURSIVE kk AS (
        |  SELECT LEAST(count(*), GREATEST(8, (count(*) + 249) // 250)) AS k
        |  FROM embeddings),
        |e AS (
        |  SELECT vec_id AS id, list_transform(embedding, x -> x::DOUBLE) AS v
        |  FROM embeddings),
        |c0 AS (SELECT id AS cid, v AS c FROM e, kk WHERE id < kk.k),
        |s1 AS (
        |  SELECT e.id, e.v, c0.cid,
        |    list_sum(list_transform(c0.c, x -> x * x)) -
        |    2 * list_sum(list_transform(range(1, len(e.v) + 1),
        |          i -> e.v[i] * c0.c[i])) AS s
        |  FROM e CROSS JOIN c0),
        |a1 AS (SELECT id, v, cid FROM (
        |    SELECT id, v, cid,
        |      row_number() OVER (PARTITION BY id ORDER BY s, cid) AS rn
        |    FROM s1) WHERE rn = 1),
        |m1 AS (
        |  SELECT cid, d, floor(avg(v[d]) * 1000000 + 0.5) / 1000000 AS m
        |  FROM a1 CROSS JOIN range(1, 65) t(d) GROUP BY cid, d),
        |c1 AS (
        |  SELECT c0.cid, coalesce(mm.c, c0.c) AS c
        |  FROM c0 LEFT JOIN (
        |    SELECT cid, list(m ORDER BY d) AS c FROM m1 GROUP BY cid) mm
        |    ON c0.cid = mm.cid),
        |s2 AS (
        |  SELECT e.id, e.v, c1.cid,
        |    list_sum(list_transform(c1.c, x -> x * x)) -
        |    2 * list_sum(list_transform(range(1, len(e.v) + 1),
        |          i -> e.v[i] * c1.c[i])) AS s
        |  FROM e CROSS JOIN c1),
        |a2 AS (SELECT id, v, cid FROM (
        |    SELECT id, v, cid,
        |      row_number() OVER (PARTITION BY id ORDER BY s, cid) AS rn
        |    FROM s2) WHERE rn = 1),
        |m2 AS (
        |  SELECT cid, d, floor(avg(v[d]) * 1000000 + 0.5) / 1000000 AS m
        |  FROM a2 CROSS JOIN range(1, 65) t(d) GROUP BY cid, d),
        |c2 AS (
        |  SELECT c1.cid, coalesce(mm.c, c1.c) AS c
        |  FROM c1 LEFT JOIN (
        |    SELECT cid, list(m ORDER BY d) AS c FROM m2 GROUP BY cid) mm
        |    ON c1.cid = mm.cid),
        |s3 AS (
        |  SELECT e.id, c2.cid,
        |    list_sum(list_transform(c2.c, x -> x * x)) -
        |    2 * list_sum(list_transform(range(1, len(e.v) + 1),
        |          i -> e.v[i] * c2.c[i])) AS s
        |  FROM e CROSS JOIN c2),
        |a3 AS (SELECT id, cid FROM (
        |    SELECT id, cid,
        |      row_number() OVER (PARTITION BY id ORDER BY s, cid) AS rn
        |    FROM s3) WHERE rn = 1),
        |av AS (
        |  SELECT a3.id, a3.cid, e.v,
        |    sqrt(list_sum(list_transform(e.v, x -> x * x))) AS nrm
        |  FROM a3 JOIN e USING (id)),
        |cs AS (SELECT cid FROM av GROUP BY cid HAVING count(*) <= 10000),
        |vc AS (SELECT av.* FROM av JOIN cs USING (cid)),
        |pairs AS (
        |  SELECT a.id AS id_a, b.id AS id_b
        |  FROM vc a JOIN vc b ON a.cid = b.cid AND a.id < b.id
        |  WHERE round(list_sum(list_transform(range(1, len(a.v) + 1),
        |        i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 6) >= 0.38),
        |edges AS (
        |  SELECT id_a AS u, id_b AS v FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.u, e2.v FROM reach r JOIN edges e2 ON r.v = e2.u WHERE e2.v != r.u),
        |comp AS (SELECT u AS node, least(u, min(v)) AS comp FROM reach GROUP BY u)
        |SELECT av.id AS vec_id, CAST(av.cid AS INT) AS cid
        |FROM av WHERE av.id NOT IN (SELECT node FROM comp WHERE node != comp)
        |ORDER BY 1""".stripMargin,

    // The dd_semantic CTE stack seeded over the classifier-filtered
    // id set (rank-based c0 because the filtered ids are not
    // contiguous), chained from the txt_classifier CTE — every stage
    // seam of the semantic-curation pipeline hash-checked at once.
    "pipe_semantic" ->
      """WITH RECURSIVE tok AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'),
        |                             t -> length(t) > 0) AS toks
        |  FROM documents),
        |clf AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) > 0 THEN round(CAST(list_sum(list_transform(toks,
        |      t -> (CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) % 262144) % 2001 - 1000)) AS DOUBLE)
        |      / (len(toks) * 1000.0), 6) ELSE 0.0 END AS clf_score
        |  FROM tok),
        |scored AS (SELECT doc_id, clf_score FROM clf WHERE clf_score >= 0),
        |e AS (
        |  SELECT em.vec_id AS id, list_transform(em.embedding, x -> x::DOUBLE) AS v
        |  FROM embeddings em JOIN scored sc ON em.vec_id = sc.doc_id),
        |kk AS (SELECT LEAST(count(*), GREATEST(8, (count(*) + 249) // 250)) AS k FROM e),
        |c0 AS (
        |  SELECT rn - 1 AS cid, v AS c FROM (
        |    SELECT id, v, row_number() OVER (ORDER BY id) AS rn FROM e), kk
        |  WHERE rn <= kk.k),
        |s1 AS (
        |  SELECT e.id, e.v, c0.cid,
        |    list_sum(list_transform(c0.c, x -> x * x)) -
        |    2 * list_sum(list_transform(range(1, len(e.v) + 1),
        |          i -> e.v[i] * c0.c[i])) AS s
        |  FROM e CROSS JOIN c0),
        |a1 AS (SELECT id, v, cid FROM (
        |    SELECT id, v, cid,
        |      row_number() OVER (PARTITION BY id ORDER BY s, cid) AS rn
        |    FROM s1) WHERE rn = 1),
        |m1 AS (
        |  SELECT cid, d, floor(avg(v[d]) * 1000000 + 0.5) / 1000000 AS m
        |  FROM a1 CROSS JOIN range(1, 65) t(d) GROUP BY cid, d),
        |c1 AS (
        |  SELECT c0.cid, coalesce(mm.c, c0.c) AS c
        |  FROM c0 LEFT JOIN (
        |    SELECT cid, list(m ORDER BY d) AS c FROM m1 GROUP BY cid) mm
        |    ON c0.cid = mm.cid),
        |s2 AS (
        |  SELECT e.id, e.v, c1.cid,
        |    list_sum(list_transform(c1.c, x -> x * x)) -
        |    2 * list_sum(list_transform(range(1, len(e.v) + 1),
        |          i -> e.v[i] * c1.c[i])) AS s
        |  FROM e CROSS JOIN c1),
        |a2 AS (SELECT id, v, cid FROM (
        |    SELECT id, v, cid,
        |      row_number() OVER (PARTITION BY id ORDER BY s, cid) AS rn
        |    FROM s2) WHERE rn = 1),
        |m2 AS (
        |  SELECT cid, d, floor(avg(v[d]) * 1000000 + 0.5) / 1000000 AS m
        |  FROM a2 CROSS JOIN range(1, 65) t(d) GROUP BY cid, d),
        |c2 AS (
        |  SELECT c1.cid, coalesce(mm.c, c1.c) AS c
        |  FROM c1 LEFT JOIN (
        |    SELECT cid, list(m ORDER BY d) AS c FROM m2 GROUP BY cid) mm
        |    ON c1.cid = mm.cid),
        |s3 AS (
        |  SELECT e.id, c2.cid,
        |    list_sum(list_transform(c2.c, x -> x * x)) -
        |    2 * list_sum(list_transform(range(1, len(e.v) + 1),
        |          i -> e.v[i] * c2.c[i])) AS s
        |  FROM e CROSS JOIN c2),
        |a3 AS (SELECT id, cid FROM (
        |    SELECT id, cid,
        |      row_number() OVER (PARTITION BY id ORDER BY s, cid) AS rn
        |    FROM s3) WHERE rn = 1),
        |av AS (
        |  SELECT a3.id, a3.cid, e.v,
        |    sqrt(list_sum(list_transform(e.v, x -> x * x))) AS nrm
        |  FROM a3 JOIN e USING (id)),
        |cs AS (SELECT cid FROM av GROUP BY cid HAVING count(*) <= 10000),
        |vc AS (SELECT av.* FROM av JOIN cs USING (cid)),
        |pairs AS (
        |  SELECT a.id AS id_a, b.id AS id_b
        |  FROM vc a JOIN vc b ON a.cid = b.cid AND a.id < b.id
        |  WHERE round(list_sum(list_transform(range(1, len(a.v) + 1),
        |        i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 6) >= 0.34),
        |edges AS (
        |  SELECT id_a AS u, id_b AS v FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.u, e2.v FROM reach r JOIN edges e2 ON r.v = e2.u WHERE e2.v != r.u),
        |comp AS (SELECT u AS node, least(u, min(v)) AS comp FROM reach GROUP BY u)
        |SELECT av.id AS doc_id, CAST(av.cid AS INT) AS cid, sc.clf_score
        |FROM av JOIN scored sc ON av.id = sc.doc_id
        |WHERE av.id NOT IN (SELECT node FROM comp WHERE node != comp)
        |ORDER BY 1""".stripMargin,

    "dd_embed_lsh" ->
      """WITH bits AS (
        |  SELECT LEAST(48, GREATEST(3, length(bin(GREATEST(1, (count(*) + 99) // 100) - 1)))) AS b
        |  FROM embeddings),
        |hp AS (
        |  SELECT t, j, d,
        |    (((48271 * ((48271 * (((42 + t) * 1000003 + j * 8191 + d * 127 + 1) % 2147483647)) % 2147483647)) % 2147483647) % 1000) / 1000.0 - 0.5 AS comp
        |  FROM range(3) rt(t), range(48) rj(j), range(64) rd(d), bits WHERE j < bits.b),
        |hpl AS (SELECT t, j, list(comp ORDER BY d) AS cl FROM hp GROUP BY 1, 2),
        |bkt AS (
        |  SELECT e.vec_id, h.t,
        |    CAST(SUM(CASE WHEN list_sum(list_transform(range(1, len(e.embedding) + 1),
        |          d -> e.embedding[CAST(d AS INT)]::DOUBLE * h.cl[CAST(d AS INT)])) > 0
        |        THEN (1::BIGINT << CAST(h.j AS INT)) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM embeddings e, hpl h GROUP BY 1, 2),
        |bc AS (SELECT t, bucket FROM bkt GROUP BY 1, 2 HAVING count(*) <= 1000),
        |bkt2 AS (SELECT bkt.* FROM bkt JOIN bc USING (t, bucket)),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM bkt2 a JOIN bkt2 b
        |    ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
        |v AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
        |  FROM embeddings)
        |SELECT c.id_a, c.id_b,
        |  round(list_sum(list_transform(range(1, len(a.embedding) + 1),
        |        i -> a.embedding[CAST(i AS INT)]::DOUBLE * b.embedding[CAST(i AS INT)]::DOUBLE)) / (a.nrm * b.nrm), 6) AS sim
        |FROM cand c JOIN v a ON c.id_a = a.vec_id JOIN v b ON c.id_b = b.vec_id
        |WHERE round(list_sum(list_transform(range(1, len(a.embedding) + 1),
        |        i -> a.embedding[CAST(i AS INT)]::DOUBLE * b.embedding[CAST(i AS INT)]::DOUBLE)) / (a.nrm * b.nrm), 6) >= 0.3
        |ORDER BY 1, 2""".stripMargin,

    "emb_project" ->
      """WITH hp AS (
        |  SELECT j, d,
        |    (((48271 * ((48271 * ((42 * 1000003 + j * 8191 + d * 127 + 1) % 2147483647)) % 2147483647)) % 2147483647) % 1000) / 1000.0 - 0.5 AS comp
        |  FROM range(16) rj(j), range(64) rd(d)),
        |hpl AS (SELECT j, list(comp ORDER BY d) AS cl FROM hp GROUP BY 1)
        |SELECT e.vec_id, CAST(h.j AS INT) AS j,
        |  round(list_sum(list_transform(range(1, len(e.embedding) + 1),
        |      d -> e.embedding[CAST(d AS INT)]::DOUBLE * h.cl[CAST(d AS INT)])), 6) AS val
        |FROM embeddings e, hpl h ORDER BY vec_id, j""".stripMargin,

    "knn_join" ->
      """WITH bits AS (
        |  SELECT LEAST(48, GREATEST(3, length(bin(GREATEST(1, (count(*) + 99) // 100) - 1)))) AS b
        |  FROM embeddings),
        |hp AS (
        |  SELECT t, j, d,
        |    (((48271 * ((48271 * (((42 + t) * 1000003 + j * 8191 + d * 127 + 1) % 2147483647)) % 2147483647)) % 2147483647) % 1000) / 1000.0 - 0.5 AS comp
        |  FROM range(3) rt(t), range(48) rj(j), range(64) rd(d), bits WHERE j < bits.b),
        |hpl AS (SELECT t, j, list(comp ORDER BY d) AS cl FROM hp GROUP BY 1, 2),
        |bkt AS (
        |  SELECT e.vec_id, h.t,
        |    CAST(SUM(CASE WHEN list_sum(list_transform(range(1, len(e.embedding) + 1),
        |          d -> e.embedding[CAST(d AS INT)]::DOUBLE * h.cl[CAST(d AS INT)])) > 0
        |        THEN (1::BIGINT << CAST(h.j AS INT)) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM embeddings e, hpl h GROUP BY 1, 2),
        |bc AS (SELECT t, bucket FROM bkt GROUP BY 1, 2 HAVING count(*) <= 1000),
        |bkt2 AS (SELECT bkt.* FROM bkt JOIN bc USING (t, bucket)),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS qid, b.vec_id AS nid
        |  FROM bkt2 a JOIN bkt2 b
        |    ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id <> b.vec_id),
        |v AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
        |  FROM embeddings),
        |scored AS (
        |  SELECT c.qid, c.nid,
        |    round(list_sum(list_transform(range(1, len(a.embedding) + 1),
        |          i -> a.embedding[CAST(i AS INT)]::DOUBLE * b.embedding[CAST(i AS INT)]::DOUBLE)) / (a.nrm * b.nrm), 6) AS sim
        |  FROM cand c JOIN v a ON c.qid = a.vec_id JOIN v b ON c.nid = b.vec_id),
        |r AS (SELECT *, CAST(row_number() OVER (
        |        PARTITION BY qid ORDER BY sim DESC, nid) AS INT) AS rk
        |      FROM scored)
        |SELECT qid, nid, rk, sim FROM r WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,

    "knn_ann" ->
      """WITH bits AS (
        |  SELECT LEAST(48, GREATEST(3, length(bin(GREATEST(1, (count(*) + 99) // 100) - 1)))) AS b
        |  FROM embeddings),
        |hp AS (
        |  SELECT j, d,
        |    (((48271 * ((48271 * ((42 * 1000003 + j * 8191 + d * 127 + 1) % 2147483647)) % 2147483647)) % 2147483647) % 1000) / 1000.0 - 0.5 AS comp
        |  FROM range(48) rj(j), range(64) rd(d), bits WHERE j < bits.b),
        |hpl AS (SELECT j, list(comp ORDER BY d) AS cl FROM hp GROUP BY 1),
        |bkt AS (
        |  SELECT e.vec_id,
        |    CAST(SUM(CASE WHEN list_sum(list_transform(range(1, len(e.embedding) + 1),
        |          d -> e.embedding[CAST(d AS INT)]::DOUBLE * h.cl[CAST(d AS INT)])) > 0
        |        THEN (1::BIGINT << CAST(h.j AS INT)) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM embeddings e, hpl h GROUP BY 1),
        |v AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
        |  FROM embeddings),
        |pairs AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS id,
        |    round(list_sum(list_transform(range(1, len(q.embedding) + 1),
        |          i -> q.embedding[CAST(i AS INT)]::DOUBLE * c.embedding[CAST(i AS INT)]::DOUBLE)) / (q.nrm * c.nrm), 9) AS sim
        |  FROM v q JOIN bkt bq ON q.vec_id = bq.vec_id
        |       JOIN bkt bc ON bq.bucket = bc.bucket
        |       JOIN v c ON c.vec_id = bc.vec_id
        |  WHERE q.vec_id < 10 AND c.vec_id != q.vec_id)
        |SELECT qid, id, CAST(rk AS INT) AS rk FROM (
        |  SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id) AS rk
        |  FROM pairs) WHERE rk <= 3 ORDER BY qid, rk""".stripMargin,

    "knn_recall" ->
      """WITH bits AS (
        |  SELECT LEAST(48, GREATEST(3, length(bin(GREATEST(1, (count(*) + 99) // 100) - 1)))) AS b
        |  FROM embeddings),
        |hp AS (
        |  SELECT j, d,
        |    (((48271 * ((48271 * ((42 * 1000003 + j * 8191 + d * 127 + 1) % 2147483647)) % 2147483647)) % 2147483647) % 1000) / 1000.0 - 0.5 AS comp
        |  FROM range(48) rj(j), range(64) rd(d), bits WHERE j < bits.b),
        |hpl AS (SELECT j, list(comp ORDER BY d) AS cl FROM hp GROUP BY 1),
        |bkt AS (
        |  SELECT e.vec_id,
        |    CAST(SUM(CASE WHEN list_sum(list_transform(range(1, len(e.embedding) + 1),
        |          d -> e.embedding[CAST(d AS INT)]::DOUBLE * h.cl[CAST(d AS INT)])) > 0
        |        THEN (1::BIGINT << CAST(h.j AS INT)) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM embeddings e, hpl h GROUP BY 1),
        |v AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
        |  FROM embeddings),
        |annp AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS id,
        |    round(list_sum(list_transform(range(1, len(q.embedding) + 1),
        |          i -> q.embedding[CAST(i AS INT)]::DOUBLE * c.embedding[CAST(i AS INT)]::DOUBLE)) / (q.nrm * c.nrm), 9) AS sim
        |  FROM v q JOIN bkt bq ON q.vec_id = bq.vec_id
        |       JOIN bkt bc ON bq.bucket = bc.bucket
        |       JOIN v c ON c.vec_id = bc.vec_id
        |  WHERE q.vec_id < 10 AND c.vec_id != q.vec_id),
        |ann AS (SELECT qid, id FROM (
        |  SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id) AS rk
        |  FROM annp) WHERE rk <= 5),
        |exp_ AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS id,
        |    round(list_sum(list_transform(range(1, len(q.embedding) + 1),
        |          i -> q.embedding[CAST(i AS INT)]::DOUBLE * c.embedding[CAST(i AS INT)]::DOUBLE)) / (q.nrm * c.nrm), 9) AS sim
        |  FROM v q JOIN v c ON q.vec_id < 10 AND c.vec_id != q.vec_id),
        |exact AS (SELECT qid, id FROM (
        |  SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id) AS rk
        |  FROM exp_) WHERE rk <= 5),
        |hit AS (SELECT qid, count(*) AS hit_n
        |        FROM exact SEMI JOIN ann USING (qid, id) GROUP BY qid)
        |SELECT q.qid, CAST(coalesce(h.hit_n, 0) AS BIGINT) AS n_hit,
        |  round(coalesce(h.hit_n, 0) / 5.0, 6) AS recall
        |FROM (SELECT DISTINCT vec_id AS qid FROM embeddings WHERE vec_id < 10) q
        |LEFT JOIN hit h USING (qid) ORDER BY q.qid""".stripMargin,

    "knn_ivf" -> knnIvfOracle,

    // served from the persisted index; result-identical by design, so
    // the gate pins index-serving == inline against the same oracle
    "knn_ivf_idx" -> knnIvfOracle,

    "dd_minhash_lsh" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, greatest(length(text) - 7, 1) + 1),
        |                                 i -> substr(text, i, 8))) AS s
        |  FROM documents),
        |sz AS (SELECT doc_id, s, len(s) AS ns FROM sh)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |        / (a.ns + b.ns - len(list_intersect(a.s, b.s))), 6) AS jaccard
        |FROM sz a JOIN sz b
        |  ON a.doc_id < b.doc_id AND least(a.ns, b.ns) * 100 >= 69 * greatest(a.ns, b.ns)
        |WHERE round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |        / (a.ns + b.ns - len(list_intersect(a.s, b.s))), 6) >= 0.7
        |ORDER BY 1, 2""".stripMargin,

    // zipf siblings of the CPU headliners: identical laws over the
    // committed realistic asset + the SQL mirror of the mutation
    // plant. Thresholds: minhash runs at 0.9 (plants sit at ~0.98;
    // the 89-length-band is the 0.9 analogue of the 69-band at 0.7).
    "zipf_minhash" ->
      (s"WITH ${zipfCorpusSql(1000, 100)},\n" +
        """sh AS (
          |  SELECT doc_id,
          |    list_distinct(list_transform(range(1, greatest(length(text) - 7, 1) + 1),
          |                                 i -> substr(text, i, 8))) AS s
          |  FROM corpus),
          |sz AS (SELECT doc_id, s, len(s) AS ns FROM sh)
          |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          |  round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          |        / (a.ns + b.ns - len(list_intersect(a.s, b.s))), 6) AS jaccard
          |FROM sz a JOIN sz b
          |  ON a.doc_id < b.doc_id AND least(a.ns, b.ns) * 100 >= 89 * greatest(a.ns, b.ns)
          |WHERE round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          |        / (a.ns + b.ns - len(list_intersect(a.s, b.s))), 6) >= 0.9
          |ORDER BY 1, 2""".stripMargin),

    "zipf_spans" ->
      (s"WITH ${zipfCorpusSql(1000, 100)},\n" +
        """tok AS (
          |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
          |  FROM corpus),
          |sp AS (
          |  SELECT DISTINCT doc_id,
          |    CAST(concat('0x', substr(md5(array_to_string(
          |      ws[CAST(i + 1 AS INT) : CAST(i + 8 AS INT)], ' ')), 1, 15)) AS BIGINT) AS h
          |  FROM tok, LATERAL (SELECT unnest(range(0, greatest(len(ws) - 7, 0))) AS i)),
          |cap AS (SELECT h FROM sp GROUP BY h HAVING count(*) BETWEEN 2 AND 100),
          |pairs AS (
          |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
          |  FROM sp a JOIN cap USING (h) JOIN sp b USING (h)
          |  WHERE a.doc_id < b.doc_id)
          |SELECT id_a, id_b, count(*) AS n_spans FROM pairs
          |GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY 1, 2""".stripMargin),

    "zipf_edit_join" ->
      (s"WITH ${zipfCorpusSql(1000, 100)},\n" +
        """t AS (SELECT doc_id, substr(text, 1, 64) AS title FROM corpus)
          |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          |  CAST(levenshtein(a.title, b.title) AS BIGINT) AS ed
          |FROM t a JOIN t b ON a.doc_id < b.doc_id
          |  AND abs(length(a.title) - length(b.title)) <= 4
          |WHERE levenshtein(a.title, b.title) <= 4
          |ORDER BY 1, 2""".stripMargin),

    "zipf_bm25" -> bm25Oracle(ZipfRel),

    // The daily sweep replayed serially: brute-force cross-Jaccard
    // drops delta docs with a base near-dup, brute-force within-delta
    // Jaccard builds the remaining pair graph, recursive-CTE
    // components fold to the min-id survivor — the dd_incr_fuzzy +
    // dd_minhash_lsh + dd_survivors laws composed.
    "pipe_incr_sweep" ->
      """WITH RECURSIVE bkt AS (
        |  SELECT doc_id, text,
        |    ((instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
        |   + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
        |   + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
        |   + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1)) % 1000 AS bkt
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, bkt,
        |    list_distinct(list_transform(range(1, greatest(length(text) - 7, 1) + 1),
        |                                 i -> substr(text, i, 8))) AS s
        |  FROM bkt),
        |sz AS (SELECT doc_id, bkt, s, len(s) AS ns FROM sh),
        |crossdup AS (
        |  SELECT DISTINCT a.doc_id
        |  FROM sz a JOIN sz b
        |    ON a.bkt >= 800 AND b.bkt < 800
        |   AND least(a.ns, b.ns) * 100 >= 69 * greatest(a.ns, b.ns)
        |  WHERE round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |        / (a.ns + b.ns - len(list_intersect(a.s, b.s))), 6) >= 0.7),
        |fresh AS (
        |  SELECT doc_id, s, ns FROM sz
        |  WHERE bkt >= 800 AND doc_id NOT IN (SELECT doc_id FROM crossdup)),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM fresh a JOIN fresh b
        |    ON a.doc_id < b.doc_id
        |   AND least(a.ns, b.ns) * 100 >= 69 * greatest(a.ns, b.ns)
        |  WHERE round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |        / (a.ns + b.ns - len(list_intersect(a.s, b.s))), 6) >= 0.7),
        |edges AS (
        |  SELECT id_a AS u, id_b AS v FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v != r.u),
        |comp AS (SELECT u AS node, least(u, min(v)) AS comp FROM reach GROUP BY u)
        |SELECT f.doc_id FROM fresh f
        |WHERE f.doc_id NOT IN (SELECT node FROM comp WHERE node != comp)
        |ORDER BY 1""".stripMargin,

    // bit b of an md5 hex string: bit 3-(b%4) of hex digit b/4 — the
    // same big-endian numbering SimHashMd5Expr reads from digest bytes.
    "dd_simhash" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tk
        |  FROM documents),
        |th AS (SELECT doc_id, md5(tk) AS h FROM tok),
        |bits AS (
        |  SELECT doc_id, b,
        |    CASE WHEN ((instr('0123456789abcdef', substr(h, CAST(b // 4 AS INT) + 1, 1)) - 1)
        |               >> CAST(3 - (b % 4) AS INT)) & 1 = 1 THEN 1 ELSE -1 END AS vote
        |  FROM th, range(64) r(b)),
        |sh AS (
        |  SELECT doc_id, b, CASE WHEN sum(vote) > 0 THEN 1 ELSE 0 END AS bit
        |  FROM bits GROUP BY 1, 2),
        |v AS (SELECT doc_id, list(bit ORDER BY b) AS bl FROM sh GROUP BY 1)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(list_sum(list_transform(range(1, 65),
        |    i -> CASE WHEN a.bl[CAST(i AS INT)] != b.bl[CAST(i AS INT)] THEN 1 ELSE 0 END)) AS INT) AS hamming
        |FROM v a JOIN v b ON a.doc_id < b.doc_id
        |WHERE list_sum(list_transform(range(1, 65),
        |    i -> CASE WHEN a.bl[CAST(i AS INT)] != b.bl[CAST(i AS INT)] THEN 1 ELSE 0 END)) <= 3
        |ORDER BY 1, 2""".stripMargin,

    "dd_survivors" ->
      """WITH RECURSIVE f0 AS (
        |  SELECT doc_id,
        |    list_min(list_transform(
        |      list_distinct(list_transform(range(1, greatest(length(text) - 7, 1) + 1),
        |                                   i -> substr(text, i, 8))),
        |      s -> md5(s))) AS fp,
        |    list_distinct(regexp_split_to_array(trim(text), '\s+')) AS toks
        |  FROM documents),
        |fc AS (SELECT fp FROM f0 GROUP BY fp HAVING count(*) <= 1000),
        |f AS (SELECT f0.* FROM f0 JOIN fc USING (fp)),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  WHERE round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.toks, b.toks))), 6) >= 0.5),
        |edges AS (
        |  SELECT id_a AS u, id_b AS v FROM pairs
        |  UNION SELECT id_b, id_a FROM pairs),
        |reach AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v != r.u),
        |comp AS (SELECT u AS node, least(u, min(v)) AS comp FROM reach GROUP BY u)
        |SELECT d.doc_id FROM documents d
        |WHERE d.doc_id NOT IN (SELECT node FROM comp WHERE node != comp)
        |ORDER BY 1""".stripMargin,

    "fp_winnow" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    list_transform(range(0, greatest(length(text) - 7, 1)),
        |      i -> md5(substr(text, CAST(i AS INT) + 1, 8))) AS hs
        |  FROM documents),
        |sel AS (
        |  SELECT doc_id, hs,
        |    list_distinct(list_transform(range(0, greatest(len(hs) - 3, 1)), s ->
        |      list_max(list_filter(range(s, least(s + 4, len(hs))),
        |        j -> hs[CAST(j AS INT) + 1] = list_min(hs[CAST(s AS INT) + 1 : CAST(least(s + 4, len(hs)) AS INT)]))))) AS ps
        |  FROM h)
        |SELECT doc_id, CAST(u.p AS INT) AS pos, hs[CAST(u.p AS INT) + 1] AS gh
        |FROM sel, unnest(ps) AS u(p)
        |ORDER BY doc_id, pos""".stripMargin,

    "pipe_e2e" ->
      """WITH q AS (
        |  SELECT doc_id, lang, text FROM documents
        |  WHERE round(least(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE), 200.0) / 200.0 *
        |        (1.0 - CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |        t -> t IN ('the','a','an','of','and','in','to','is'))) AS DOUBLE)
        |        / len(regexp_split_to_array(trim(text), '\s+'))), 6) >= 0.3),
        |dd AS (
        |  SELECT doc_id, lang, text FROM (
        |    SELECT doc_id, lang, text,
        |      row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |    FROM q) WHERE rn = 1),
        |samp AS (
        |  SELECT doc_id, lang, text FROM dd
        |  WHERE ((instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
        |       + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
        |       + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
        |       + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1)) % 1000 < 800),
        |d2 AS (
        |  SELECT doc_id, lang,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok
        |  FROM samp),
        |c AS (
        |  SELECT doc_id, lang, n_tok,
        |    CAST(coalesce(SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_before
        |  FROM d2)
        |SELECT doc_id, lang, n_tok, tok_before // 2048 AS seq,
        |  tok_before % 2048 AS seq_offset
        |FROM c ORDER BY lang, doc_id""".stripMargin,

    "pipe_curation" ->
      """WITH capped AS (
        |  SELECT doc_id, lang, text FROM (
        |    SELECT doc_id, lang, text, row_number() OVER (PARTITION BY source ORDER BY
        |      round(least(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE), 200.0) / 200.0 *
        |            (1.0 - CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |            t -> t IN ('the','a','an','of','and','in','to','is'))) AS DOUBLE)
        |            / len(regexp_split_to_array(trim(text), '\s+'))), 6) DESC, doc_id) AS rk
        |    FROM documents) WHERE rk <= 15),
        |tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM capped),
        |cnt AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
        |n AS (SELECT sum(c) AS total FROM cnt),
        |lp AS (SELECT token, CAST(round(log2(c / total) * 1e9) AS BIGINT) AS li
        |       FROM cnt CROSS JOIN n),
        |dt AS (SELECT doc_id, token, count(*) AS nt FROM tok GROUP BY 1, 2),
        |d AS (SELECT doc_id, sum(nt) AS n_tok, sum(nt * li) AS s
        |      FROM dt JOIN lp USING (token) GROUP BY doc_id),
        |q AS (SELECT d.doc_id, doc.lang, CAST(d.n_tok AS BIGINT) AS n_tok,
        |        round(-d.s / 1e9 / d.n_tok, 6) AS bits_per_token,
        |        CAST(round(round(-d.s / 1e9 / d.n_tok, 6) * 1e6) AS BIGINT) AS bq
        |      FROM d JOIN capped doc ON d.doc_id = doc.doc_id),
        |st AS (SELECT lang, count(*) AS ln, sum(bq) AS s1, sum(bq * bq) AS s2
        |       FROM q GROUP BY lang),
        |thr AS (SELECT lang,
        |  round(CAST(s1 AS DOUBLE) / ln / 1e6
        |    + 0.4307 * sqrt(CAST(s2 AS DOUBLE) / ln
        |        - (CAST(s1 AS DOUBLE) / ln) * (CAST(s1 AS DOUBLE) / ln)) / 1e6, 6) AS t_hi
        |  FROM st),
        |keep AS (
        |  SELECT q.doc_id, q.lang, q.n_tok FROM q JOIN thr t USING (lang)
        |  WHERE q.bits_per_token < t.t_hi),
        |tot AS (SELECT lang, sum(n_tok) AS toks FROM keep GROUP BY 1),
        |r AS (SELECT lang,
        |  CASE WHEN lang = 'en' THEN (CASE WHEN toks <= 6000 THEN 1000 ELSE (6000 * 1000) // toks END)
        |       WHEN lang = 'zh' THEN (CASE WHEN toks <= 2000 THEN 1000 ELSE (2000 * 1000) // toks END)
        |       ELSE 1000 END AS pm
        |  FROM tot),
        |mixed AS (
        |  SELECT k.doc_id, k.lang, k.n_tok FROM keep k JOIN r USING (lang)
        |  WHERE ((instr('0123456789abcdef', substr(md5(CAST(k.doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
        |       + (instr('0123456789abcdef', substr(md5(CAST(k.doc_id AS VARCHAR)), 2, 1)) - 1) * 256
        |       + (instr('0123456789abcdef', substr(md5(CAST(k.doc_id AS VARCHAR)), 3, 1)) - 1) * 16
        |       + (instr('0123456789abcdef', substr(md5(CAST(k.doc_id AS VARCHAR)), 4, 1)) - 1)) % 1000 < r.pm),
        |sh AS (
        |  SELECT doc_id, n_tok,
        |    ((instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
        |   + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
        |   + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
        |   + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1)) % 4 AS shard
        |  FROM mixed)
        |SELECT CAST(shard AS INT) AS shard, count(*) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS total_tokens,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM sh GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_weighted_sample" ->
      """WITH q AS (
        |  SELECT doc_id, lang,
        |    round(least(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE), 200.0) / 200.0 *
        |          (1.0 - CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |          t -> t IN ('the','a','an','of','and','in','to','is'))) AS DOUBLE)
        |          / len(regexp_split_to_array(trim(text), '\s+'))), 6) AS w,
        |    ((instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * CAST(268435456 AS BIGINT)
        |   + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 16777216
        |   + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 1048576
        |   + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1) * 65536
        |   + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 5, 1)) - 1) * 4096
        |   + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 6, 1)) - 1) * 256
        |   + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 7, 1)) - 1) * 16
        |   + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 8, 1)) - 1)) AS h
        |  FROM documents)
        |SELECT lang, count(*) AS n, min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM q WHERE h < CAST(floor(w * 0.5 * 4294967296.0) AS BIGINT)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_token_budget" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS toks
        |  FROM documents),
        |tot AS (SELECT lang, sum(toks) AS toks FROM t GROUP BY 1),
        |r AS (SELECT lang,
        |  CASE WHEN lang = 'en' THEN (CASE WHEN toks <= 20000 THEN 1000 ELSE (20000 * 1000) // toks END)
        |       WHEN lang = 'zh' THEN (CASE WHEN toks <= 5000 THEN 1000 ELSE (5000 * 1000) // toks END)
        |       ELSE 1000 END AS pm
        |  FROM tot),
        |s AS (
        |  SELECT t.doc_id, t.lang, t.toks,
        |    ((instr('0123456789abcdef', substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
        |    +(instr('0123456789abcdef', substr(md5(CAST(t.doc_id AS VARCHAR)), 2, 1)) - 1) * 256
        |    +(instr('0123456789abcdef', substr(md5(CAST(t.doc_id AS VARCHAR)), 3, 1)) - 1) * 16
        |    +(instr('0123456789abcdef', substr(md5(CAST(t.doc_id AS VARCHAR)), 4, 1)) - 1)) % 1000 AS h
        |  FROM t)
        |SELECT s.lang, count(*) AS n, CAST(sum(s.toks) AS BIGINT) AS kept_tokens,
        |  min(s.doc_id) AS min_id, max(s.doc_id) AS max_id
        |FROM s JOIN r USING (lang) WHERE s.h < r.pm
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_temp_mix" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS toks
        |  FROM documents),
        |tot AS (SELECT lang, sum(toks) AS toks FROM t GROUP BY 1),
        |mn AS (SELECT min(toks) AS m FROM tot),
        |r AS (SELECT lang,
        |  CAST(floor(1000.0 * sqrt(CAST(m AS DOUBLE) / CAST(toks AS DOUBLE))) AS INT) AS pm
        |  FROM tot, mn),
        |s AS (
        |  SELECT t.doc_id, t.lang, t.toks,
        |    ((instr('0123456789abcdef', substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
        |    +(instr('0123456789abcdef', substr(md5(CAST(t.doc_id AS VARCHAR)), 2, 1)) - 1) * 256
        |    +(instr('0123456789abcdef', substr(md5(CAST(t.doc_id AS VARCHAR)), 3, 1)) - 1) * 16
        |    +(instr('0123456789abcdef', substr(md5(CAST(t.doc_id AS VARCHAR)), 4, 1)) - 1)) % 1000 AS h
        |  FROM t)
        |SELECT s.lang, count(*) AS n, CAST(sum(s.toks) AS BIGINT) AS kept_tokens,
        |  min(s.doc_id) AS min_id, max(s.doc_id) AS max_id
        |FROM s JOIN r USING (lang) WHERE s.h < r.pm
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_shard_order" ->
      """WITH k AS (
        |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hk FROM documents),
        |s AS (
        |  SELECT doc_id, hk,
        |    ((instr('0123456789abcdef', substr(hk, 1, 1)) - 1) * 4096
        |    +(instr('0123456789abcdef', substr(hk, 2, 1)) - 1) * 256
        |    +(instr('0123456789abcdef', substr(hk, 3, 1)) - 1) * 16
        |    +(instr('0123456789abcdef', substr(hk, 4, 1)) - 1)) % 8 AS shard
        |  FROM k)
        |SELECT doc_id, CAST(shard AS INT) AS shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY hk, doc_id) AS INT) AS pos
        |FROM s ORDER BY doc_id""".stripMargin,

    "q_mix_sample" ->
      """WITH s AS (
        |  SELECT doc_id, lang,
        |    ((instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
        |    +(instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
        |    +(instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
        |    +(instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1)) % 1000 AS h
        |  FROM documents)
        |SELECT lang, count(*) AS n, min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM s
        |WHERE h < CASE lang WHEN 'en' THEN 800 WHEN 'de' THEN 500 WHEN 'fr' THEN 200 ELSE 1000 END
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "emb_quantize" ->
      """WITH v AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> x::DOUBLE) AS v,
        |    greatest(list_max(list_transform(embedding, x -> abs(x::DOUBLE))), 1e-12) / 127.0 AS scale
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id, v, scale,
        |    list_transform(v, x -> CAST(floor(x / scale + 0.5) AS INT)) AS qv
        |  FROM v),
        |d AS (
        |  SELECT vec_id, v, scale, qv,
        |    list_transform(qv, x -> x * scale) AS dq
        |  FROM q)
        |SELECT vec_id, round(scale, 9) AS scale,
        |  qv[1] AS q1, qv[2] AS q2, qv[3] AS q3, qv[4] AS q4,
        |  round(list_sum(list_transform(range(1, len(v) + 1),
        |        i -> v[CAST(i AS INT)] * dq[CAST(i AS INT)]))
        |    / (sqrt(list_sum(list_transform(v, x -> x * x)))
        |       * sqrt(list_sum(list_transform(dq, x -> x * x)))), 4) AS recon_cos
        |FROM d ORDER BY vec_id""".stripMargin,

    // feature oracle: replays extractFeatures' fixed Rademacher
    // projection in DuckDB integer arithmetic (built by
    // [[mmFeaturesOracle]]; the 40 ±1 projSign constants are inlined
    // at map-build time from the same definition the executors use).
    "mm_features" -> mmFeaturesOracle,

    // frame-sampling oracle: pure arithmetic over the byte length —
    // m = len div 64 full frames, every 4th kept; short payloads yield
    // one whole-payload frame.
    "mm_frames" ->
      """SELECT doc_id AS media_id,
        |  CAST(CASE WHEN strlen(text) < 64 THEN 1
        |       ELSE ((strlen(text) // 64 - 1) // 4) + 1 END AS BIGINT) AS n_frames,
        |  CAST(CASE WHEN strlen(text) < 64 THEN strlen(text)
        |       ELSE (((strlen(text) // 64 - 1) // 4) + 1) * 64 END AS BIGINT) AS frame_bytes
        |FROM documents ORDER BY 1""".stripMargin,

    // image-dedup oracle: recompute the dHash from the stored payload
    // — byte-pool the text's code points (== bytes, ASCII corpus) into
    // the 9×8 grid with the engine's integer lo/hi law, assemble the
    // 64-bit fingerprint (bit 63 via the two's-complement constant:
    // DuckDB refuses 1<<63 as a signed overflow, and summing distinct
    // powers equals OR), then the SAME 4×16-bit chunk equijoin +
    // bit_count(xor) verify. Arithmetic `>>` on negative BIGINTs
    // matches Spark's shiftright; the & 65535 masks the sign fill.
    "mm_dedup" ->
      s"""WITH m AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    substr(text, 1, CAST(doc_id % greatest(len(text), 1) AS INT)) || 'Z'
        |      || substr(text, CAST(doc_id % greatest(len(text), 1) AS INT) + 2)
        |  FROM documents),
        |h AS ${dhashSqlOver("m")},
        |c AS (
        |  SELECT doc_id, dh, k AS chunk, (dh >> CAST(k*16 AS INT)) & 65535 AS v
        |  FROM h, range(4) r(k)),
        |p AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(bit_count(xor(a.dh, b.dh)) AS INT) AS hamming
        |  FROM c a JOIN c b ON a.chunk = b.chunk AND a.v = b.v AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b, hamming FROM p WHERE hamming <= 3 ORDER BY 1, 2""".stripMargin,

    // mm_knn oracle: the mm_features integer-milli vectors (the
    // shared mmFeaturesOracle chain as a derived table) through the
    // knn_cosine brute-force law — same sequential double sums, same
    // 9-dp sim round, same (sim desc, id) rank.
    "mm_knn" ->
      s"""WITH f AS (
        |  SELECT media_id, [f0, f1, f2, f3, f4, f5, f6, f7] AS v
        |  FROM (${mmFeaturesOracle.replace("\n", "\n        |  ")}) t),
        |n AS (
        |  SELECT media_id, v,
        |    sqrt(list_sum(list_transform(v, x -> x::DOUBLE * x::DOUBLE))) AS nrm
        |  FROM f),
        |pairs AS (
        |  SELECT q.media_id AS qid, c.media_id AS id,
        |    round(list_sum(list_transform(range(1, 9),
        |          i -> q.v[i]::DOUBLE * c.v[i]::DOUBLE)) / (q.nrm * c.nrm), 9) AS sim
        |  FROM n q JOIN n c ON q.media_id % 50 = 0 AND c.media_id != q.media_id)
        |SELECT qid, id, CAST(rk AS INT) AS rk FROM (
        |  SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id) AS rk
        |  FROM pairs) WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,

    // mm_survivors oracle: the mm_dedup pair pipeline feeding the
    // dd_survivors recursive-CC survivor law (keep node == component
    // min) over the doc+mutant id space.
    "mm_survivors" ->
      s"""WITH RECURSIVE m AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    substr(text, 1, CAST(doc_id % greatest(len(text), 1) AS INT)) || 'Z'
        |      || substr(text, CAST(doc_id % greatest(len(text), 1) AS INT) + 2)
        |  FROM documents),
        |h AS ${dhashSqlOver("m")},
        |c AS (
        |  SELECT doc_id, dh, k AS chunk, (dh >> CAST(k*16 AS INT)) & 65535 AS v
        |  FROM h, range(4) r(k)),
        |p AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM c a JOIN c b ON a.chunk = b.chunk AND a.v = b.v AND a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.dh, b.dh)) <= 3),
        |edges AS (
        |  SELECT id_a AS u, id_b AS v FROM p
        |  UNION SELECT id_b, id_a FROM p),
        |reach AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v != r.u),
        |comp AS (SELECT u AS node, least(u, min(v)) AS comp FROM reach GROUP BY u)
        |SELECT m.doc_id FROM m
        |WHERE m.doc_id NOT IN (SELECT node FROM comp WHERE node != comp)
        |ORDER BY 1""".stripMargin,

    // frame-dedup oracle: slice every doc (and its mutant) into the
    // engine's exact frame law (chunk indices 0..max(len/32 - 1, 0),
    // stride 1), fingerprint each frame with the shared dhash SQL,
    // DISTINCT per media, cap frames shared by > 100 media, pair and
    // count. Pure integer SQL end to end.
    "mm_frame_dedup" ->
      s"""WITH m AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    substr(text, 1, CAST(doc_id % greatest(len(text), 1) AS INT)) || 'Z'
        |      || substr(text, CAST(doc_id % greatest(len(text), 1) AS INT) + 2)
        |  FROM documents),
        |fr AS (
        |  SELECT doc_id, unnest(list_transform(range(greatest(len(text)//32, 1)),
        |    i -> substr(text, CAST(i*32+1 AS INT), 32))) AS text
        |  FROM m),
        |h AS ${dhashSqlOver("fr")},
        |hd AS (SELECT DISTINCT doc_id, dh FROM h),
        |keep AS (SELECT dh FROM hd GROUP BY dh HAVING count(*) BETWEEN 2 AND 100),
        |p AS (
        |  SELECT x.doc_id AS id_a, y.doc_id AS id_b
        |  FROM hd x JOIN hd y ON x.dh = y.dh AND x.doc_id < y.doc_id
        |  JOIN keep k ON x.dh = k.dh)
        |SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS n_shared
        |FROM p GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY 1, 2""".stripMargin,

    // incremental image-dedup oracle: base fingerprints from the full
    // corpus, delta fingerprints from the mutated 20% slice (same
    // md5-bucket law as dd_incr_fuzzy's oracle), then the chunk
    // equijoin + bit_count verify — delta × base only, never
    // base × base.
    "mm_incr_dedup" ->
      s"""WITH bkt AS (
        |  SELECT doc_id, text,
        |    ((instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
        |   + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
        |   + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
        |   + (instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1)) % 1000 AS bkt
        |  FROM documents),
        |m AS (
        |  SELECT doc_id + 1000000 AS doc_id,
        |    substr(text, 1, CAST(doc_id % greatest(len(text), 1) AS INT)) || 'Z'
        |      || substr(text, CAST(doc_id % greatest(len(text), 1) AS INT) + 2) AS text
        |  FROM bkt WHERE bkt >= 800),
        |hb AS ${dhashSqlOver("documents")},
        |hd AS ${dhashSqlOver("m")},
        |cb AS (
        |  SELECT doc_id, dh, k AS chunk, (dh >> CAST(k*16 AS INT)) & 65535 AS v
        |  FROM hb, range(4) r(k)),
        |cd AS (
        |  SELECT doc_id, dh, k AS chunk, (dh >> CAST(k*16 AS INT)) & 65535 AS v
        |  FROM hd, range(4) r(k)),
        |p AS (
        |  SELECT DISTINCT d.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(bit_count(xor(d.dh, b.dh)) AS INT) AS hamming
        |  FROM cd d JOIN cb b ON d.chunk = b.chunk AND d.v = b.v)
        |SELECT id_a, id_b, hamming FROM p WHERE hamming <= 3 ORDER BY 1, 2""".stripMargin,

    // decode stub oracle: width/height/mean_px derive from md5(text)
    // bytes; hex digits are parsed with instr arithmetic.
    "mm_decode_stats" ->
      """WITH d AS (SELECT source, md5(text) AS h FROM documents),
        |v AS (
        |  SELECT source,
        |    64 + (((instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 4096
        |          +(instr('0123456789abcdef', substr(h, 2, 1)) - 1) * 256
        |          +(instr('0123456789abcdef', substr(h, 3, 1)) - 1) * 16
        |          +(instr('0123456789abcdef', substr(h, 4, 1)) - 1)) % 448) AS width,
        |    64 + (((instr('0123456789abcdef', substr(h, 5, 1)) - 1) * 4096
        |          +(instr('0123456789abcdef', substr(h, 6, 1)) - 1) * 256
        |          +(instr('0123456789abcdef', substr(h, 7, 1)) - 1) * 16
        |          +(instr('0123456789abcdef', substr(h, 8, 1)) - 1)) % 448) AS height
        |  FROM d)
        |SELECT source, count(*) AS n,
        |  CAST(SUM(width) AS BIGINT) AS sum_w, CAST(SUM(height) AS BIGINT) AS sum_h
        |FROM v GROUP BY 1 ORDER BY 1""".stripMargin,

    "knn_cosine" ->
      """WITH v AS (
        |  SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS nrm
        |  FROM embeddings),
        |pairs AS (
        |  SELECT q.vec_id AS qid, c.vec_id AS id,
        |    round(list_sum(list_transform(range(1, len(q.embedding) + 1),
        |          i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)) / (q.nrm * c.nrm), 9) AS sim
        |  FROM v q JOIN v c ON q.vec_id < 10 AND c.vec_id != q.vec_id)
        |SELECT qid, id, CAST(rk AS INT) AS rk FROM (
        |  SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, id) AS rk
        |  FROM pairs) WHERE rk <= 5 ORDER BY qid, rk""".stripMargin)
}
