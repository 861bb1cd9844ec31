package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis surface for large-scale training-data pipelines:
  * tokenization, quality scoring, language-ID heuristic, shingling,
  * fingerprinting, MinHash signatures, SimHash.
  *
  * Everything here is a pure `Column` expression (higher-order array
  * functions, builtin hashes) — no UDFs, so the whole pipeline stays
  * inside WholeStageCodegen/vectorized evaluation and scales linearly
  * with executor count. At 100 TB the difference between a codegen'd
  * expression and a boxed UDF on a text column is the whole job.
  */
object TextFunctions {

  /** Whitespace tokens of trimmed text. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Distinct token set (set semantics for Jaccard). */
  def tokenSet(text: Column): Column = array_distinct(tokens(text))

  /** Character k-gram shingles (distinct). Texts shorter than k yield
    * one (short) shingle — the whole text. */
  def charShingles(text: Column, k: Int): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(length(text) - (k - 1), lit(1))),
      i => text.substr(i, lit(k))))

  /** 1-permutation MinHash fingerprint: min MD5 over k-gram shingles —
    * a deterministic document fingerprint usable as a blocking key.
    * Native expression; bit-identical to
    * array_min(transform(charShingles, md5)) and the DuckDB oracle. */
  def minhashFingerprint(text: Column, k: Int = 8): Column =
    NativeExprs.minMd5ShingleNative(text, k)

  /** H-permutation MinHash signature as array<bigint>: element j is
    * min over shingles of murmur3(shingle, j) (hash-family-by-seed-mix;
    * `hash(c, lit(j))` gives an independent permutation per j).
    *
    * Single pass over the shingle array: per shingle compute all H
    * hashes once and fold with elementwise least. (The naive
    * H × array_min(transform(...)) form re-traverses the shingle array
    * H times AND re-inlines the shingle expression H times after
    * projection collapse — higher-order functions are interpreted, so
    * that costs H× the whole shingling, ~20× slower at H=128.) */
  def minhashSignature(shingleCol: Column, numHashes: Int): Column =
    aggregate(
      shingleCol,
      array_repeat(lit(Long.MaxValue), numHashes),
      (acc, s) => zip_with(acc,
        transform(sequence(lit(0), lit(numHashes - 1)), j => hash(s, j).cast("long")),
        (a, b) => least(a, b)))

  /** LSH band keys: the signature split into `bands` bands of
    * `rowsPerBand`, each hashed to one bucket key. Returns
    * array<struct<band:int, bucket:bigint>> ready to explode. */
  def lshBands(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), b =>
      struct(
        b.cast("int").as("band"),
        xxhash64(concat_ws(",",
          transform(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand)), _.cast("string"))))
          .as("bucket")))

  /** Hamming distance between two 64-bit hashes. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Exact token-set Jaccard similarity of two texts' token arrays.
    * Native hash-set expression — identical integer counts to
    * array_intersect/array_union, evaluated per pair on the dedup hot
    * path. */
  def jaccard(a: Column, b: Column): Column = NativeExprs.jaccardNative(a, b)

  // ---- Normalization / scrubbing ---------------------------------------

  /** Dedup-pipeline text normalization: lowercase, trim, collapse every
    * whitespace run to a single space. Pure builtin Columns (codegen'd). */
  def normalizeText(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  // RE2-compatible patterns (no backrefs/lookarounds, ASCII classes
  // only) so the DuckDB oracle's regexp functions behave identically
  // to Java's. Alternation-free, so Java's leftmost-FIRST and RE2's
  // leftmost-LONGEST semantics pick the same match.
  private val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val ipv4Re  = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  private val phoneRe = "\\+?[0-9][0-9()\\- ]{7,}[0-9]"

  /** PII scrubbing for training corpora: email addresses, then dotted
    * IPv4 quads, then phone-like digit runs, each replaced with a typed
    * placeholder. Order matters — emails first or the phone pattern
    * eats their digit runs; IPs before phones (the phone class has no
    * '.', so an IP would otherwise survive as four short digit runs). */
  def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(
      text, emailRe, "<EMAIL>"), ipv4Re, "<IP>"), phoneRe, "<PHONE>")

  /** PII detection stats + scrub in one struct: counts are taken on the
    * PROGRESSIVELY redacted text (emails on the raw text, IPs after
    * email redaction, phones after both) so each span is counted under
    * exactly one type — the same staging `redactPii` applies. Fields:
    * n_email, n_ip, n_phone (int), redacted (string). Pure builtin
    * regexp Columns — codegen'd, no UDF, linear per-row work. */
  def piiStats(text: Column): Column = {
    val afterEmail = regexp_replace(text, emailRe, "<EMAIL>")
    val afterIp    = regexp_replace(afterEmail, ipv4Re, "<IP>")
    struct(
      size(regexp_extract_all(text, lit(emailRe), lit(0))).as("n_email"),
      size(regexp_extract_all(afterEmail, lit(ipv4Re), lit(0))).as("n_ip"),
      size(regexp_extract_all(afterIp, lit(phoneRe), lit(0))).as("n_phone"),
      regexp_replace(afterIp, phoneRe, "<PHONE>").as("redacted"))
  }

  // ---- Quality scoring -------------------------------------------------

  private val stopwords = Seq("the", "a", "an", "of", "and", "in", "to", "is")

  /** Count of stopword tokens. */
  def stopwordCount(tokensCol: Column): Column =
    size(filter(tokensCol, t => t.isInCollection(stopwords)))

  def stopwordRatio(tokensCol: Column): Column =
    round(stopwordCount(tokensCol).cast("double") / size(tokensCol), 6)

  /** Mean token length (chars excluding whitespace / token count). */
  def avgWordLen(text: Column): Column =
    round(length(regexp_replace(trim(text), "\\s+", "")).cast("double") /
      tokenCount(text), 6)

  /** Composite quality score in [0,1]: length credit (capped at 200
    * tokens) discounted by stopword density. Deterministic arithmetic
    * mirrored exactly by the DuckDB oracle. */
  def qualityScore(text: Column): Column = {
    val toks = tokens(text)
    val nTok = size(toks).cast("double")
    val stopR = stopwordCount(toks).cast("double") / nTok
    round(least(nTok, lit(200.0)) / 200.0 * (lit(1.0) - stopR), 6)
  }

  // ---- Repetition metrics (Gopher-style quality signals) ---------------

  /** Word n-grams as space-joined strings; empty array when the doc has
    * fewer than `n` tokens (guarded: `sequence(0, negative)` would
    * produce a DESCENDING range, not an empty one). Pure per-row
    * builtins — no shuffle, no explode. */
  def wordNgrams(tokensCol: Column, n: Int): Column =
    when(size(tokensCol) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(tokensCol) - n),
        i => concat_ws(" ", (1 to n).map(j => element_at(tokensCol, i + j)): _*)))

  /** Both repetition stats for one n in ONE sorted pass:
    * `struct(dup, top)` where dup = 1 - distinct/total (fraction of
    * n-gram occurrences that repeat an earlier one) and top = share of
    * the single most frequent n-gram. A single higher-order `aggregate`
    * tracks (best-run, current-run, distinct-so-far, prev) over the
    * sorted grams — the per-doc mode + distinct count without an
    * explode+groupBy shuffle, and without materializing the gram array
    * once per metric (higher-order fns evaluate interpreted, so tree
    * duplication is the dominant cost, not codegen). */
  def ngramRepStats(tokensCol: Column, n: Int): Column = {
    val g = array_sort(wordNgrams(tokensCol, n))
    val agg = aggregate(
      g,
      struct(lit(0).as("best"), lit(0).as("run"), lit(0).as("nd"),
        lit(null).cast("string").as("prev")),
      (acc, x) => {
        val same = x === acc("prev") // null prev -> null -> otherwise
        val run = when(same, acc("run") + 1).otherwise(lit(1))
        val nd = when(same, acc("nd")).otherwise(acc("nd") + 1)
        struct(greatest(acc("best"), run).as("best"), run.as("run"),
          nd.as("nd"), x.as("prev"))
      },
      acc => struct(acc("best").as("best"), acc("nd").as("nd")))
    val total = size(g)
    struct(
      when(total <= 0, lit(0.0)).otherwise(
        round(lit(1.0) - agg("nd").cast("double") / total, 6)).as("dup"),
      when(total <= 0, lit(0.0)).otherwise(
        round(agg("best").cast("double") / total, 6)).as("top"))
  }

  /** Fraction of n-gram occurrences that are repeats of an earlier one
    * (0.0 for docs too short to have any). The duplicate-n-gram density
    * filter of web-scale curation pipelines. */
  def dupNgramFraction(tokensCol: Column, n: Int): Column =
    ngramRepStats(tokensCol, n)("dup")

  /** Occurrence share of the single most frequent n-gram. */
  def topNgramFraction(tokensCol: Column, n: Int): Column =
    ngramRepStats(tokensCol, n)("top")

  // ---- Language ID heuristic ------------------------------------------

  private val profiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "in", "to", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un"))

  /** n-gram/stopword-profile language ID: argmax of per-language
    * stopword hits, ties broken by profile order (en > de > fr),
    * 'und' (undetermined) when no profile matches. */
  def langId(tokensCol: Column): Column = {
    val scores = profiles.map { case (lang, words) =>
      lang -> size(filter(tokensCol, t => t.isInCollection(words)))
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((lang, sc), acc) =>
      when(sc === best && best > 0, lit(lang)).otherwise(acc)
    }
  }

  // ---- Byte-pair encoding (trained merges) -----------------------------

  /** End-of-word marker symbol (Sennrich et al. 2016 convention): each
    * word's symbol sequence ends in this sentinel, so merges crossing a
    * word boundary are impossible and the tokenization is invertible
    * (concatenate tokens, split at the marker). */
  val BpeEndOfWord = "</w>"

  /** Train a BPE merge table on a corpus — the REAL algorithm (Sennrich
    * et al., "Neural Machine Translation of Rare Words with Subword
    * Units", ACL 2016 — public), not a greedy longest-piece lookup:
    * repeatedly merge the most frequent adjacent symbol pair.
    *
    * Spark shape: ONE distributed scan builds the word-frequency table
    * (map-side-combined groupBy; capped at `maxVocab` words by
    * (freq desc, word asc) so driver state is bounded at any corpus
    * size); the merge loop then runs on the driver over that bounded
    * table — BPE training is inherently sequential in the merge rank,
    * and the per-iteration pair count over ≤maxVocab words is μs-scale
    * driver work, so distributing the loop would buy nothing and cost
    * a shuffle per merge. Deterministic: vocabulary cap and pair argmax
    * both tie-break lexicographically.
    *
    * @return ranked merges, rank 0 first. Fewer than `nMerges` entries
    *   when the vocabulary fuses completely first. */
  def bpeTrainMerges(df: org.apache.spark.sql.DataFrame, textCol: String,
                     nMerges: Int, maxVocab: Int = 100000): Seq[(String, String)] = {
    require(nMerges >= 0 && maxVocab > 0)
    val wf = df.select(explode(tokens(col(textCol))).as("w"))
      .where(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("w"))
      .limit(maxVocab)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    var vocab: Array[(Array[String], Long)] = wf.map { case (w, f) =>
      (codePointSymbols(w) :+ BpeEndOfWord, f)
    }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    while (merges.length < nMerges && !done) {
      val pairCounts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      for ((syms, f) <- vocab) {
        var j = 0
        while (j < syms.length - 1) {
          val p = (syms(j), syms(j + 1))
          pairCounts.update(p, pairCounts.getOrElse(p, 0L) + f)
          j += 1
        }
      }
      if (pairCounts.isEmpty) done = true
      else {
        val best = pairCounts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
        merges += best
        vocab = vocab.map { case (syms, f) => (mergePair(syms, best), f) }
      }
    }
    merges.toSeq
  }

  /** Code-point symbols of a word (surrogate-pair safe). */
  private[functions] def codePointSymbols(w: String): Array[String] = {
    val out = new Array[String](w.codePointCount(0, w.length))
    var i = 0; var k = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      out(k) = new String(Character.toChars(cp))
      i += Character.charCount(cp); k += 1
    }
    out
  }

  /** One left-to-right pass replacing every adjacent occurrence of
    * `p` — the merge application shared by training and encoding. */
  private[functions] def mergePair(syms: Array[String], p: (String, String)): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var j = 0
    while (j < syms.length) {
      if (j < syms.length - 1 && syms(j) == p._1 && syms(j + 1) == p._2) {
        out += syms(j) + syms(j + 1); j += 2
      } else { out += syms(j); j += 1 }
    }
    out.toArray
  }

  /** BPE-encode a text column with a trained merge table — per word,
    * the lowest-rank applicable merge is applied until none applies
    * (the standard encode). Native expression; see
    * [[NativeExprs.BpeEncodeExpr]]. */
  def bpeEncode(text: Column, merges: Seq[(String, String)]): Column =
    NativeExprs.bpeEncodeNative(text, merges)

  /** FastText-style hashed linear classifier score (Joulin et al.,
    * "Bag of Tricks for Efficient Text Classification", 2017 —
    * public): tokens hash into `dim` buckets (the hashing trick), the
    * per-bucket weights are summed and length-normalized. Score in
    * [-1, 1], rounded to the 1e-6 grid; empty text scores 0.
    *
    * `weight` maps a bucket id to an INTEGER milli-weight in
    * [-1000, 1000] — integers so the distributed sum is
    * order-independent (the unigram-LM quantization trick; a double
    * sum would be partition-order-dependent and unverifiable). The
    * default derives a pseudo-weight from the bucket id itself
    * (`b % 2001 - 1000`) — a deterministic, external-engine-
    * reproducible stand-in for trained weights; a production caller
    * passes its trained vector as
    * `b => element_at(lit(w), (b + 1).cast("int"))` (a broadcast
    * array lookup — identical plan shape, no shuffle either way).
    *
    * Scale shape: pure per-row array expressions (split → md5 → conv
    * → sum), fully codegen'd, no UDF, no shuffle, no state — the
    * classifier tier adds ZERO exchanges to a curation pipeline. */
  def hashedLinearScore(text: Column, dim: Int): Column =
    NativeExprs.hashedLinearScoreNative(text, dim)

  /** The general-weights variant (the trained-model path; see above).
    * The default hash-derived law takes the fused native pass instead
    * ([[NativeExprs.HashedLinearScoreExpr]] — bit-identical, ~3×
    * faster: no per-token hex string / conv parse / per-element
    * expression overhead); this Column form exists for callers
    * supplying a real weight mapping. */
  def hashedLinearScore(text: Column, dim: Int,
                        weight: Column => Column): Column = {
    require(dim > 0, s"dim=$dim")
    val toks = filter(tokens(text), t => length(t) > 0)
    val buckets = transform(toks,
      t => conv(substring(md5(t), 1, 15), 16, 10).cast("long") % dim)
    val milliSum = aggregate(transform(buckets, weight), lit(0L), (acc, x) => acc + x)
    when(size(toks) > 0,
      round(milliSum.cast("double") / (size(toks) * 1000.0), 6))
      .otherwise(lit(0.0))
  }

  /** The TRAINED-weights fast path: the fused native classifier pass
    * with a concrete milli-weight array (`weights.length` = dim, one
    * reference object shipped with the task closure — a fastText-sized
    * 256k table is 1 MiB). `weights(i) = i % 2001 - 1000` reproduces
    * the hash-derived default bit-for-bit (spec-pinned), which is the
    * swap-in contract made executable: training changes the array
    * contents, never the plan. */
  def hashedLinearScoreTrained(text: Column, weights: Array[Int]): Column =
    NativeExprs.weightedLinearScoreNative(text, weights)
}
