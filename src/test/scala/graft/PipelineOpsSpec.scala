package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators.{AsofJoin, Dedup, IndexLifecycle, Multimodal, Similarity}

/** Brute-force oracles for the pipeline operators that have no SQL
  * oracle in the driver gate: MinHash/LSH and SimHash near-dup, ANN
  * recall, as-of join, multimodal plumbing. The oracle is always an
  * independent serial Scala computation over collected rows — the
  * reference's differential-testing contract (SURVEY §5). */
class PipelineOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("pipeline-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  // Synthetic corpus with planted near-duplicates.
  private lazy val corpus: Seq[(Long, String)] = {
    val rnd = new scala.util.Random(7)
    val vocab = Vector("spark", "scan", "join", "filter", "group", "sort",
      "the", "a", "of", "merge", "window", "hash", "row", "key", "data")
    def doc(n: Int): String = Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val base = (0L until 40L).map(i => (i, doc(60 + rnd.nextInt(40))))
    // near-dups: copy with a few words changed
    val dups = (0L until 8L).map { i =>
      val (_, t) = base(i.toInt)
      val words = t.split(" ")
      words(rnd.nextInt(words.length)) = vocab(rnd.nextInt(vocab.size))
      (100L + i, words.mkString(" "))
    }
    // one exact dup
    base ++ dups :+ (200L, base(3)._2)
  }

  private lazy val docsDF: DataFrame = corpus.toDF("doc_id", "text")

  private def tokSet(t: String): Set[String] = t.trim.split("\\s+").toSet
  private def shingleSet(t: String, k: Int): Set[String] =
    (if (t.length < k) Seq(t.take(k)) else t.sliding(k).toSeq).toSet
  private def jac(a: Set[String], b: Set[String]): Double =
    a.intersect(b).size.toDouble / a.union(b).size

  test("exact dedup finds the planted exact duplicate") {
    val res = Dedup.exact(docsDF, "doc_id", "text")
      .where(col("n") > 1).collect()
    assert(res.length == 1)
    assert(res(0).getAs[Long]("keep_id") == 3L)
    assert(res(0).getAs[Long]("n") == 2L)
  }

  test("minhash LSH near-dup pairs match brute-force shingle-Jaccard oracle") {
    val threshold = 0.5
    val got = Dedup.minhashNearDupPairs(docsDF, "doc_id", "text",
      threshold = threshold, numHashes = 128, bands = 32, rowsPerBand = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (for {
      (ia, ta) <- corpus; (ib, tb) <- corpus if ia < ib
      j = jac(shingleSet(ta, 8), shingleSet(tb, 8)) if j >= threshold
    } yield (ia, ib)).toSet
    // LSH with 32 bands × 4 rows: planted dups have j ~ 0.9 →
    // P(miss) = (1-0.9^4)^32 ≈ 1e-15, recall effectively certain. All
    // found pairs are exact-verified, so got ⊆ want always.
    assert(got.subsetOf(want), s"false positives: ${got.diff(want)}")
    val planted = want.filter { case (a, b) => b >= 100L || a >= 100L }
    assert(planted.subsetOf(got), s"missed planted dups: ${planted.diff(got)}")
  }

  test("DSIR importance weights match a serial hashed-bigram log-ratio oracle") {
    import graft.operators.Curation
    val dim = 4096
    val n = 2
    // target = the first 20 originals; raw = the whole corpus (the
    // planted near-dups of docs 0-7 should tilt positive — their
    // bigrams are target bigrams)
    val target = docsDF.where(col("doc_id") < 20)
    // null and sub-n texts take the documented "no grams -> 0" rule,
    // never SQL null propagation
    val raw = docsDF.unionByName(
      Seq((900L, Option.empty[String]), (901L, Some("solo")), (902L, Some("")))
        .toDF("doc_id", "text"))
    val got = Curation.dsirLogWeights(raw, target, "doc_id", "text", dim, n)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got(900L) == 0L && got(901L) == 0L && got(902L) == 0L)

    // serial oracle: same md5 high-60-bit bucket law, add-1 smoothing,
    // per-bucket HALF_UP micro-quantization, integer doc sums
    def toks(t: String): Array[String] = t.trim.split("\\s+").filter(_.nonEmpty)
    def bucket(g: String): Long = {
      val dig = java.security.MessageDigest.getInstance("MD5")
        .digest(g.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var v = 0L
      for (b <- 0 until 8) v = (v << 8) | (dig(b) & 0xffL)
      (v >>> 4) % dim
    }
    def grams(t: String): Seq[Long] = {
      val w = toks(t)
      (0 to w.length - n).map(i => bucket(w.slice(i, i + n).mkString(" ")))
    }
    val rawG = corpus.flatMap { case (_, t) => grams(t) }
    val tgtG = corpus.filter(_._1 < 20L).flatMap { case (_, t) => grams(t) }
    val cr = rawG.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val ct = tgtG.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val (nr, nt) = (rawG.size.toLong, tgtG.size.toLong)
    def lam(b: Long): Long = graft.functions.Quantize.quantizeDouble(
      math.log((ct.getOrElse(b, 0L) + 1.0) / (nt + dim)) -
        math.log((cr.getOrElse(b, 0L) + 1.0) / (nr + dim)), 6)
    val want = corpus.map { case (id, t) => id -> grams(t).map(lam).sum }.toMap
    assert(got.view.filterKeys(want.contains).toMap == want)
    // direction: target docs and their planted near-dups score above
    // the non-target originals on average
    def avg(ids: Iterable[Long]): Double =
      ids.map(got).sum.toDouble / ids.size
    val inTgt = corpus.map(_._1).filter(i => i < 20L || (i >= 100L && i < 106L))
    val outTgt = corpus.map(_._1).filter(i => i >= 20L && i < 40L)
    assert(avg(inTgt) > avg(outTgt))
  }

  test("gumbelTopK matches the serial md5-Gumbel draw; exactly k; weight dominance") {
    import graft.operators.Sampling
    val rows = (0L until 300L).map(i => (i, (i * 37 % 101) * 1000L))
    val df = rows.toDF("doc_id", "w")
    val k = 40
    val got = Sampling.gumbelTopK(df, "doc_id", col("w"), k)
      .select("doc_id", "samp_micro").as[(Long, Long)].collect()
    assert(got.length == k)
    // serial oracle: same md5-60bit -> (0,1) -> -ln(-ln u) -> micro law
    def gumbelMicro(id: Long): Long = {
      val dig = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var v = 0L
      for (b <- 0 until 8) v = (v << 8) | (dig(b) & 0xffL)
      // modulus 2^53-1, divisor 2^53 — must match Sampling.gumbelTopK:142
      // and the q_dsir_sample DuckDB oracle exactly (pins the engine law)
      val u = ((v >>> 4) % 9007199254740991L + 0.5) / 9007199254740992.0
      graft.functions.Quantize.quantizeDouble(-math.log(-math.log(u)), 6)
    }
    val want = rows.map { case (id, w) => (id, w + gumbelMicro(id)) }
      .sortBy { case (id, s) => (-s, id) }.take(k)
    assert(got.sortBy(r => (-r._2, r._1)).toSeq == want)
    // dominance: an overwhelming weight is always drawn (gumbel noise
    // spans a few dozen micro-millions; 1e12 dwarfs it)
    val dom = Sampling.gumbelTopK(
      df.withColumn("w", when(col("doc_id") === 250L, lit(1000000000000L))
        .otherwise(col("w"))), "doc_id", col("w"), k)
      .select("doc_id").as[Long].collect().toSet
    assert(dom.contains(250L))
  }

  test("incremental fuzzy dedup: minhash-index probe equals brute-force cross-Jaccard") {
    val threshold = 0.5
    // originals (ids < 100) play the standing corpus; the planted
    // near-dups + the exact dup (ids >= 100) play the daily delta.
    val baseDf = docsDF.where(col("doc_id") < 100)
    val deltaDf = docsDF.where(col("doc_id") >= 100)
    IndexLifecycle.writeGrowableMinHashIndex(baseDf, "doc_id", "text", "t_mh_idx", 4)
    val got = IndexLifecycle.probeStandingMinHashIndex(deltaDf, "doc_id", "text",
      "t_mh_idx", baseDf, threshold = threshold)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val want = (for {
      (ia, ta) <- corpus if ia >= 100L
      (ib, tb) <- corpus if ib < 100L
      j = jac(shingleSet(ta, 8), shingleSet(tb, 8)) if j >= threshold
    } yield (ia, ib) -> j).toMap
    val gotPairs = got.map(t => (t._1, t._2)).toSet
    // exact verification: got ⊆ want always, with exact jaccards
    assert(gotPairs.subsetOf(want.keySet), s"false positives: ${gotPairs.diff(want.keySet)}")
    got.foreach { case (a, b, j) =>
      assert(math.abs(j - want((a, b))) < 1e-6, s"pair ($a,$b): $j vs ${want((a, b))}")
    }
    // recall: every planted partner sits at j >= 0.9 (one word of
    // 60+ changed, or identical) — banding miss ~1e-15, so all strong
    // cross pairs must be found through the index.
    val strong = want.filter(_._2 >= 0.9).keySet
    assert(strong.nonEmpty && strong.subsetOf(gotPairs),
      s"missed strong pairs: ${strong.diff(gotPairs)}")
  }

  test("simhash pairs are a superset of strong near-dups and verified by hamming") {
    val got = Dedup.simhashNearDupPairs(docsDF, "doc_id", "text", maxHamming = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong))
    // The exact dup pair must appear at hamming 0.
    assert(got.exists { case (a, b, h) => a == 3L && b == 200L && h == 0L })
    // Hamming distances are symmetric-consistent: recompute from the
    // engine's own simhash column and compare.
    val sh = docsDF.select(col("doc_id"),
      graft.functions.NativeExprs.simhashMd5Native(TextFunctions.tokens(col("text"))).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.foreach { case (a, b, h) =>
      assert(java.lang.Long.bitCount(sh(a) ^ sh(b)) == h, s"pair ($a,$b)")
    }
  }

  test("fingerprint jaccard pairs: exact dup has jaccard 1.0") {
    val got = Dedup.fingerprintJaccardPairs(docsDF, "doc_id", "text")
      .where(col("id_a") === 3 && col("id_b") === 200).collect()
    assert(got.length == 1 && got(0).getAs[Double]("jaccard") == 1.0)
  }

  test("repetition metrics match hand-computed fractions incl. short-doc edge cases") {
    val df = Seq(
      (1L, "a a a b"),        // bigrams: "a a","a a","a b" -> dup2 1/3, top2 2/3
      (2L, "x y z"),          // all distinct -> dup2 0, top2 1/2
      (3L, "w"),              // too short for bigrams -> 0.0, not a range error
      (4L, ""),               // split("") = [""] (1 token) -> 0.0
      (5L, "p q p q p q")     // "p q"x3,"q p"x2 -> dup2 3/5, top2 3/5, dup3: 4 grams 2 distinct
    ).toDF("doc_id", "text")
    val toks = TextFunctions.tokens(col("text"))
    val got = df.select(col("doc_id"),
        TextFunctions.dupNgramFraction(toks, 2).as("dup2"),
        TextFunctions.topNgramFraction(toks, 2).as("top2"),
        TextFunctions.dupNgramFraction(toks, 3).as("dup3"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L) == ((r6(1.0 - 2.0 / 3), r6(2.0 / 3), 0.0)))
    assert(got(2L) == ((0.0, 0.5, 0.0)))
    assert(got(3L) == ((0.0, 0.0, 0.0)))
    assert(got(4L) == ((0.0, 0.0, 0.0)))
    assert(got(5L) == ((r6(3.0 / 5), r6(3.0 / 5), r6(1.0 - 2.0 / 4))))
  }

  test("native RepStatsExpr matches the Column form exactly (random corpus + edge cases)") {
    val rnd = new scala.util.Random(7)
    val vocab = Array("a", "b", "c", "dog", "the", "x1")
    val randomDocs = (0 until 200).map { i =>
      (i.toLong, Array.fill(rnd.nextInt(40))(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    val edges = Seq(
      (1000L, ""), (1001L, " "), (1002L, "w"), (1003L, "\ta b"),
      (1004L, "a  b\n\nb  a"), (1005L, "é ü é ü é"))
    val df = (randomDocs ++ edges).toDF("doc_id", "text")
    val toks = TextFunctions.tokens(col("text"))
    val native = graft.functions.NativeExprs.repStatsNative(col("text"))
    val r2 = TextFunctions.ngramRepStats(toks, 2)
    val mismatches = df.select(
        native("dup2").as("nd2"), native("top2").as("nt2"), native("dup3").as("nd3"),
        r2("dup").as("cd2"), r2("top").as("ct2"),
        TextFunctions.dupNgramFraction(toks, 3).as("cd3"))
      .where(col("nd2") =!= col("cd2") || col("nt2") =!= col("ct2") ||
        col("nd3") =!= col("cd3"))
      .count()
    assert(mismatches == 0)
  }

  test("HLL sketch: merge law, partitioning-invariance, 64-bit accuracy, serial oracle") {
    import graft.operators.Sketches
    val n = 20000
    val df = (0L until n.toLong).map(i => i * 7919L + 13L).toDF("k")
    // Serial oracle for the 32-bit md5 path: same hash, same registers,
    // same scaled-integer estimate, computed in plain Scala.
    val md = java.security.MessageDigest.getInstance("MD5")
    val regs = new Array[Int](1024)
    df.collect().map(_.getLong(0)).foreach { v =>
      val hex = md.digest(v.toString.getBytes("UTF-8"))
        .take(4).map(b => f"$b%02x").mkString
      val h = java.lang.Long.parseLong(hex, 16)
      val reg = (h >>> 22).toInt
      val low = h & ((1L << 22) - 1)
      val rho = if (low == 0) 23 else java.lang.Long.numberOfLeadingZeros(low) - 64 + 22 + 1
      if (rho > regs(reg)) regs(reg) = rho
    }
    val s0 = regs.map(r => 1L << (34 - r)).sum
    val alpha = 0.7213 / (1.0 + 1.079 / 1024.0)
    val expectEst = BigDecimal(alpha * 1048576.0 * 17179869184.0 / s0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val est1 = Sketches.hllCardinality(df, Sketches.md5Hash32(col("k")), p = 10)
      .collect()(0)
    assert(est1.getAs[Double]("est") == expectEst)
    // Partitioning invariance: identical estimate from a different layout.
    val est2 = Sketches.hllCardinality(df.repartition(7), Sketches.md5Hash32(col("k")), p = 10)
      .collect()(0).getAs[Double]("est")
    assert(est2 == expectEst)
    // Merge law: sketch(a ∪ b) == merge(sketch(a), sketch(b)).
    val (a, b) = (df.where(col("k") % 3 === 0), df.where(col("k") % 3 =!= 0))
    val merged = Sketches.hllMerge(
      Sketches.hllRegisters(a, Sketches.md5Hash32(col("k")), 10),
      Sketches.hllRegisters(b, Sketches.md5Hash32(col("k")), 10))
    val whole = Sketches.hllRegisters(df, Sketches.md5Hash32(col("k")), 10)
    assert(merged.unionAll(whole).groupBy("reg", "r").count()
      .where(col("count") =!= 2).count() == 0)
    // Production hash path: xxhash64, estimate within HLL error bounds
    // (sigma = 1.04/sqrt(1024) = 3.25%; allow 5 sigma).
    val est64 = Sketches.hllCardinality(df, xxhash64(col("k")), p = 10, hashBits = 64)
      .collect()(0).getAs[Double]("est")
    assert(math.abs(est64 - n) < 5 * 0.0325 * n, s"est64=$est64")
    // Fused native path: registers bit-identical to the Column chain.
    val fused = Sketches.hllRegistersMd5(df, col("k"), p = 10)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val ref = whole.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(fused == ref)
    val fusedGrouped = Sketches.hllRegistersGroupedMd5(
      df.withColumn("g", col("k") % 2), Seq("g"), col("k"), p = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val refGrouped = Sketches.hllRegistersGrouped(
      df.withColumn("g", col("k") % 2), Seq("g"),
      Sketches.md5Hash32(col("k")), p = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(fusedGrouped == refGrouped)
  }

  test("HLL set ops: union via merge, intersection via inclusion-exclusion, 5-sigma accuracy") {
    import graft.operators.Sketches
    val p = 10
    // |A| = 6000, |B| = 5000, |A∩B| = 2000
    val a = (0L until 6000L).toDF("k")
    val b = (4000L until 9000L).toDF("k")
    val ra = Sketches.hllRegistersMd5(a, col("k"), p)
    val rb = Sketches.hllRegistersMd5(b, col("k"), p)
    val row = Sketches.hllSetOps(ra, rb, p).first()
    val (estA, estB, estU, estI) =
      (row.getDouble(0), row.getDouble(1), row.getDouble(2), row.getDouble(3))
    // inclusion-exclusion identity holds exactly on the rounded values
    assert(math.abs(estI - math.rint((estA + estB - estU) * 1e6) / 1e6) < 1e-9)
    // each estimate within 5 sigma (sigma = 1.04/sqrt(m)); the
    // intersection compounds three estimates -> allow 3x the band
    val sigma = 1.04 / math.sqrt(1 << p)
    assert(math.abs(estA - 6000) / 6000 < 5 * sigma, s"estA=$estA")
    assert(math.abs(estB - 5000) / 5000 < 5 * sigma, s"estB=$estB")
    assert(math.abs(estU - 9000) / 9000 < 5 * sigma, s"estU=$estU")
    assert(math.abs(estI - 2000) / 2000 < 15 * sigma, s"estI=$estI")
  }

  test("grouped HLL: rollup-of-sketches == sketch-of-rollup; per-group == filtered global") {
    import graft.operators.Sketches
    val df = (0L until 9000L).map(i => (i % 3, i * 7919L + 13L)).toDF("g", "k")
    val grouped = Sketches.hllRegistersGrouped(df, Seq("g"),
      Sketches.md5Hash32(col("k")), p = 10)
    // per-group registers equal the plain sketch over that group's rows
    for (g <- 0L until 3L) {
      val direct = Sketches.hllRegisters(df.where(col("g") === g),
        Sketches.md5Hash32(col("k")), 10)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val fromGrouped = grouped.where(col("g") === g).drop("g")
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(fromGrouped == direct, s"g=$g")
    }
    // rolling the grouped table up (drop g, max r) == the global sketch:
    // sketches re-aggregate, rows never rescan
    val rolled = grouped.groupBy("reg").agg(max("r").as("r"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val global = Sketches.hllRegisters(df, Sketches.md5Hash32(col("k")), 10)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(rolled == global)
    // grouped estimates land within 5 sigma of each group's true count
    val ests = Sketches.hllEstimateGrouped(grouped, Seq("g"), p = 10)
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("est")).toMap
    for (g <- 0L until 3L)
      assert(math.abs(ests(g) - 3000.0) < 5 * 0.0325 * 3000.0, s"g=$g est=${ests(g)}")
  }

  test("histogram quantile sketch: merge law, bin-width accuracy, clamping") {
    import graft.operators.Sketches
    val rnd = new scala.util.Random(23)
    val vals = Seq.fill(8000)(rnd.nextDouble() * 1000.0) ++
      Seq(-50.0, 1200.0) // clamp to edge buckets, not dropped
    val df = vals.toDF("v")
    val (lo, hi, bins) = (lit(0.0), lit(1000.0), 200)
    val hist = Sketches.histSketch(df, col("v"), lo, hi, bins)
    // Counts conserve rows (clamped values included).
    assert(hist.agg(sum("cnt")).collect()(0).getLong(0) == vals.size)
    // Merge law: hist(a ∪ b) == merge(hist(a), hist(b)).
    val (a, b) = (df.limit(3000), df.exceptAll(df.limit(3000)))
    val merged = Sketches.histMerge(
      Sketches.histSketch(a, col("v"), lo, hi, bins),
      Sketches.histSketch(b, col("v"), lo, hi, bins))
    assert(merged.unionAll(hist).groupBy("bin", "cnt").count()
      .where(col("count") =!= 2).count() == 0)
    // Each estimate is within one bin width of the exact percentile.
    val qs = Seq(0.25, 0.5, 0.9, 0.99)
    val est = Sketches.histQuantiles(hist, lo, hi, bins, qs)
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    val sorted = vals.sorted
    val binW = 1000.0 / bins
    for (q <- qs) {
      val exact = sorted(math.ceil(q * vals.size).toInt - 1)
      assert(math.abs(est(q) - exact) <= binW + 1e-9,
        s"q=$q est=${est(q)} exact=$exact")
    }
    // Partitioning invariance: bit-identical estimates.
    val est2 = Sketches.histQuantiles(
      Sketches.histSketch(df.repartition(7), col("v"), lo, hi, bins),
      lo, hi, bins, qs).collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(est2 == est)
  }

  test("count-min sketch: never under-counts, conserves mass, merge law, forced collisions") {
    import graft.operators.Sketches
    val rnd = new scala.util.Random(31)
    // Heavy-tailed keys: key k appears ~1000/(k+1) times.
    val keys = (0 until 50).flatMap(k => Seq.fill(1000 / (k + 1))(k.toLong))
    val df = rnd.shuffle(keys).toDF("k")
    val n = keys.size.toLong
    val trueCnt = keys.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    for (w <- Seq(1024, 8)) { // 8 forces collisions; the bound must hold anyway
      val sk = Sketches.cmSketch(df, col("k"), d = 4, w = w)
      // Mass conservation: every hash row holds all n observations.
      val mass = sk.groupBy("i").agg(sum("cnt").as("s")).collect()
      assert(mass.length == 4 && mass.forall(_.getAs[Long]("s") == n))
      val est = Sketches.cmEstimate(sk, df.distinct(), col("k"), d = 4, w = w)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(est.size == 50)
      for ((k, t) <- trueCnt) assert(est(k) >= t, s"w=$w k=$k est=${est(k)} true=$t")
      if (w == 1024) // ~50 keys in 1024 buckets: exact for the heavy head
        assert(est(0L) == trueCnt(0L))
    }
    // Merge law: sketch(a ∪ b) == merge(sketch(a), sketch(b)).
    val (a, b) = (df.limit(700), df.exceptAll(df.limit(700)))
    val merged = Sketches.cmMerge(
      Sketches.cmSketch(a, col("k")), Sketches.cmSketch(b, col("k")))
    assert(merged.unionAll(Sketches.cmSketch(df, col("k")))
      .groupBy("i", "bucket", "cnt").count()
      .where(col("count") =!= 2).count() == 0)
  }

  test("PQ/ADC: codes in range, self-retrieval, recall vs exact L2, partitioning invariance") {
    import graft.operators.ProductQuant
    val rnd = new scala.util.Random(41)
    // 12 planted centers in 32-dim space, 20 members each + noise.
    val centers = IndexedSeq.fill(12)(Array.fill(32)(rnd.nextDouble() * 4 - 2))
    val vecs = (0 until 240).map { i =>
      val c = centers(i % 12)
      (i.toLong, c.map(_ + rnd.nextGaussian() * 0.15).toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val cbs = ProductQuant.trainCodebooks(df, "vec_id", "embedding",
      m = 4, subDim = 8, k = 8, iters = 3)
    assert(cbs.length == 4 && cbs.forall(_.length == 8) &&
      cbs.forall(_.forall(_.length == 8)))
    val codes = ProductQuant.encode(df, "vec_id", "embedding", cbs, subDim = 8)
    val codeRows = codes.collect()
    assert(codeRows.length == 240)
    for (r <- codeRows; s <- 0 until 4) {
      val c = r.getAs[Int](s"code$s"); assert(c >= 0 && c < 8)
    }
    // Probes = 6 corpus vectors; ADC top-10 vs exact-L2 top-10.
    val probes = vecs.take(6).map { case (id, v) => id -> v.toArray }
    val got = ProductQuant.adcTopK(codes, probes, cbs, subDim = 8, topK = 10)
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.sortBy(_.getInt(3)).map(_.getLong(1)).toSeq }
    def l2(a: Array[Double], b: Seq[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    for ((qid, qv) <- probes) {
      val exact = vecs.sortBy { case (id, v) => (l2(qv, v), id) }.take(10).map(_._1)
      // own vector must come back first: its code word is its own argmin
      assert(got(qid).head == qid, s"qid=$qid top=${got(qid).head}")
      // ADC collapses same-code cluster members to one score (ties by
      // id), so exact-set overlap is hypergeometric — the stable claim
      // is cluster containment plus non-trivial overlap.
      val sameCluster = got(qid).count(id => id % 12 == qid % 12)
      assert(sameCluster >= 8, s"qid=$qid onlyCluster=$sameCluster/10")
      val recall = got(qid).count(exact.contains).toDouble / 10
      assert(recall >= 0.3, s"qid=$qid recall=$recall (12-bit codes)")
    }
    // Deterministic under a different partitioning: identical rows.
    val again = ProductQuant.adcTopK(
      ProductQuant.encode(df.repartition(7), "vec_id", "embedding", cbs, subDim = 8),
      probes, cbs, subDim = 8, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val first = ProductQuant.adcTopK(codes, probes, cbs, subDim = 8, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(again == first)
  }

  test("IVF-PQ equals ADC restricted to the probed cells; scores only those cells") {
    import graft.operators.{ProductQuant, Similarity}
    val rnd = new scala.util.Random(43)
    val centers = IndexedSeq.fill(12)(Array.fill(32)(rnd.nextDouble() * 4 - 2))
    val vecs = (0 until 240).map { i =>
      val c = centers(i % 12)
      (i.toLong, c.map(_ + rnd.nextGaussian() * 0.15).toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val cbs = ProductQuant.trainCodebooks(df, "vec_id", "embedding",
      m = 4, subDim = 8, k = 8, iters = 3)
    val codes = ProductQuant.encode(df, "vec_id", "embedding", cbs, subDim = 8)
    val cells = Similarity.assignCells(df, "vec_id", "embedding", nCells = 6)
    val centroids = vecs.take(6).map { case (id, v) => id -> v.toArray }
    val probes = vecs.take(4).map { case (id, v) => id -> v.toArray }
    val got = ProductQuant.ivfAdcTopK(codes, cells, centroids, probes, cbs,
      subDim = 8, nprobe = 2, topK = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    // Differential oracle: for each probe, run plain adcTopK over ONLY
    // the codes in its 2 nearest cells (computed independently here).
    val cellOf = cells.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def cos(a: Array[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(y => y * y).sum))
    }
    val want = probes.flatMap { case (qid, qv) =>
      val myCells = centroids.map { case (cid, cv) =>
        (cid, BigDecimal(cos(qv, cv.toSeq)).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.sortBy { case (cid, sim) => (-sim, cid) }.take(2).map(_._1).toSet
      val subset = codes.where(col("id").isin(
        cellOf.collect { case (id, cell) if myCells(cell) => id }.toSeq: _*))
      ProductQuant.adcTopK(subset, Seq(qid -> qv), cbs, subDim = 8, topK = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    }.toSet
    assert(got == want, s"got minus want: ${got.diff(want).take(5)}")
    // every returned id must live in a probed cell for its query
    assert(got.nonEmpty && got.size == 4 * 5)
  }

  test("cosineTopK matches brute-force oracle exactly") {
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 60L).map(i => (i, Array.fill(16)(rnd.nextDouble() - 0.5)))
    val df = vecs.toDF("id", "vec")
    val q = df.where(col("id") < 5).select(col("id").as("qid"), col("vec"))
    val got = Similarity.cosineTopK(q, df, k = 4)
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap

    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val want = (0L until 5L).map { qid =>
      val qa = vecs(qid.toInt)._2
      qid -> vecs.filter(_._1 != qid)
        .map { case (id, v) => (id, cos(qa, v)) }
        .sortBy { case (id, s) => (-s, id) }.take(4).map(_._1).toSeq
    }.toMap
    assert(got == want)
  }

  test("annTopK returns subsets of the bucket with exact rerank (sane recall on clusters)") {
    // Clustered vectors: ANN must find same-cluster neighbors.
    val rnd = new scala.util.Random(13)
    val centers = Array.fill(4)(Array.fill(16)(rnd.nextDouble() * 4 - 2))
    val vecs = (0L until 80L).map { i =>
      val c = centers((i % 4).toInt)
      (i, c.map(x => x + rnd.nextDouble() * 0.05))
    }
    val df = vecs.toDF("id", "vec")
    val q = df.where(col("id") < 4).select(col("id").as("qid"), col("vec"))
    val got = Similarity.annTopK(q, df, k = 3, bits = 4).collect()
    // every returned neighbor belongs to the query's cluster
    got.foreach { r =>
      assert(r.getLong(1) % 4 == r.getLong(0) % 4,
        s"ANN crossed clusters: ${r.getLong(0)} -> ${r.getLong(1)}")
    }
    // and every query found at least 1 same-cluster neighbor
    assert(got.map(_.getLong(0)).distinct.length == 4)
  }

  test("randomProject: serial LCG parity, determinism, JL cosine preservation on average") {
    val rnd = new scala.util.Random(53)
    val vecs = (0L until 60L).map(i => (i, Array.fill(64)(rnd.nextDouble() * 2 - 1)))
    val df = vecs.toDF("id", "vec")
    val got = Similarity.randomProject(df, "id", "vec", dims = 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    // serial oracle: same Lehmer-LCG direction construction
    val M = 2147483647L
    def comp(j: Int, d: Int): Double = {
      val x = Math.floorMod(42L * 1000003L + j * 8191L + d * 127L + 1L, M)
      ((48271L * ((48271L * x) % M)) % M % 1000L).toDouble / 1000.0 - 0.5
    }
    vecs.foreach { case (id, v) =>
      val want = Array.tabulate(16)(j => v.indices.map(d => v(d) * comp(j, d)).sum)
      assert(got(id).length == 16)
      got(id).zip(want).foreach { case (g, w) =>
        assert(math.abs(g - w) < 1e-9, s"id=$id")
      }
    }
    // JL sanity for the dedup use: NEAR-DUP pairs (tiny perturbations,
    // cos ≈ 1) must stay high-cosine after projection, and clearly
    // above random pairs' average. (At k=16 the distortion for
    // near-orthogonal pairs is ~sqrt(ln n / k) — random-pair cosines
    // are NOT individually preserved; separation is the contract.)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val dupProj = vecs.take(20).map { case (id, v) =>
      val pert = v.map(x => x + rnd.nextDouble() * 0.01)
      val p = Array.tabulate(16)(j => pert.indices.map(d => pert(d) * comp(j, d)).sum)
      cos(got(id), p)
    }
    val randProj = (0 until 40).map { _ =>
      val i = rnd.nextInt(60); var j = rnd.nextInt(60); if (j == i) j = (j + 1) % 60
      cos(got(vecs(i)._1), got(vecs(j)._1))
    }
    val dupMean = dupProj.sum / dupProj.size
    val randMean = randProj.map(math.abs).sum / randProj.size
    assert(dupMean > 0.95, s"near-dup projected cosine mean $dupMean")
    assert(dupMean > randMean + 0.3,
      s"no separation: dup $dupMean vs |random| $randMean")
  }

  test("annSelfTopK: per-row ranks exact over its candidate set, cluster recall, cap only removes") {
    val rnd = new scala.util.Random(41)
    val centers = Array.fill(4)(Array.fill(16)(rnd.nextDouble() * 4 - 2))
    val vecs = (0L until 80L).map { i =>
      val c = centers((i % 4).toInt)
      (i, c.map(x => x + rnd.nextDouble() * 0.05))
    }
    val df = vecs.toDF("id", "vec")
    val got = Similarity.annSelfTopK(df, k = 3, tables = 3, bits = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    // every row has a neighbor list; neighbors never cross clusters
    assert(got.map(_._1).distinct.length == 80)
    got.foreach { case (q, n, _, _) =>
      assert(q % 4 == n % 4, s"ANN crossed clusters: $q -> $n")
    }
    // ranks are 1..m consecutive and sims non-increasing per query
    got.groupBy(_._1).foreach { case (q, rows) =>
      val byRk = rows.sortBy(_._3)
      assert(byRk.map(_._3).toSeq == (1 to rows.length).toSeq, s"ranks for $q")
      assert(byRk.map(_._4).toSeq == byRk.map(_._4).sortBy(-(_: Double)).toSeq,
        s"sims not descending for $q")
      assert(rows.length <= 3)
    }
    // symmetric candidates: if n ranks for q at sim s, q appears among
    // n's candidates too (directed pairs from the same buckets) — check
    // via brute-force: each (q, n) really is in some shared LSH bucket
    // is implied by construction; instead pin exact rerank: recompute
    // cosine serially and compare at 6 dp
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val byId = vecs.toMap
    got.foreach { case (q, n, _, sim) =>
      assert(math.abs(sim - cos(byId(q), byId(n))) < 5e-6, s"sim $q->$n")
    }
    // the bucket cap removes candidates (fewer or equal rows), and what
    // survives still never crosses clusters
    val capped = Similarity.annSelfTopK(df, k = 3, tables = 3, bits = 4,
      maxBucketSize = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(capped.length <= got.length)
    capped.foreach { case (q, n) => assert(q % 4 == n % 4) }
  }

  test("multi-table hyperplane LSH: precision 1.0, recall beats single table on clustered vectors") {
    val rnd = new scala.util.Random(29)
    val centers = Array.fill(6)(Array.fill(16)(rnd.nextDouble() * 4 - 2))
    val vecs = (0L until 120L).map { i =>
      val c = centers((i % 6).toInt)
      (i, c.map(x => x + rnd.nextDouble() * 0.08))
    }
    val df = vecs.toDF("vec_id", "embedding")
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val truth = (for {
      (ia, va) <- vecs; (ib, vb) <- vecs if ia < ib
      if cos(va, vb) >= 0.9
    } yield (ia, ib)).toSet
    assert(truth.nonEmpty)
    def found(tables: Int): Set[(Long, Long)] =
      Dedup.embeddingNearDupPairsLsh(df, "vec_id", "embedding",
        threshold = 0.9, tables = tables, bits = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val one = found(1)
    val four = found(4)
    // exact verification keeps precision at 1.0 regardless of blocking
    assert(one.subsetOf(truth) && four.subsetOf(truth))
    // OR-of-tables can only add candidates; on clusters it must help
    assert(one.subsetOf(four))
    assert(four.size >= one.size)
    assert(four.size.toDouble / truth.size >= 0.5,
      s"4-table recall too low: ${four.size}/${truth.size}")
    // the bucket-size cap only ever removes pairs
    val capped = Dedup.embeddingNearDupPairsLsh(df, "vec_id", "embedding",
      threshold = 0.9, tables = 4, bits = 4, maxBucketSize = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.subsetOf(four))
  }

  test("asof backward join matches serial oracle incl. equal-ts and no-match rows") {
    val left = Seq((1L, 10L, 100L), (2L, 10L, 205L), (3L, 10L, 50L), (4L, 20L, 99L))
      .toDF("eid", "k", "ts")
    val right = Seq((7L, 10L, 100L), (8L, 10L, 200L), (9L, 30L, 1L))
      .toDF("rid", "k", "ts")
    val got = AsofJoin.backward(left, right.select(col("k"), col("ts"), col("rid")),
      "k", "ts", "ts", Seq("rid"))
      .collect().map(r => (r.getLong(0), Option(r.get(3)).map(_.asInstanceOf[Long])))
      .toMap
    assert(got == Map(
      1L -> Some(7L),  // equal ts matches
      2L -> Some(8L),  // latest <= 205
      3L -> None,      // before all right rows
      4L -> None))     // key with no right rows

    val fwd = AsofJoin.forward(left, right.select(col("k"), col("ts"), col("rid")),
      "k", "ts", "ts", Seq("rid"))
      .collect().map(r => (r.getLong(0), Option(r.get(3)).map(_.asInstanceOf[Long])))
      .toMap
    assert(fwd == Map(
      1L -> Some(7L),  // equal ts matches forward too
      2L -> None,      // nothing at or after 205
      3L -> Some(7L),  // earliest >= 50
      4L -> None))
  }

  test("multimodal: decode is deterministic, schema contract holds, feature dim fixed") {
    val media = Multimodal.fromDocuments(docsDF, "doc_id", "text", "text")
    val dec = Multimodal.decodeImages(media, batchSize = 16)
    assert(dec.schema == Multimodal.decodedSchema)
    def summary(df: org.apache.spark.sql.DataFrame) =
      df.select("media_id", "width", "height", "mean_px").orderBy("media_id")
        .collect().map(_.toSeq.toList).toSeq
    val rows = dec.orderBy("media_id").collect()
    assert(rows.length == corpus.length)
    // deterministic: re-run with a different batch size equals first run
    assert(summary(dec) == summary(Multimodal.decodeImages(media, batchSize = 7)))
    // exact dup content decodes identically
    val byId = rows.map(r => r.getLong(0) -> (r.getInt(4), r.getInt(5), r.getDouble(6))).toMap
    assert(byId(3L) == byId(200L))

    val feats = Multimodal.extractFeatures(media, dim = 16).collect()
    assert(feats.forall(_.getSeq[Float](1).length == 16))

    val frames = Multimodal.sampleFrames(media, frameBytes = 32, stride = 2)
    assert(frames.columns.toSeq == Seq("media_id", "frame_no", "frame"))
    assert(frames.count() > 0)
  }

  test("ivfTopK matches a serial inverted-file reference on clustered vectors") {
    val rnd = new scala.util.Random(23)
    // 6 well-separated cluster bases, 90 corpus vectors
    val bases = Array.fill(6)(Array.fill(16)(rnd.nextGaussian() * 3))
    val vecs: Seq[(Long, Array[Double])] = (0L until 90L).map { i =>
      val b = bases((i % 6).toInt)
      (i, b.map(_ + rnd.nextGaussian() * 0.1))
    }
    val corpus = vecs.toDF("id", "vec")
    val queries = vecs.take(5).map { case (i, v) => (i, v) }.toDF("qid", "vec")
    val got = Similarity.ivfTopK(queries, corpus, k = 3, nCells = 6, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    // serial reference: same quantizer law, independent code
    def cos(a: Array[Double], b: Array[Double]): Double = {
      def dot(x: Array[Double], y: Array[Double]) = x.zip(y).map { case (p, q) => p * q }.sum
      BigDecimal(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val cent = vecs.sortBy(_._1).take(6)
    def cellOf(v: Array[Double]): Long =
      cent.map { case (cid, cv) => (cos(v, cv), cid) }.maxBy { case (s, cid) => (s, -cid) }._2
    val assign = vecs.map { case (i, v) => i -> cellOf(v) }.toMap
    for ((qid, qv) <- vecs.take(5)) {
      val probed = cent.map { case (cid, cv) => (cos(qv, cv), cid) }
        .sortBy { case (s, cid) => (-s, cid) }.take(2).map(_._2).toSet
      val cands = vecs.filter { case (i, _) => i != qid && probed.contains(assign(i)) }
      val top = cands.map { case (i, v) => (cos(qv, v), i) }
        .sortBy { case (s, i) => (-s, i) }.take(3).map(_._2)
      for ((id, rk) <- top.zipWithIndex)
        assert(got((qid, rk + 1)) == id, s"qid=$qid rk=${rk + 1}")
    }
    // clustered data: rank-1 neighbor must come from the query's own cluster
    for ((qid, _) <- vecs.take(5))
      assert(got((qid, 1)) % 6 == qid % 6)
  }

  test("trained IVF reaches full recall on planted clusters at nprobe=1") {
    val rnd = new scala.util.Random(31)
    val bases = Array.fill(5)(Array.fill(16)(rnd.nextGaussian() * 3))
    val vecs: Seq[(Long, Array[Double])] = (0L until 100L).map { i =>
      val b = bases((i % 5).toInt)
      (i, b.map(_ + rnd.nextGaussian() * 0.05))
    }
    val corpus = vecs.toDF("id", "vec")
    val queries = vecs.take(8).toDF("qid", "vec")
    val exact = Similarity.cosineTopK(queries, corpus, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // k-means with k = number of planted clusters converges onto them
    // in 2 iterations, so probing ONE trained cell already recovers
    // the exact neighbors (the untrained lowest-id quantizer puts all
    // 5 seed cells inside cluster 0 and needs high nprobe to recall
    // anything outside it).
    val trained = Similarity.ivfTopKTrained(queries, corpus, k = 5,
      nCells = 5, nprobe = 1, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect trained).size.toDouble / exact.size
    assert(recall == 1.0, s"trained IVF recall $recall")
  }

  test("sequence packing: offsets/seq follow the concat-then-chunk law, shard-local") {
    import graft.operators.Packing
    val rnd = new scala.util.Random(11)
    val d = (0L until 300L).map(i => (i, s"s${i % 3}", 1L + rnd.nextInt(900)))
      .toDF("doc_id", "shard", "n_tok")
    val budget = 1000L
    val got = Packing.packBy(d, "n_tok", budget, "doc_id", "shard")
      .select("doc_id", "shard", "n_tok", "seq", "seq_offset")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // serial oracle per shard: running token count before each doc
    val byShard = got.groupBy(_._2)
    for ((_, rows) <- byShard) {
      var cum = 0L
      for ((_, _, nTok, seq, off) <- rows.sortBy(_._1)) {
        assert(seq == cum / budget && off == cum % budget)
        cum += nTok
      }
    }
    // stats: doc and token counts per (shard, seq) add up
    val stats = Packing.packStats(
      Packing.packBy(d, "n_tok", budget, "doc_id", "shard"), "n_tok", Seq("shard"))
      .collect()
    assert(stats.map(_.getAs[Long]("n_docs")).sum == 300L)
    assert(stats.map(_.getAs[Long]("n_tokens")).sum == got.map(_._3).sum)
    // global variant: one shard == packBy degenerate case
    val g = Packing.contiguousPack(d.where(col("shard") === "s0"), "n_tok", budget, "doc_id")
      .select("doc_id", "seq", "seq_offset").collect()
    var cum = 0L
    val toks = got.filter(_._2 == "s0").sortBy(_._1)
    for ((r, (_, _, nTok, _, _)) <- g.sortBy(_.getLong(0)).zip(toks)) {
      assert(r.getLong(1) == cum / budget && r.getLong(2) == cum % budget)
      cum += nTok
    }
  }

  test("cross-corpus pairs: only left-vs-right pairs, brute-force fingerprint-block oracle") {
    // left = originals (id < 50), right = planted near-dups + exact dup
    val leftDF = docsDF.where(col("doc_id") < 50)
    val rightDF = docsDF.where(col("doc_id") >= 50)
    val got = Dedup.crossCorpusJaccardPairs(leftDF, rightDF, "doc_id", "text", 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force: same min-md5-shingle block, one id per side
    def fp(t: String): String = shingleSet(t, 8).map { s =>
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    }.min
    val lf = corpus.filter(_._1 < 50).map { case (i, t) => (i, fp(t)) }
    val rf = corpus.filter(_._1 >= 50).map { case (i, t) => (i, fp(t)) }
    val want = (for ((i, fa) <- lf; (j, fb) <- rf if fa == fb) yield (i, j)).toSet
    assert(got == want)
    assert(want.nonEmpty) // the planted dups must actually collide
    // no within-side pairs by construction
    assert(got.forall { case (a, b) => a < 50 && b >= 50 })
  }

  test("fingerprint block cap: oversized blocks generate no pairs, capped path still exact below it") {
    // 5 identical docs share one fingerprint block (plus one outlier):
    // cap 4 drops the whole block; a cap above it keeps all 10 pairs.
    val boiler = (1L to 5L).map(i => (i, "the same boilerplate text repeated everywhere"))
    val df = (boiler :+ (9L, "completely different content here")).toDF("doc_id", "text")
    assert(Dedup.fingerprintJaccardPairs(df, "doc_id", "text", 8, maxBlockSize = 4).count() == 0L)
    assert(Dedup.fingerprintJaccardPairs(df, "doc_id", "text", 8, maxBlockSize = 5).count() == 10L)
    // same law for the LSH bucket cap: identical vectors share every bucket
    val vecs = (1L to 4L).map(i => (i, Array.fill(8)(1.0f))) :+ (9L, Array.fill(8)(-1.0f))
    val vdf = vecs.toDF("vec_id", "embedding")
    assert(Dedup.embeddingNearDupPairsLsh(vdf, "vec_id", "embedding",
      threshold = 0.9, tables = 2, bits = 2, maxBucketSize = 3).count() == 0L)
    assert(Dedup.embeddingNearDupPairsLsh(vdf, "vec_id", "embedding",
      threshold = 0.9, tables = 2, bits = 2, maxBucketSize = 4).count() == 6L)
  }

  test("checked dedup gate paths carry the cap sub-plan (no uncapped quadratic block in SparkEntry)") {
    // The cap materializes as a `bsz` count-aggregate + left-semi join
    // in the plan; the uncapped fast path omits it. Every near-dup
    // gate query must carry it (VERDICT r2 "What's wrong #2").
    val dir = "/root/testdata/sf0.001"
    for (name <- Seq("dd_fp_jaccard", "dd_embed_cosine", "dd_embed_lsh")) {
      val plan = graft.SparkEntry.queries(name)(spark, dir)
        .queryExecution.optimizedPlan.toString
      assert(plan.contains("bsz"), s"$name: no block/bucket-size cap in plan")
    }
  }

  test("multimodal: javax.imageio decodes real PNG/BMP payloads; unreadable bytes fall back to the stub") {
    import java.awt.image.BufferedImage
    def enc(fmt: String, w: Int, h: Int, rgb: Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
      bos.toByteArray
    }
    val textBytes = "definitely not an image payload".getBytes("UTF-8")
    // a real PNG truncated mid-stream: the reader recognizes the magic
    // but fails decoding — must fall back, not throw
    val corrupt = enc("png", 37, 23, 0x112233).take(40)
    val rows = Seq(
      (1L, enc("png", 37, 23, 0x112233)),
      (2L, enc("png", 5, 7, 0xFFFFFF)),
      (3L, enc("bmp", 9, 4, 0x000000)),
      (4L, textBytes),
      (5L, corrupt))
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, b) =>
        org.apache.spark.sql.Row(id, "image", b,
          org.apache.spark.sql.Row("src", b.length.toLong))
      }, 2), Multimodal.mediaSchema)
    val got = Multimodal.decodeImages(media, batchSize = 2)
      .select("media_id", "width", "height", "mean_px").orderBy("media_id")
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getDouble(3))).toMap
    // true dimensions and exact channel means from the real codec
    assert(got(1L) == ((37, 23, (0x11 + 0x22 + 0x33) / 3.0)))
    assert(got(2L) == ((5, 7, 255.0)))
    assert(got(3L) == ((9, 4, 0.0)))
    // no reader for plain text -> deterministic MD5 stub (independent
    // re-derivation of the stub law here, not a call into it)
    def stub(bytes: Array[Byte]) = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(bytes)
      (64 + ((((d(0) & 0xff) << 8) | (d(1) & 0xff)) % 448),
        64 + ((((d(2) & 0xff) << 8) | (d(3) & 0xff)) % 448), (d(4) & 0xff).toDouble)
    }
    assert(got(4L) == stub(textBytes))
    // corrupt-but-recognized image degrades to the stub too
    assert(got(5L) == stub(corrupt))
  }

  test("dd_minhash_lsh on driver testdata: finds every true near-dup pair (brute-force recall)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
    val threshold = 0.7 // the gate's operating point; planted dups sit at j >= 0.9
    val truth = (for {
      (ia, ta) <- docs; (ib, tb) <- docs if ia < ib
      j = jac(shingleSet(ta, 8), shingleSet(tb, 8)) if j >= threshold
    } yield (ia, ib)).toSet
    assert(truth.nonEmpty, "test data should contain planted near-dups")
    val got = SparkEntry.queries("dd_minhash_lsh")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == truth,
      s"missed: ${truth.diff(got)}; extra: ${got.diff(truth)}")
  }

  test("profile: exact per-column stats in one job; expectation violations fire precisely") {
    import graft.operators.Profile
    val df = Seq(
      (1L, Some(10.0)), (2L, Some(20.0)), (2L, None), (4L, Some(999.0))
    ).toDF("id", "v")
    val p = Profile.profile(df, Seq("id", "v"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5))).toMap
    assert(p("id") == (4L, 0L, 3L, 1.0, 4.0))
    assert(p("v") == (4L, 1L, 3L, 10.0, 999.0))
    // the exact distincts run as per-column two-phase aggregates, NOT
    // as a multi-countDistinct Expand (rows × |cols|+1 through the
    // shuffle keyed on every profiled column at once — r15 de-Expand);
    // the only join is the broadcast of the |cols|-row distinct counts
    val plan = Profile.profile(df, Seq("id", "v")).queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    val viols = Profile.violations(Profile.profile(df, Seq("id", "v")),
      notNull = Seq("id", "v"), unique = Seq("id"),
      bounds = Map("v" -> (0.0, 100.0)))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(viols == Set(("v", "not_null"), ("id", "unique"), ("v", "bounds")))
    // clean data yields zero violations
    val clean = Seq((1L, 5.0), (2L, 6.0)).toDF("id", "v")
    assert(Profile.violations(Profile.profile(clean, Seq("id", "v")),
      notNull = Seq("id", "v"), unique = Seq("id"),
      bounds = Map("v" -> (0.0, 100.0))).count() == 0)
  }

  test("histogram: dense equal-width buckets match the serial oracle; constant column collapses") {
    import graft.operators.Profile
    val vals = Seq(0.0, 1.0, 2.5, 3.3, 5.0, 5.0, 9.9, 10.0)
    val df = vals.map(Tuple1(_)).toDF("x")
    val got = Profile.histogram(df, "x", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1)
    val (mn, mx) = (vals.min, vals.max)
    val w = (mx - mn) / 4
    val expected = (0 until 4).map { b =>
      val n = vals.count(v => math.min(math.floor((v - mn) / w), 3).toLong == b)
      (b.toLong, n.toLong,
        BigDecimal(mn + b * w).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(mn + (b + 1) * w).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    assert(got.toSeq == expected)
    assert(got.map(_._2).sum == vals.size)
    // constant column: everything in bucket 0, no divide-by-zero
    val const = Seq(7.0, 7.0, 7.0).map(Tuple1(_)).toDF("x")
    val cg = Profile.histogram(const, "x", 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(cg.toSeq == Seq((0L, 3L), (1L, 0L), (2L, 0L), (3L, 0L)))
  }

  test("vocabCoverage: OOV occurrences counted against the top-N vocab") {
    import graft.operators.TfIdf
    val df = Seq(
      (1L, "a a a b b rare1"),
      (2L, "a b b c rare2 rare2"),
      (3L, "c c a")).toDF("doc_id", "text")
    // top-3 vocab by (count desc, token): a(5), b(4), c(3)
    val got = TfIdf.vocabCoverage(df, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got(1L) == (6L, 1L, BigDecimal(1.0 / 6)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    assert(got(2L) == (6L, 2L, BigDecimal(2.0 / 6)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    assert(got(3L) == (3L, 0L, 0.0))
  }

  test("global index: exact 0..n-1 in order across partitions, no global window") {
    import graft.operators.Repartition
    val rnd = new scala.util.Random(61)
    val df = (0 until 5000).map(_ => rnd.nextInt(1000000).toLong)
      .distinct.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "v").repartition(16)
    val out = Repartition.withGlobalIndex(df, Seq("v", "id"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    val n = out.length
    assert(out.map(_._2).sorted.toSeq == (0L until n.toLong))
    // index order == (v, id) sort order
    assert(out.sortBy(_._2).map(_._1).toSeq == out.map(_._1).sorted.toSeq)
    // and the plan never funnels the table through one task: the only
    // sort is the range-partitioned orderBy, no Window at all
    val plan = Repartition.withGlobalIndex(df, Seq("v", "id"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    // no permanent cache pin: the sorted intermediate must NOT be
    // registered in the session cache — with the old .cache() an
    // identical orderBy afterwards planned an InMemoryTableScan
    val replay = df.orderBy(col("v"), col("id"))
      .queryExecution.executedPlan.toString
    assert(!replay.contains("InMemoryTableScan"), replay)
  }

  test("binned range join == naive range join; plans an equijoin, not a nested loop") {
    import graft.operators.RangeJoin
    val rnd = new scala.util.Random(59)
    // overlapping intervals of wildly varying length (1 to ~300) so
    // single-bin, multi-bin, and shared-bin cases all occur
    val ivs = (0 until 300).map { i =>
      val lo = rnd.nextInt(5000).toLong
      (i.toLong, lo, lo + 1 + rnd.nextInt(300).toLong)
    }.toDF("iv_id", "lo", "hi")
    val pts = (0 until 2000).map(i => (i.toLong, rnd.nextInt(5500).toLong))
      .toDF("pt_id", "d")
    for (w <- Seq(1L, 32L, 500L)) {
      val got = RangeJoin.pointInInterval(pts, "d", ivs, "lo", "hi", w)
        .select("pt_id", "iv_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      // no duplicates by construction (one bin per point)
      assert(got.length == got.toSet.size, s"w=$w duplicates")
      val naive = pts.join(ivs, col("d") >= col("lo") && col("d") <= col("hi"))
        .select("pt_id", "iv_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got.toSet == naive, s"w=$w")
      assert(naive.nonEmpty)
    }
    val plan = RangeJoin.pointInInterval(pts, "d", ivs, "lo", "hi", 32L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      plan)
  }

  test("categorical profile: exact stats and deterministic mode tie-break") {
    import graft.operators.Profile
    // b and c tie at 2 occurrences: mode must be the SMALLER value (b)
    val df = Seq(Some("b"), Some("c"), Some("b"), Some("c"), Some("a"), None)
      .toDF("s")
    val p = Profile.profileCategorical(df, Seq("s")).collect()(0)
    assert((p.getString(0), p.getLong(1), p.getLong(2), p.getLong(3),
      p.getString(4), p.getLong(5)) == ("s", 6L, 1L, 3L, "b", 2L))
  }

  test("segment dedup: keep-first semantics, full-drop docs kept empty, no window in the plan") {
    import graft.operators.Dedup
    // doc 1 owns both segments; doc 2 repeats seg A then adds C;
    // doc 3 is wholly made of earlier segments -> empty text
    val a = "a1 a2 a3"; val b = "b1 b2 b3"; val c = "c1 c2 c3"
    val docs = Seq(
      (1L, s"$a $b"), (2L, s"$a $c"), (3L, s"$b $c"), (4L, c)
    ).toDF("doc_id", "text")
    val out = Dedup.dropDuplicateSegments(docs, "doc_id", "text", segWords = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> s"$a $b", 2L -> c, 3L -> "", 4L -> ""))
    // duplicate segment INSIDE one doc also dedups (keep first position)
    val self = Seq((7L, s"$a $a $b")).toDF("doc_id", "text")
    val outSelf = Dedup.dropDuplicateSegments(self, "doc_id", "text", segWords = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(outSelf == Map(7L -> s"$a $b"))
    // skew safety: keep-first must be the min-agg equijoin, never a
    // window over segment content (hot segments would buffer one task)
    val plan = Dedup.dropDuplicateSegments(docs, "doc_id", "text", 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
  }

  test("boilerplate filter: over-threshold segments drop everywhere, in-doc repeats don't count twice") {
    import graft.operators.Dedup
    val a = "a1 a2 a3"; val b = "b1 b2 b3"; val c = "c1 c2 c3"
    // `a` appears in 3 distinct docs (boilerplate at maxDocFreq=2);
    // `b` in 2 (kept); doc 4 repeats `c` twice INSIDE one doc — only
    // 1 distinct doc, so in-doc repetition alone is NOT boilerplate.
    val docs = Seq(
      (1L, s"$a $b"), (2L, s"$a $c"), (3L, s"$a $b"), (4L, s"$c $c")
    ).toDF("doc_id", "text")
    val out = Dedup.dropFrequentSegments(docs, "doc_id", "text",
      segWords = 3, maxDocFreq = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> b, 2L -> c, 3L -> b, 4L -> s"$c $c"))
    // every copy of the boilerplate segment is gone (vs keep-first,
    // which would retain doc 1's); a doc made only of boilerplate
    // comes back empty but present
    val allBoiler = Seq((1L, a), (2L, a), (3L, a)).toDF("doc_id", "text")
    val outAll = Dedup.dropFrequentSegments(allBoiler, "doc_id", "text", 3, 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(outAll == Map(1L -> "", 2L -> "", 3L -> ""))
    // skew safety: distinct-doc counting aggregates, never windows
    val plan = Dedup.dropFrequentSegments(docs, "doc_id", "text", 3, 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
  }

  test("unigram LM surprisal matches a serial MLE oracle at 6 dp") {
    import graft.operators.LanguageModel
    val docs = (corpus ++ Seq((9001L, "zzquux"), (9002L, ""))).toDF("doc_id", "text")
    val got = LanguageModel.unigramSurprisal(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
    // serial oracle: exact UNQUANTIZED unigram MLE over the same rows
    val toks = (corpus ++ Seq((9001L, "zzquux"), (9002L, "")))
      .map { case (id, t) => id -> t.trim.split("\\s+", -1).toSeq }
    val cnt = toks.flatMap(_._2).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val total = cnt.values.sum.toDouble
    val want: Map[Long, (Long, Double)] = toks.map { case (id, ts) =>
      val bits = ts.map(t => -math.log(cnt(t) / total) / math.log(2.0)).sum / ts.size
      id -> (ts.size.toLong, bits)
    }.toMap
    got.foreach { case (id, n, b) =>
      assert(n == want(id)._1, s"doc $id n_tok")
      // quantization at 1e-9 per token keeps the mean within 1e-6
      assert(math.abs(b - want(id)._2) < 2e-6, s"doc $id: got $b want ${want(id)._2}")
    }
    // rarest token ("zzquux", count 1) must be the most surprising doc
    val top = got.maxBy(_._3)._1
    assert(top == 9001L)
    // empty text = single "" token, shared with nothing... but counted
    assert(got.exists(_._1 == 9002L))
  }

  test("capPerGroup: serial top-cap law, binding and non-binding groups") {
    import graft.operators.Curation
    val rows = Seq(
      (1L, "a", 0.9), (2L, "a", 0.5), (3L, "a", 0.7), (4L, "a", 0.7),
      (5L, "b", 0.3), (6L, "b", 0.3),
      (7L, "c", 0.1))
    val df = rows.toDF("id", "grp", "score")
    val got = Curation.capPerGroup(df, "grp", col("score"), "id", cap = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(3))).toSet
    // serial oracle: sort by (score desc, id asc) within group, take 2
    val want = rows.groupBy(_._2).flatMap { case (_, g) =>
      g.sortBy(r => (-r._3, r._1)).take(2).zipWithIndex
        .map { case (r, i) => (r._1, r._2, i + 1) }
    }.toSet
    assert(got == want)
    // the 0.7 tie resolves by id: doc 3 in, doc 4 out
    assert(got.contains((3L, "a", 2)) && !got.exists(_._1 == 4L))
  }

  test("surprisalBuckets: thresholds follow the documented moment law; buckets partition") {
    import graft.operators.{Curation, LanguageModel}
    val docs = (corpus.map { case (id, t) => (id, t, if (id % 2 == 0) "en" else "de") } ++
      Seq((9001L, "zzquux zzquux", "en"))).toDF("doc_id", "text", "lang")
    val got = Curation.surprisalBuckets(docs, "doc_id", "text", "lang")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(3), r.getString(4)))
    assert(got.map(_._1).toSet == docs.select("doc_id").collect().map(_.getLong(0)).toSet)
    // serial oracle: recompute per-lang mean ± 0.4307σ from the SAME
    // 6-dp surprisal values via the quantized-moment law
    val sur = LanguageModel.unigramSurprisal(docs.select("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val lang = docs.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val byLang = sur.toSeq.groupBy { case (id, _) => lang(id) }
    for ((lg, xs) <- byLang) {
      val bq = xs.map { case (_, b) => math.round(b * 1e6) }
      val n = bq.size.toDouble
      val mq = bq.sum.toDouble / n
      val sq = bq.map(x => x.toDouble * x).sum / n
      val sd = math.sqrt(sq - mq * mq)
      def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val (tLo, tHi) = (r6(mq / 1e6 - 0.4307 * sd / 1e6), r6(mq / 1e6 + 0.4307 * sd / 1e6))
      for ((id, lg2, b, bucket) <- got if lg2 == lg) {
        val want = if (b < tLo) "head" else if (b >= tHi) "tail" else "middle"
        assert(bucket == want, s"doc $id lang $lg: got $bucket want $want (b=$b lo=$tLo hi=$tHi)")
      }
    }
    // the rare-token doc is the most surprising English doc -> tail
    assert(got.find(_._1 == 9001L).get._4 == "tail")
  }

  test("mixToTokenBudget: integer rate law, within-budget strata untouched, monotone in budget") {
    import graft.operators.Sampling
    val df = spark.range(0, 4000).select(col("id"),
      when(col("id") % 2 === 0, lit("en")).otherwise(lit("de")).as("lang"),
      (col("id") % 7 + 1).as("toks"))
    def kept(budgets: Map[String, Long]): Map[String, Set[Long]] =
      Sampling.mixToTokenBudget(df, "id", "lang", col("toks"), budgets)
        .select("lang", "id")
        .collect().map(r => r.getString(0) -> r.getLong(1))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val totals = df.groupBy("lang").agg(sum("toks")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // en capped at 1/4 of its tokens, de unbudgeted
    val got = kept(Map("en" -> totals("en") / 4))
    assert(got("de").size == 2000) // no budget -> everything
    // the en kept set must be exactly the per-mille law's subset
    val pm = (totals("en") / 4 * 1000L) / totals("en")
    val wantEn = df.where(col("lang") === "en").collect().map(_.getLong(0))
      .filter { id =>
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(id.toString.getBytes("UTF-8"))
        val bucket = (((h(0) & 0xff) << 8) | (h(1) & 0xff)) % 1000
        bucket < pm
      }.toSet
    assert(got("en") == wantEn)
    // monotone: raising the budget only adds rows
    val more = kept(Map("en" -> totals("en") / 2))
    assert(got("en").subsetOf(more("en")) && more("en").size > got("en").size)
    // a stratum already within budget keeps everything
    val all = kept(Map("en" -> totals("en")))
    assert(all("en").size == 2000)
  }

  test("connected components match BFS oracle; dropNearDuplicates keeps one per cluster") {
    import graft.operators.ConnectedComponents
    val rnd = new scala.util.Random(23)
    // random sparse graph over 200 nodes
    val edges = (0 until 150).map { _ =>
      val a = rnd.nextInt(200).toLong; val b = rnd.nextInt(200).toLong
      (math.min(a, b), math.max(a, b))
    }.filter(e => e._1 != e._2).distinct
    val edgeDF = edges.toDF("id_a", "id_b")
    val got = ConnectedComponents.run(edgeDF)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // BFS oracle
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def component(start: Long): Set[Long] = {
      var seen = Set(start)
      var frontier = Set(start)
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(n => adj.getOrElse(n, Set.empty)).diff(seen)
        seen ++= frontier
      }
      seen
    }
    got.keys.foreach { n =>
      assert(got(n) == component(n).min, s"node $n")
    }
    // the distributed propagation loop (forced past the local-solve
    // threshold) must agree with the local union-find byte-for-byte
    val gotDist = ConnectedComponents.run(edgeDF, localSolveMaxEdges = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotDist == got)
    // survivor selection: one row kept per component + all isolated rows
    val docs = (0L until 200L).map(i => (i, s"text$i")).toDF("doc_id", "t")
    val kept = ConnectedComponents.dropNearDuplicates(docs, "doc_id", edgeDF)
      .collect().map(_.getLong(0)).toSet
    val comps = got.keys.map(component).toSet
    val isolated = (0L until 200L).toSet.diff(got.keySet)
    assert(kept == isolated ++ comps.map(_.min))
  }

  test("connected components with string ids: local-solve guard falls back to propagation") {
    import graft.operators.ConnectedComponents
    // Non-integral ids must NOT take the driver union-find (it packs
    // ids into Long; cast("long") of a string is NULL). The guard
    // routes them to the propagation loop, where min is lexicographic.
    val edges = Seq(("a", "b"), ("b", "c"), ("x", "y")).toDF("id_a", "id_b")
    val got = ConnectedComponents.run(edges)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x"))
    // integral ids still take (and agree with) the local path
    val le = Seq((10L, 11L), (11L, 12L)).toDF("id_a", "id_b")
    val lg = ConnectedComponents.run(le)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lg == Map(10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("connected components with fractional ids: exact convergence, not the rounding sum") {
    import graft.operators.ConnectedComponents
    // A 6-node chain whose ids all round to the same integer: the
    // decimal(38,0) sum fixpoint sees a CONSTANT sum (12) every round
    // while labels are still propagating (diameter 5 needs 5 rounds),
    // so the old NumericType gate declared convergence at iter 4 with
    // the far end still mislabeled. Fractional ids must take the exact
    // per-node change check.
    val edges = Seq((2.1, 2.2), (2.2, 2.3), (2.3, 2.4), (2.4, 2.5), (2.5, 2.6))
      .toDF("id_a", "id_b")
    val got = ConnectedComponents.run(edges)
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(got == Map(2.1 -> 2.1, 2.2 -> 2.1, 2.3 -> 2.1,
      2.4 -> 2.1, 2.5 -> 2.1, 2.6 -> 2.1))
  }

  test("weighted sampling: w>1 clamps to rate ceiling; NULL/negative/NaN weights drop") {
    import graft.operators.Sampling
    val df = spark.range(0, 5000).toDF("id")
    def ids(wc: org.apache.spark.sql.Column): Set[Long] =
      Sampling.weightedHashSample(df, "id", wc, 0.5)
        .select("id").collect().map(_.getLong(0)).toSet
    // w = 5 must behave exactly like w = 1 (keep prob capped at rate),
    // not 2.5x the documented ceiling
    assert(ids(lit(5.0)) == ids(lit(1.0)))
    assert(ids(lit(-3.0)).isEmpty)
    assert(ids(lit(null).cast("double")).isEmpty)
    assert(ids(lit(Double.NaN)).isEmpty)
  }

  test("weighted sampling: monotone in rate AND weight, rate*w keep fraction, edges") {
    import graft.operators.Sampling
    val df = spark.range(0, 20000).select(col("id"),
      ((col("id") % 10).cast("double") / 10.0).as("w"))
    def ids(rate: Double, wc: org.apache.spark.sql.Column): Set[Long] =
      Sampling.weightedHashSample(df, "id", wc, rate)
        .select("id").collect().map(_.getLong(0)).toSet
    val s3 = ids(0.3, col("w")); val s7 = ids(0.7, col("w"))
    assert(s3.subsetOf(s7)) // monotone in rate
    assert(ids(0.5, col("w")).subsetOf(ids(0.5, least(col("w") * 2.0, lit(1.0))))) // monotone in weight
    assert(ids(0.0, col("w")).isEmpty)
    assert(ids(1.0, lit(1.0)).size == 20000) // w=1, rate=1 keeps all
    // keep fraction ≈ rate·mean(w) = 0.5 · 0.45
    val frac = ids(0.5, col("w")).size / 20000.0
    assert(math.abs(frac - 0.225) < 0.02, s"frac=$frac")
  }

  test("hash sampling: deterministic, monotone in rate, stratified rates hold approximately") {
    import graft.operators.Sampling
    val df = spark.range(0, 5000).select(col("id"),
      (col("id") % 3).cast("string").as("stratum"))
    def ids(rate: Double): Set[Long] =
      Sampling.hashSample(df, "id", rate).select("id").collect().map(_.getLong(0)).toSet
    val s30 = ids(0.3)
    val s70 = ids(0.7)
    // deterministic and monotone: lower rate is a subset of higher
    assert(ids(0.3) == s30)
    assert(s30.subsetOf(s70))
    assert(ids(0.0).isEmpty && ids(1.0).size == 5000)
    // rate approximately honored (hash uniformity)
    assert(math.abs(s30.size / 5000.0 - 0.3) < 0.03, s"${s30.size}")
    // stratified: per-stratum fractions track their rates
    val strat = Sampling.stratifiedHashSample(df, "id", "stratum",
      Map("0" -> 0.9, "1" -> 0.1), defaultRate = 0.5)
      .groupBy("stratum").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(strat("0") / 1667.0 - 0.9) < 0.05)
    assert(math.abs(strat("1") / 1667.0 - 0.1) < 0.05)
    assert(math.abs(strat("2") / 1666.0 - 0.5) < 0.05)
  }

  test("int8 quantization: roundtrip error bounded by scale/2, cosine preserved on real vectors") {
    import graft.functions.VectorOps
    val rnd = new scala.util.Random(41)
    val vecs = (0L until 60L).map(i => (i, Array.fill(24)(rnd.nextDouble() * 8 - 4)))
    val df = vecs.toDF("id", "v")
    val rows = df.select(col("id"),
      col("v"),
      VectorOps.int8Dequantize(VectorOps.int8Quantize(col("v"))).as("dq"),
      VectorOps.int8Quantize(col("v")).getField("scale").as("scale"))
      .collect()
    rows.foreach { r =>
      val v = r.getSeq[Double](1)
      val dq = r.getSeq[Double](2)
      val scale = r.getDouble(3)
      v.zip(dq).foreach { case (a, b) =>
        assert(math.abs(a - b) <= scale / 2 + 1e-12, s"err ${math.abs(a - b)} > ${scale / 2}")
      }
      // cosine between original and reconstruction stays near 1
      val dot = v.zip(dq).map { case (a, b) => a * b }.sum
      val cos = dot / (math.sqrt(v.map(x => x * x).sum) * math.sqrt(dq.map(x => x * x).sum))
      assert(cos > 0.999, s"cos=$cos")
    }
  }

  test("VectorSum/VectorMean aggregators match serial oracle across groupings") {
    import graft.functions.VectorAgg
    val rnd = new scala.util.Random(17)
    val data = (0 until 500).map(i => (i % 7, Array.fill(8)(rnd.nextDouble())))
    val df = data.toDF("g", "v").repartition(8)
    val got = df.groupBy("g")
      .agg(VectorAgg.vectorSum(col("v")).as("s"), VectorAgg.vectorMean(col("v")).as("m"))
      .collect()
      .map(r => r.getInt(0) -> ((r.getSeq[Double](1), r.getSeq[Double](2)))).toMap
    data.groupBy(_._1).foreach { case (g, rows) =>
      val sum = rows.map(_._2).transpose.map(_.sum)
      val mean = sum.map(_ / rows.size)
      val (gs, gm) = got(g)
      sum.zip(gs).foreach { case (w, x) => assert(math.abs(w - x) < 1e-9) }
      mean.zip(gm).foreach { case (w, x) => assert(math.abs(w - x) < 1e-9) }
    }
  }

  test("winnowing fingerprint: shared long substrings share hashes; shifts don't matter") {
    import graft.functions.NativeExprs.winnowMd5Native
    val common = "the quick brown fox jumps over the lazy dog again and again"
    val df = Seq(
      (1L, s"PREFIX AAA $common SUFFIX BBB"),
      (2L, s"totally different lead-in text $common trailing stuff"),
      (3L, "nothing in common with the others at all zzz qqq www"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), winnowMd5Native(col("text")).getField("gh").as("fp"))
    val fps = df.collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val overlap12 = fps(1L).intersect(fps(2L)).size
    val overlap13 = fps(1L).intersect(fps(3L)).size
    assert(overlap12 > 5, s"shared substring must share fingerprints, got $overlap12")
    assert(overlap13 <= 1, s"unrelated docs should share ~no fingerprints, got $overlap13")
    // determinism
    val again = Seq((1L, s"PREFIX AAA $common SUFFIX BBB")).toDF("doc_id", "text")
      .select(winnowMd5Native(col("text")).getField("gh")).collect().head.getSeq[String](0).toSet
    assert(again == fps(1L))
  }

  test("multimodal resize stub: scales dims, keeps row count, pure projection") {
    val media = Multimodal.fromDocuments(docsDF, "doc_id", "text", "text")
    val dec = Multimodal.decodeImages(media)
    val rs = Multimodal.resize(dec, 224, 224)
    assert(rs.count() == dec.count())
    val r = rs.select("width", "height", "scale_x").collect()
    assert(r.forall(row => row.getInt(0) == 224 && row.getInt(1) == 224))
    assert(!rs.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("sketches: approx_count_distinct and percentile_approx within error bounds") {
    val df = spark.range(0, 100000)
      .select((col("id") % 9173).as("k"), col("id").cast("double").as("v"))
    val exact = df.select(countDistinct(col("k"))).collect().head.getLong(0)
    val approx = df.select(approx_count_distinct(col("k"))).collect().head.getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.05, s"$approx vs $exact")
    val p50exact = df.select(expr("percentile(v, 0.5)")).collect().head.getDouble(0)
    val p50approx = df.select(percentile_approx(col("v"), lit(0.5), lit(1000)))
      .collect().head.getDouble(0)
    assert(math.abs(p50approx - p50exact) / p50exact < 0.01)
  }

  test("text functions: tokens/quality/langid/fingerprint sanity") {
    val df = Seq((1L, "the quick brown fox"), (2L, "der hund und die katze ist da"),
      (3L, "le chat et la mer est un reve")).toDF("doc_id", "text")
    val toks = df.select(TextFunctions.tokenCount(col("text"))).as[Int].collect()
    assert(toks.toSeq == Seq(4, 7, 8))
    val langs = df.select(TextFunctions.langId(TextFunctions.tokens(col("text"))))
      .as[String].collect()
    assert(langs.toSeq == Seq("en", "de", "fr"))
    val q = df.select(TextFunctions.qualityScore(col("text"))).as[Double].collect()
    assert(q.forall(v => v >= 0.0 && v <= 1.0))
    // fingerprint stability: same text -> same fp
    val fp = Seq((1L, "hello world hello"), (2L, "hello world hello"))
      .toDF("doc_id", "text")
      .select(TextFunctions.minhashFingerprint(col("text"))).as[String].collect()
    assert(fp(0) == fp(1))
  }

  // Serial tf-idf oracle shared by the TfIdf tests.
  private def tfIdfOracle(rows: Seq[(Long, String)], k: Int,
                          idf: (Long, Long) => Double): Seq[(Long, String, Long, Double, Int)] = {
    val toks = rows.map { case (id, t) => id -> t.trim.split("\\s+").toSeq.filter(_.nonEmpty) }
    val n = rows.size.toLong
    val tf = toks.flatMap { case (id, ts) => ts.map(tok => (id, tok)) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val dfc = tf.keys.toSeq.map(_._2).groupBy(identity).view.mapValues(_.size.toLong).toMap
    tf.toSeq.map { case ((id, tok), f) => (id, tok, f, f * idf(n, dfc(tok))) }
      .groupBy(_._1).toSeq.flatMap { case (_, terms) =>
        terms.sortBy { case (_, tok, _, s) => (-s, tok) }.take(k).zipWithIndex
          .map { case ((id, tok, f, s), i) =>
            (id, tok, f,
              BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, i + 1) }
      }
  }

  // Serial Lloyd's replicating Clustering's determinism contract:
  // lowest-id seeding, dcc - 2·dvc sequential scoring, lowest-cid
  // ties, 1e-6 grid snap between iterations, empty keeps centroid.
  // Returned assignment is the FULL set's assignment under the FINAL
  // centroids — the operator's (cid, n) contract and kmeansAssign's
  // output are both defined against it.
  private def serialKmeans(vs: Seq[(Long, Array[Double])], k: Int, iters: Int)
      : (Map[Long, Int], IndexedSeq[Array[Double]]) = {
    var cents = vs.sortBy(_._1).take(k).map(_._2.clone()).toIndexedSeq
    def assignAll(cs: IndexedSeq[Array[Double]]): Map[Long, Int] =
      vs.map { case (id, v) =>
        id -> cs.zipWithIndex.map { case (c, cid) =>
          val dcc = c.foldLeft(0.0)((a, x) => a + x * x)
          val dvc = v.indices.foldLeft(0.0)((a, i) => a + v(i) * c(i))
          (dcc - 2 * dvc, cid)
        }.min._2
      }.toMap
    for (_ <- 1 to iters) {
      val asg = assignAll(cents)
      cents = cents.zipWithIndex.map { case (old, cid) =>
        val members = vs.collect { case (id, v) if asg(id) == cid => v }
        if (members.isEmpty) old
        else Array.tabulate(old.length)(d =>
          math.floor(members.map(_(d)).sum / members.size * 1e6 + 0.5) / 1e6)
      }
    }
    (assignAll(cents), cents)
  }

  test("kmeans centroids and assignment match the serial Lloyd oracle") {
    val rnd = new scala.util.Random(11)
    val vs = (0L until 60L).map(id =>
      id -> Array.fill(8)(rnd.nextInt(3) + (id % 4).toDouble * 5 + rnd.nextDouble() * 0.1))
    val df = vs.toDF("vec_id", "embedding")
    val (asg, cents) = serialKmeans(vs, k = 4, iters = 2)
    val got = graft.operators.Clustering
      .kmeansCentroids(df, "vec_id", "embedding", k = 4, iters = 2)
      .collect().sortBy(_.getInt(0))
    assert(got.map(_.getInt(0)).toSeq == (0 until 4))
    val wantCounts = (0 until 4).map(cid => asg.values.count(_ == cid).toLong)
    assert(got.map(_.getLong(1)).toSeq == wantCounts)
    for ((row, cid) <- got.zipWithIndex)
      assert(row.getSeq[Double](2) == cents(cid).toSeq, s"centroid $cid")
    val gotAsg = graft.operators.Clustering
      .kmeansAssign(df, "vec_id", "embedding", k = 4, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // the serial oracle's assignment is already the final-centroid one,
    // so counts and kmeansAssign both compare against the same map
    assert(gotAsg == asg)
  }

  test("kmeans sample training: capped run == training on the explicit hash subset") {
    import graft.operators.{Clustering, Sampling}
    val rnd = new scala.util.Random(31)
    val vs = (0L until 400L).map(id =>
      id -> Array.fill(6)((id % 5).toDouble * 3 + rnd.nextDouble()))
    val df = vs.toDF("vec_id", "embedding")
    // cap 150 of 400 forces a real per-mille sample
    val capped = Clustering
      .kmeansCentroids(df, "vec_id", "embedding", k = 5, iters = 2, trainCap = 150)
      .collect().sortBy(_.getInt(0))
    // parity law: training on hashSampleToCap's subset explicitly (as
    // a pre-filtered frame, cap high enough to be the identity) gives
    // the same centroids; counts still cover ALL 400 rows
    val subset = Sampling.hashSampleToCap(df.select(col("vec_id"), col("embedding")),
      "vec_id", 150)
    val sampleN = subset.count()
    assert(sampleN > 100 && sampleN < 250, s"sample size $sampleN")
    val fromSubset = Clustering
      .kmeansCentroids(subset, "vec_id", "embedding", k = 5, iters = 2, trainCap = 1000)
      .collect().sortBy(_.getInt(0))
    for (cid <- 0 until 5)
      assert(capped(cid).getSeq[Double](2) == fromSubset(cid).getSeq[Double](2),
        s"centroid $cid")
    assert(capped.map(_.getLong(1)).sum == 400L) // n spans the full corpus
    // PQ codebooks obey the same law
    val cbA = graft.operators.ProductQuant
      .trainCodebooks(df, "vec_id", "embedding", m = 2, subDim = 3, k = 4,
        iters = 2, trainCap = 150)
    val cbB = graft.operators.ProductQuant
      .trainCodebooks(subset, "vec_id", "embedding", m = 2, subDim = 3, k = 4,
        iters = 2, trainCap = 1000)
    assert(cbA.map(_.map(_.toSeq)) == cbB.map(_.map(_.toSeq)))
  }

  test("kmeans: a duplicated seed empties its cluster, which keeps its centroid") {
    val vs: Seq[(Long, Array[Double])] = Seq(
      0L -> Array(0.0, 0.0), 1L -> Array(0.0, 0.0), 2L -> Array(9.0, 9.0),
      3L -> Array(0.1, 0.0), 4L -> Array(8.9, 9.1))
    val got = graft.operators.Clustering
      .kmeansCentroids(vs.toDF("vec_id", "embedding"), "vec_id", "embedding",
        k = 3, iters = 1)
      .collect().sortBy(_.getInt(0))
    // ids 0,1 tie at distance 0 -> both choose cid 0 during training;
    // cluster 1 empties in iteration 1 and must keep its seed centroid.
    // Counts are under the RETURNED centroids: cluster 0 moved to
    // (0.033333, 0), so the origin points now sit closest to the
    // stationary cluster-1 seed — n reflects that final assignment.
    assert(got(1).getSeq[Double](2) == Seq(0.0, 0.0))
    assert(got(0).getSeq[Double](2) == Seq(0.033333, 0.0))
    assert(got(2).getSeq[Double](2) == Seq(8.95, 9.05))
    assert(got.map(_.getLong(1)).toSeq == Seq(1L, 2L, 2L))
    // ...and in the NEXT iteration the origin points migrate to the
    // stationary empty centroid (closer than the one that moved):
    // serial oracle and operator must agree on that dynamic too.
    val it2 = graft.operators.Clustering
      .kmeansCentroids(vs.toDF("vec_id", "embedding"), "vec_id", "embedding",
        k = 3, iters = 2)
      .collect().sortBy(_.getInt(0))
    val (asg2, cents2) = serialKmeans(vs, k = 3, iters = 2)
    assert(it2.map(_.getLong(1)).toSeq ==
      (0 until 3).map(cid => asg2.values.count(_ == cid).toLong))
    for ((row, cid) <- it2.zipWithIndex)
      assert(row.getSeq[Double](2) == cents2(cid).toSeq)
  }

  test("vocabulary matches the serial frequency count with deterministic tie-break") {
    val res = graft.operators.TfIdf.vocabulary(docsDF, "text", 10)
      .as[(String, Long)].collect().toSeq
    val counts = corpus.flatMap(_._2.trim.split("\\s+").filter(_.nonEmpty))
      .groupBy(identity).view.mapValues(_.size.toLong).toSeq
    val expect = counts.sortBy { case (tok, n) => (-n, tok) }.take(10)
    assert(res == expect)
  }

  test("tf-idf top terms match the serial oracle (rational idf, gate path)") {
    val res = graft.operators.TfIdf.topTerms(docsDF, "doc_id", "text", k = 5)
      .as[(Long, String, Long, Double, Int)].collect().toSeq.sortBy(r => (r._1, r._5))
    val expect = tfIdfOracle(corpus, 5, (n, df) => (n + 1.0) / (df + 1.0))
      .sortBy(r => (r._1, r._5))
    assert(res == expect)
  }

  test("tf-idf ln-idf variant matches the serial log oracle") {
    val res = graft.operators.TfIdf.topTerms(docsDF, "doc_id", "text", k = 3, lnIdf = true)
      .as[(Long, String, Long, Double, Int)].collect().toSeq.sortBy(r => (r._1, r._5))
    val expect = tfIdfOracle(corpus, 3, (n, df) => math.log((n + 1.0) / (df + 1.0)))
      .sortBy(r => (r._1, r._5))
    assert(res == expect)
  }

  // ---- BPE serial oracle (independent Sennrich-2016 implementation) ----

  private def bpeApplyMerge(syms: List[String], p: (String, String)): List[String] =
    syms match {
      case a :: b :: rest if (a, b) == p => (a + b) :: bpeApplyMerge(rest, p)
      case a :: rest => a :: bpeApplyMerge(rest, p)
      case Nil => Nil
    }

  private def bpeSerialTrain(texts: Seq[String], nMerges: Int): Seq[(String, String)] = {
    val wf = texts.flatMap(_.trim.split("\\s+")).filter(_.nonEmpty)
      .groupBy(identity).view.mapValues(_.size.toLong).toSeq
    var vocab = wf.map { case (w, f) => (w.map(_.toString).toList :+ "</w>", f) }
    val ms = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var stop = false
    while (ms.size < nMerges && !stop) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, f) <- vocab; pair <- syms.zip(syms.tail))
        counts(pair) = counts.getOrElse(pair, 0L) + f
      if (counts.isEmpty) stop = true
      else {
        val best = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
        ms += best
        vocab = vocab.map { case (syms, f) => (bpeApplyMerge(syms, best), f) }
      }
    }
    ms.toSeq
  }

  private def bpeSerialEncode(w: String, rank: Map[(String, String), Int]): List[String] = {
    var syms = w.map(_.toString).toList :+ "</w>"
    var go = true
    while (go && syms.length > 1) {
      val present = syms.zip(syms.tail).filter(rank.contains)
      if (present.isEmpty) go = false
      else syms = bpeApplyMerge(syms, present.minBy(rank))
    }
    syms
  }

  test("BPE: trained merges and encoding match the independent serial oracle") {
    import graft.functions.TextFunctions
    val merges = TextFunctions.bpeTrainMerges(docsDF, "text", nMerges = 40)
    val want = bpeSerialTrain(corpus.map(_._2), nMerges = 40)
    assert(merges == want)
    assert(merges.length == 40) // this corpus doesn't exhaust in 40 merges
    val rank = merges.zipWithIndex.toMap
    val got = docsDF.select(col("doc_id"),
      TextFunctions.bpeEncode(col("text"), merges).as("toks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    for ((id, text) <- corpus) {
      val wantToks = text.trim.split("\\s+").toList.flatMap(bpeSerialEncode(_, rank))
      assert(got(id) == wantToks, s"doc $id")
    }
    // losslessness: concat + sentinel split reconstructs the
    // whitespace-normalized text (the txt_bpe_roundtrip gate law),
    // including whitespace and empty-text edge cases
    val edge = Seq((900L, ""), (901L, "x"), (902L, "  a  b "))
    val all = docsDF.union(edge.toDF("doc_id", "text"))
    val rejoined = all.select(col("doc_id"),
      rtrim(regexp_replace(concat_ws("",
        TextFunctions.bpeEncode(col("text"), merges)), "</w>", " ")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    for ((id, text) <- corpus ++ edge)
      assert(rejoined(id) == text.trim.split("\\s+").filter(_.nonEmpty).mkString(" "),
        s"doc $id")
  }

  test("BPE gate paths on driver testdata: merges well-formed, roundtrip lossless") {
    val dir = "/root/testdata/sf0.001"
    // Merge training is deliberately NOT a driver gate (no ANSI-SQL
    // oracle) — exercise the trainer directly at the same call shape
    // the degated entry used.
    val docsT = spark.read.parquet(s"$dir/documents.parquet")
    val m = graft.functions.TextFunctions.bpeTrainMerges(docsT, "text", nMerges = 50)
    assert(m.length == 50)
    assert(m.map(p => p._1.nonEmpty && p._2.nonEmpty).forall(identity))
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val rt = SparkEntry.queries("txt_bpe_roundtrip")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rt.keySet == docs.keySet)
    for ((id, text) <- docs)
      assert(rt(id) == text.trim.split("\\s+").filter(_.nonEmpty).mkString(" "),
        s"doc $id")
  }

  test("bigramSurprisal: matches a serial conditional-MLE oracle, quantization law exact") {
    import graft.operators.LanguageModel
    val edge = Seq((300L, "solo"), (301L, "pair pair"), (302L, "  padded   text  "))
    val data = corpus ++ edge
    val got = LanguageModel.bigramSurprisal(data.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    def bigrams(t: String): Seq[(String, String)] = {
      val ws = t.trim.split("\\s+").toSeq
      ws.zip(ws.drop(1))
    }
    val all = data.flatMap { case (_, t) => bigrams(t) }
    val c2 = all.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val c1 = all.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val li = c2.map { case (bg, c) =>
      bg -> BigDecimal(math.log(c.toDouble / c1(bg._1)) / math.log(2.0) * 1e9)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }
    // Docs with < 2 tokens have no bigrams and must be absent.
    assert(!got.contains(300L))
    for ((id, t) <- data if bigrams(t).nonEmpty) {
      val bgs = bigrams(t)
      val s = bgs.map(li).sum
      val exp = BigDecimal(-s / 1e9 / bgs.length)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got(id) == ((bgs.length.toLong, exp)), s"doc $id")
    }
    // A two-token doc of a self-repeating bigram: if "pair pair" is the
    // only "pair"-prefixed bigram, p = 1 and the score is exactly 0.
    if (c1("pair") == c2(("pair", "pair"))) assert(got(301L)._2 == 0.0)
  }

  test("assignTrainingShards: deterministic permutation, contiguous per-shard positions") {
    import graft.sources.Sinks
    val n = 7
    val out = Sinks.assignTrainingShards(docsDF, "doc_id", n)
      .select("doc_id", "shard", "pos").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(out.length == corpus.length)
    // Every row lands in exactly one shard in [0, n).
    assert(out.forall { case (_, s, _) => s >= 0 && s < n })
    // Positions are contiguous 1..size within each shard (a permutation).
    for ((_, rows) <- out.groupBy(_._2))
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length).toSeq)
    // Serial oracle: same md5 law, same (md5hex, key) order.
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val expect = corpus.map { case (id, _) =>
      val hk = md5hex(id.toString)
      (id, Integer.parseInt(hk.take(4), 16) % n, hk)
    }.groupBy(_._2).flatMap { case (s, rows) =>
      rows.sortBy(r => (r._3, r._1)).zipWithIndex
        .map { case ((id, sh, _), i) => (id, sh, i + 1) }
    }.toSet
    assert(out.toSet == expect)
    // Partitioning-invariant: a repartitioned input yields the identical
    // assignment (the law depends only on the key).
    val re = Sinks.assignTrainingShards(docsDF.repartition(13), "doc_id", n)
      .select("doc_id", "shard", "pos").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(re == out.toSet)
  }

  test("piiStats: staged counts and redaction match a serial regex oracle") {
    val samples = Seq(
      (1L, "mail a.b+c@ex-ample.org and x_9%d@sub.domain.co today"),
      (2L, "server 10.0.255.3 talked to 192.168.1.200 over tcp"),
      (3L, "call +1 (415) 555-0134 or 020-7946-0958 now"),
      (4L, "mix bob@corp.io from 172.16.4.20 dial +44 20 7946 0911"),
      (5L, "no pii here at all"),
      (6L, "edge a@b.cd 1.2.3.4 12-34 x"), // 12-34 too short for phone
      (7L, ""))
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ipRe = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
    val phoneRe = "\\+?[0-9][0-9()\\- ]{7,}[0-9]"
    val got = samples.toDF("id", "t")
      .select(col("id"), TextFunctions.piiStats(col("t")).as("p"))
      .select(col("id"), col("p.n_email"), col("p.n_ip"), col("p.n_phone"),
        col("p.redacted"))
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))).toMap
    for ((id, t) <- samples) {
      val t1 = t.replaceAll(emailRe, "<EMAIL>")
      val t2 = t1.replaceAll(ipRe, "<IP>")
      val exp = (emailRe.r.findAllIn(t).size, ipRe.r.findAllIn(t1).size,
        phoneRe.r.findAllIn(t2).size, t2.replaceAll(phoneRe, "<PHONE>"))
      assert(got(id) == exp, s"id $id")
      // No typed span survives its own redaction, and redaction is
      // idempotent (placeholders contain no redactable spans).
      val red = got(id)._4
      assert(emailRe.r.findFirstIn(red).isEmpty && ipRe.r.findFirstIn(red).isEmpty
        && phoneRe.r.findFirstIn(red).isEmpty, s"residual PII in id $id: $red")
    }
    // Known-answer rows (belt and braces over the oracle recompute).
    assert(got(1L) == ((2, 0, 0, "mail <EMAIL> and <EMAIL> today")))
    assert(got(2L) == ((0, 2, 0, "server <IP> talked to <IP> over tcp")))
    assert(got(5L) == ((0, 0, 0, "no pii here at all")))
  }

  test("txt_pii gate on driver testdata: every row redacts its injected spans") {
    val out = SparkEntry.queries("txt_pii")(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    for (r <- out) {
      val id = r.getLong(0)
      assert(r.getInt(1) >= 1, s"doc $id lost its injected email")
      assert(r.getInt(2) >= 1, s"doc $id lost its injected IP")
      assert(r.getInt(3) == (if (id % 3 == 0) 1 else 0), s"doc $id phone count")
      val red = r.getString(4)
      assert(red.contains("<EMAIL>") && red.contains("<IP>"), s"doc $id: $red")
      if (id % 3 == 0) assert(red.contains("<PHONE>"), s"doc $id: $red")
    }
  }

  test("hashedLinearScore: serial oracle, empty text, trained-weights path") {
    import java.security.MessageDigest
    val dim = 262144
    def bucket(t: String): Long = {
      val hex = MessageDigest.getInstance("MD5").digest(t.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      java.lang.Long.parseLong(hex, 16) % dim
    }
    def serialScore(text: String): Double = {
      val toks = text.trim.split("\\s+").filter(_.nonEmpty)
      if (toks.isEmpty) 0.0
      else {
        val ms = toks.map(t => bucket(t) % 2001 - 1000).sum
        BigDecimal(ms.toDouble / (toks.length * 1000.0))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
    }
    val texts = Seq(
      0L -> "spark scan join filter group sort",
      1L -> "the the the the",
      2L -> "",
      3L -> "   ",
      4L -> "one-token")
    val got = texts.toDF("doc_id", "text")
      .select(col("doc_id"),
        TextFunctions.hashedLinearScore(col("text"), dim).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    texts.foreach { case (id, t) =>
      assert(got(id) == serialScore(t), s"doc $id: got ${got(id)} want ${serialScore(t)}")
    }
    // the fused native pass must be bit-identical to the explicit
    // Column formulation (the same default-weight law built from
    // split/md5/conv/aggregate builtins), incl. odd whitespace.
    val wsTexts = (texts ++ Seq(6L -> "a\tb\nc\u000b d\r", 7L -> " \t ")).toDF("doc_id", "text")
    val columnForm = wsTexts.select(col("doc_id"),
      TextFunctions.hashedLinearScore(col("text"), dim,
        (b: org.apache.spark.sql.Column) => b % 2001 - 1000).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val nativeForm = wsTexts.select(col("doc_id"),
      TextFunctions.hashedLinearScore(col("text"), dim).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(nativeForm == columnForm, s"native=$nativeForm column=$columnForm")
    // trained-weights path: a broadcast array lookup must reproduce a
    // hand-computed score (weights all = +500 millis -> score 0.5).
    val w = Array.fill(dim)(500)
    val flat = texts.toDF("doc_id", "text")
      .select(TextFunctions.hashedLinearScore(col("text"), dim,
        b => element_at(lit(w), (b + 1).cast("int"))).as("s"))
      .where(col("s") =!= 0.0).select("s").as[Double].collect()
    assert(flat.forall(_ == 0.5), s"flat-weight scores: ${flat.toSeq}")
    // the NATIVE trained-weights pass: pseudo-law array reproduces the
    // default bit-for-bit, flat array reproduces the broadcast lookup
    val pseudo = Array.tabulate(dim)(i => i % 2001 - 1000)
    val nativeTrained = wsTexts.select(col("doc_id"),
      TextFunctions.hashedLinearScoreTrained(col("text"), pseudo).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(nativeTrained == nativeForm, s"trained=$nativeTrained default=$nativeForm")
    val nativeFlat = texts.toDF("doc_id", "text")
      .select(TextFunctions.hashedLinearScoreTrained(col("text"), w).as("s"))
      .where(col("s") =!= 0.0).select("s").as[Double].collect()
    assert(nativeFlat.forall(_ == 0.5), s"native flat-weight: ${nativeFlat.toSeq}")
  }

  test("temperatureMix: sqrt-law rates, smallest stratum keeps all, alpha=1 identity") {
    import java.security.MessageDigest
    // token masses: a=100, b=400, c=10000 -> pm(a)=1000, pm(b)=
    // floor(1000*sqrt(100/400))=500, pm(c)=floor(1000*sqrt(0.01))=100
    val rows = (0 until 2).map(i => (i.toLong, "a")) ++
      (2 until 10).map(i => (i.toLong, "b")) ++
      (10 until 210).map(i => (i.toLong, "c"))
    val df = rows.toDF("doc_id", "stratum")
      .withColumn("text", lit(Seq.fill(50)("w").mkString(" ")))
    def bucket(id: Long): Int = {
      val hex = MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      Integer.parseInt(hex.substring(0, 4), 16) % 1000
    }
    val pm = Map("a" -> 1000, "b" -> 500, "c" -> 100)
    val want = rows.filter { case (id, s) => bucket(id) < pm(s) }.map(_._1).toSet
    val got = graft.operators.Sampling.temperatureMix(df, "doc_id", "stratum",
        size(split(trim(col("text")), "\\s+")), alpha = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(got == want, s"got=${got.size} want=${want.size}")
    assert(rows.filter(_._2 == "a").map(_._1).toSet.subsetOf(got)) // anchor keeps all
    val all = graft.operators.Sampling.temperatureMix(df, "doc_id", "stratum",
        size(split(trim(col("text")), "\\s+")), alpha = 1.0)
      .count()
    assert(all == rows.size.toLong)
  }

  test("semanticDedup: component-exact survivors, chains collapse, cap passthrough") {
    // Two tight direction-bundles (would land in distinct k-means
    // clusters) plus isolated vectors. Bundle A is a sim-chain
    // a0~a1~a2 where a0·a2 is BELOW the threshold — the component
    // contract must still collapse the chain to ONE survivor (min
    // id), where a greedy exists-a-lower-id rule would keep a2.
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    def rot(base: Array[Double], deg: Double, d1: Int): Array[Double] = {
      // rotate `base` by deg degrees in the (base, e_d1) plane
      val r = math.toRadians(deg)
      val e = Array.fill(8)(0.0); e(d1) = 1.0
      unit(base.zip(e).map { case (b, x) => math.cos(r) * b + math.sin(r) * x })
    }
    val a0 = unit(Array(1, 0, 0, 0, 0, 0, 0, 0.0))
    val a1 = rot(a0, 20, 1)  // cos(a0,a1)=0.94
    val a2 = rot(a1, 20, 2)  // cos(a1,a2)=0.94, cos(a0,a2)=0.883 < 0.9
    val b0 = unit(Array(0, 0, 0, 0, 1, 0, 0, 0.0))
    val b1 = rot(b0, 10, 5)  // cos=0.985
    val lone = unit(Array(0, 0, 0, 0, 0, 0, 0, 1.0))
    val rows = Seq(
      0L -> a0, 1L -> a1, 2L -> a2, 3L -> b0, 4L -> b1, 5L -> lone)
    val df = rows.toDF("vec_id", "embedding")
    val kept = Dedup.semanticDedup(df, "vec_id", "embedding",
        k = 2, iters = 2, threshold = 0.9)
      .select("vec_id").as[Long].collect().toSet
    // chain {0,1,2} -> survivor 0; pair {3,4} -> survivor 3; 5 alone.
    assert(kept == Set(0L, 3L, 5L), s"kept=$kept")
    // cap: with maxClusterSize below any cluster size, nothing pairs,
    // everything survives with its assignment intact.
    val uncapped = Dedup.semanticDedup(df, "vec_id", "embedding",
        k = 2, iters = 2, threshold = 0.9, maxClusterSize = 2)
      .select("vec_id").as[Long].collect().toSet
    assert(uncapped == Set(0L, 1L, 2L, 3L, 4L, 5L), s"uncapped=$uncapped")
    // derived-k law: k = min(n, max(8, ceil(n/250))) -> 6 here, i.e.
    // every vector seeds its own cluster, no within-cluster pairs,
    // everything survives with 6 distinct cluster ids.
    val derived = Dedup.semanticDedup(df, "vec_id", "embedding",
        threshold = 0.9)
    assert(derived.select("vec_id").as[Long].collect().toSet ==
      Set(0L, 1L, 2L, 3L, 4L, 5L))
    assert(derived.select("cid").distinct().count() == 6L)
  }

  test("duplicatedWindowStats matches the serial window oracle") {
    val width = 12
    val stride = 5
    // serial oracle: every width-char window at stride offsets; an
    // instance is duplicated iff its text occurs in >= 2 distinct docs
    def windows(t: String): Seq[String] =
      if (t.length < width) Seq.empty
      else (0 to (t.length - width) by stride).map(i => t.substring(i, i + width))
    val docFreq: Map[String, Int] = corpus
      .flatMap { case (id, t) => windows(t).distinct.map(w => (w, id)) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
    val expected = corpus.map { case (id, t) =>
      val ws = windows(t)
      val dup = ws.count(w => docFreq(w) >= 2)
      (id, ws.size.toLong, dup.toLong,
        if (ws.nonEmpty) BigDecimal(dup.toDouble / ws.size)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        else 0.0)
    }.toSet
    val got = Dedup.duplicatedWindowStats(docsDF, "doc_id", "text",
        width = width, stride = stride, minDocFreq = 2)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got == expected)
    // the exact-dup pair (3, 200) must be fully duplicated
    val full = got.filter(r => r._1 == 3L || r._1 == 200L)
    assert(full.forall(r => r._2 > 0 && r._2 == r._3 && r._4 == 1.0), s"full=$full")
  }

  test("duplicatedWindowStats edge cases: short docs, within-doc repeats") {
    val df = Seq(
      1L -> "tiny",                        // shorter than width: 0 windows
      2L -> "aaaaaaaaaaaaaaaaaaaa",        // within-doc repeats only: not duplicated
      3L -> "the same exact sentence here",// cross-doc dup with 4
      4L -> "the same exact sentence here")
      .toDF("doc_id", "text")
    val got = Dedup.duplicatedWindowStats(df, "doc_id", "text",
        width = 10, stride = 5, minDocFreq = 2)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 0L, 0L, 0.0)))
    assert(got(2L)._2 == 3L && got(2L)._3 == 0L) // "aaaaaaaaaa" x3, one doc only
    assert(got(3L)._3 == got(3L)._2 && got(3L)._4 == 1.0)
    assert(got(4L)._3 == got(4L)._2 && got(4L)._4 == 1.0)
  }

  test("ann recall@k composition: ANN hits are a subset of bucket-mate exact ranks") {
    // deterministic vectors; recall computed serially from the same
    // operator outputs the knn_recall gate composes
    val rnd = new scala.util.Random(11)
    val rows = (0L until 60L).map { i =>
      i -> Array.fill(16)(rnd.nextDouble() - 0.5)
    }
    val df = rows.toDF("vec_id", "embedding")
    val q = df.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("vec"))
    val c = df.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val exact = Similarity.cosineTopK(q, c, k = 4)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val ann = Similarity.annTopK(q, c, k = 4)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val hits = exact.intersect(ann).groupBy(_._1).view.mapValues(_.size).toMap
    // the gate's shape: per-qid n_hit in [0, k], recall = n_hit/k
    assert(hits.values.forall(h => h >= 0 && h <= 4))
    // ANN self-consistency: every ANN neighbor shares a bucket, so on
    // this small corpus ANN returns <= k rows per query
    assert(ann.groupBy(_._1).forall(_._2.size <= 4))
  }

  test("datasetSplit: exhaustive, partition-invariant, matches hashBucket cuts") {
    import graft.operators.Sampling
    val df = (0L until 500L).toDF("doc_id")
    val a = Sampling.datasetSplit(df, "doc_id", 900, 50)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(a.size == 500)
    val b = Sampling.datasetSplit(df.repartition(7), "doc_id", 900, 50)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(a == b) // assignment is a pure function of the key
    val buckets = df.select(col("doc_id"),
        Sampling.hashBucket(col("doc_id")).as("b"))
      .as[(Long, Int)].collect().toMap
    a.foreach { case (id, s) =>
      val exp = if (buckets(id) < 900) "train"
        else if (buckets(id) < 950) "val" else "test"
      assert(s == exp, s"doc $id bucket ${buckets(id)}")
    }
  }

  test("rrfFuse: hand-computed fusion, missing-entry law, tie-break") {
    import graft.operators.Search
    // list A ranks docs 1,2,3; list B ranks 3,1 (doc 2 missing from B)
    val a = Seq((0L, 1L, 1L), (0L, 2L, 2L), (0L, 3L, 3L))
      .toDF("query_id", "doc_id", "rnk")
    val b = Seq((0L, 3L, 1L), (0L, 1L, 2L)).toDF("query_id", "doc_id", "rnk")
    val got = Search.rrfFuse(Seq(a, b), "doc_id", k = 3)
      .select("doc_id", "rnk", "rrf_score")
      .as[(Long, Long, Double)].collect().sortBy(_._2)
    def q(r: Long): Long = math.round(1e9 / (60 + r))
    val exp = Seq(
      1L -> (q(1) + q(2)), // 1/(61) + 1/(62)  — the winner
      3L -> (q(3) + q(1)), // 1/(63) + 1/(61)
      2L -> q(2)           // only in A
    ).map { case (id, s) => (id, math.rint(s / 1e9 * 1e6) / 1e6) }
    assert(got.map(_._1).toSeq == exp.map(_._1))
    got.zip(exp).foreach { case ((_, _, s), (_, e)) =>
      assert(math.abs(s - e) < 1e-9)
    }
  }

  test("sourceReport: counts, exact token totals, quantized mean, dup attribution") {
    import graft.operators.Profile
    val df = Seq(
      (1L, "a b c", "s1", "en"),   // dup pair with 2 (cross-source)
      (2L, "a b c", "s2", "en"),
      (3L, "d e", "s1", "fr"),
      (4L, "f g h i", "s2", "en"),
      (5L, "f g h i", "s2", "de")  // dup pair with 4 (same source)
    ).toDF("doc_id", "text", "source", "lang")
    val got = Profile.sourceReport(df, "doc_id", "text", "source", "lang")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(4), r.getLong(5)))).toMap
    assert(got("s1") == ((2L, 5L, 2L, 1L)))  // 2 docs, 3+2 tokens, 2 langs, 1 dup doc
    assert(got("s2") == ((3L, 11L, 2L, 3L))) // 3 docs, 3+4+4 tokens, 2 langs, all 3 dup
  }

  test("dropNearDuplicatesByScore keeps the argmax-score member, ties to lower id") {
    import graft.operators.ConnectedComponents
    val df = Seq(
      (1L, 0.5), (2L, 0.9), (3L, 0.9),  // cluster {1,2,3}: best = 2 (tie 2/3 -> 2)
      (10L, 0.1), (11L, 0.05),           // cluster {10,11}: best = 10
      (20L, 0.0)                          // singleton, untouched
    ).toDF("doc_id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val kept = ConnectedComponents
      .dropNearDuplicatesByScore(df, "doc_id", pairs, col("score"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 10L, 20L))
    // min-id variant on the same graph keeps 1 — the policies differ
    val keptMin = ConnectedComponents.dropNearDuplicates(df, "doc_id", pairs)
      .select("doc_id").as[Long].collect().toSet
    assert(keptMin == Set(1L, 10L, 20L))
  }

  test("incremental dedup: new uniques vs index, within-delta fold, idempotence") {
    val base = Seq((0L, "a b c"), (1L, "d e f"), (2L, "a b c")).toDF("doc_id", "text")
    val delta = Seq((10L, "a b c"),                // already in base -> dropped
                    (11L, "x y z"), (12L, "x y z"), // new, dup within delta -> min id
                    (13L, "q r s")).toDF("doc_id", "text")
    Dedup.writeDigestIndex(base, "doc_id", "text", "t_dd_idx", 4)
    val out = Dedup.incrementalNewUniques(delta, "doc_id", "text",
        spark.table("t_dd_idx"))
      .select("keep_id", "n").as[(Long, Long)].collect().toSet
    assert(out == Set((11L, 2L), (13L, 1L)))
    // idempotence: append the new digests to the index; re-probing the
    // same delta yields nothing
    val appended = spark.table("t_dd_idx")
      .union(Dedup.incrementalNewUniques(delta, "doc_id", "text",
        spark.table("t_dd_idx")).select("digest"))
    assert(Dedup.incrementalNewUniques(delta, "doc_id", "text", appended).isEmpty)
  }

  test("bm25TopK matches a serial BM25 oracle (scores, ranks, tie-break)") {
    import graft.operators.Search
    // planted near-dups give overlapping vocab; tokenization edges:
    // empty text, whitespace-only, tab-led (space-only trim law)
    val docsSeq = corpus ++ Seq((300L, ""), (301L, "   "), (302L, "\tspark join"))
    val df = docsSeq.toDF("doc_id", "text")
    // query 3 shares "spark" with query 0 (and "hash" with query 1):
    // a term in several queries of one batch scores for each of them
    val qSeq = Seq(
      0L -> Seq("spark", "join"),
      1L -> Seq("window", "hash", "sort"),
      2L -> Seq("nosuchterm"),
      3L -> Seq("spark", "hash"))
    val queries = qSeq.toDF("query_id", "terms")
    val got = Search.bm25TopK(df, "doc_id", "text", queries, k = 4)
      .select("query_id", "doc_id", "rnk", "score")
      .as[(Long, Long, Long, Double)].collect().toSeq
      .sortBy(r => (r._1, r._3))

    // Serial oracle: identical arithmetic (quantized-long term sums)
    // and the exact Column tokenize law — SPACE-only trim (SQL trim),
    // then regex split (so "\tspark" keeps a leading empty token).
    def sqlTokens(t: String): Seq[String] =
      t.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
        .split("\\s+", -1).toSeq
    val toks = docsSeq.map { case (id, t) => id -> sqlTokens(t) }.toMap
    val n = docsSeq.size.toDouble
    val sumDl = toks.values.map(_.size.toLong).sum
    val avgdl = sumDl.toDouble / n
    def df0(term: String): Long = toks.values.count(_.contains(term)).toLong
    val (k1, b) = (1.2, 0.75)
    val exp = qSeq.flatMap { case (qid, terms) =>
      val scored = docsSeq.map { case (id, _) =>
        val ws = toks(id)
        val dlN = k1 * (1.0 - b + b * ws.size.toDouble / avgdl)
        val s = terms.map { t =>
          val dfT = df0(t)
          val idf = if (dfT == 0) 0.0 else math.log(1 + (n - dfT + 0.5) / (dfT + 0.5))
          val tf = ws.count(_ == t).toDouble
          math.round(idf * tf * (k1 + 1.0) / (tf + dlN) * 1e6)
        }.sum
        (id, s)
      }.sortBy { case (id, s) => (-s, id) }.take(4)
      scored.zipWithIndex.map { case ((id, s), i) =>
        (qid, id, (i + 1).toLong, math.rint(s / 1e6 * 1e6) / 1e6)
      }
    }
    assert(got.size == exp.size)
    got.zip(exp).foreach { case (g, e) =>
      assert(g._1 == e._1 && g._2 == e._2 && g._3 == e._3, s"$g vs $e")
      assert(math.abs(g._4 - e._4) < 1e-9, s"$g vs $e")
    }
    // the unknown-term query scores everything 0: ranks are just the
    // lowest doc ids
    assert(got.filter(_._1 == 2L).map(_._2) ==
      docsSeq.map(_._1).sorted.take(4))
  }

  test("chunkTokens: chunk law (count, coverage, overlap, tail) vs serial oracle") {
    import graft.operators.Chunking
    val window = 8
    val stride = 5
    // token counts crossing every edge: n < w, n == w, n == w+1,
    // exact multiple of stride, and a long doc
    val docs = Seq(1, 5, 8, 9, 10, 13, 14, 40, 101).zipWithIndex.map {
      case (n, i) => (i.toLong, (0 until n).map(j => s"t$j").mkString(" "))
    }
    val out = Chunking.chunkTokens(docs.toDF("doc_id", "text"),
        "doc_id", "text", window, stride)
      .select("doc_id", "chunk_id", "tok_start", "n_tok", "chunk_hash")
      .as[(Long, Long, Long, Long, String)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    docs.foreach { case (id, text) =>
      val ws = text.trim.split("\\s+")
      val expChunks = 1 + math.max(0,
        (ws.length - window + stride - 1) / stride)
      val got = out(id)
      assert(got.length == expChunks, s"doc $id (${ws.length} tokens)")
      got.foreach { case (_, cid, start, nTok, hash) =>
        val exp = ws.slice(cid.toInt * stride, cid.toInt * stride + window)
        assert(start == cid * stride)
        assert(nTok == exp.length)
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(exp.mkString(" ").getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        assert(hash == md)
      }
      // coverage: chunk starts tile [0, n) with stride <= window
      val last = got.last
      assert(last._3 + last._4 == ws.length, s"tail not covered for doc $id")
    }
  }

  test("duplicateSpanPairs: pair set and shared-window counts match the serial oracle") {
    import graft.operators.Dedup
    val n = 8
    val df = corpus.toDF("doc_id", "text")
    val got = Dedup.duplicateSpanPairs(df, "doc_id", "text", n,
        maxDocsPerSpan = 100, minShared = 2)
      .as[(Long, Long, Long)].collect().map(t => (t._1, t._2) -> t._3).toMap

    // serial oracle on the same md5-15 hash law
    def h(s: String): Long = {
      val dig = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      var v = 0L
      (0 until 8).foreach(b => v = (v << 8) | (dig(b) & 0xffL))
      v >>> 4
    }
    val sets: Map[Long, Set[Long]] = corpus.map { case (id, t) =>
      val ws = t.trim.split("\\s+")
      id -> ws.sliding(n).filter(_.length == n)
        .map(w => h(w.mkString(" "))).toSet
    }.toMap
    // cap: spans shared by > 100 docs are dropped (none here, corpus
    // is 49 docs, but apply the law anyway)
    val freq = sets.toSeq.flatMap { case (id, s) => s.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.size).toMap
    val want = (for {
      (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq if a < b
      shared = (sa intersect sb).count(x => freq(x) <= 100)
      if shared >= 2
    } yield (a, b) -> shared.toLong).toMap
    assert(got == want)
    // the near-dup plants actually surface: each single-word edit of a
    // 60+-token doc leaves long identical runs => many shared windows
    assert(want.nonEmpty)
    assert((0L until 8L).forall(i => want.contains((i, 100L + i))))
    // the exact dup shares every window of doc 3
    assert(got((3L, 200L)) == sets(3L).count(x => freq(x) <= 100))
  }

  test("secondMoments/PCA: exact moments, eigen residuals, orthogonality, projection") {
    import graft.operators.EmbedStats
    val dims = 8
    // correlated synthetic vectors so the spectrum is non-trivial
    val rnd = new scala.util.Random(11)
    val vecs = (0 until 400).map { _ =>
      val base = rnd.nextGaussian()
      Array.tabulate(dims)(i =>
        (base * (dims - i) + rnd.nextGaussian() * 0.3).toFloat)
    }
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
      .toDF("vec_id", "embedding")
    val rows = EmbedStats.secondMoments(df, "embedding", dims).collect()

    // moments equal the serial exact-integer oracle
    def q(x: Float): Long = math.floor(x.toDouble * 1000.0 + 0.5).toLong
    val qs = vecs.map(_.map(q))
    val m = rows.map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(m((-1, -1)) == 400L)
    for (i <- 0 until dims; j <- i until dims)
      assert(m((i, j)) == qs.map(v => v(i) * v(j)).sum, s"($i,$j)")
    for (i <- 0 until dims)
      assert(m((i, -1)) == qs.map(_(i)).sum, s"marg $i")

    // partitioning invariance: exact longs don't care about splits
    val rows7 = EmbedStats.secondMoments(df.repartition(7), "embedding", dims)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(rows7 == m)

    val cov = EmbedStats.covarianceFromMoments(rows.toSeq, dims)
    val comps = EmbedStats.principalComponents(cov, 3, iters = 1000)
    def matvec(a: Array[Array[Double]], v: Array[Double]) =
      Array.tabulate(dims)(i => (0 until dims).map(j => a(i)(j) * v(j)).sum)
    val lams = comps.map { v =>
      val w = matvec(cov, v)
      v.indices.map(i => v(i) * w(i)).sum
    }
    // eigen equation: ||Cv - λv|| small relative to λ₁
    comps.zip(lams).foreach { case (v, lam) =>
      val w = matvec(cov, v)
      val res = math.sqrt(v.indices.map(i => math.pow(w(i) - lam * v(i), 2)).sum)
      assert(res < 1e-5 * math.max(lams(0), 1e-12), s"residual $res")
    }
    // unit norm, mutual orthogonality, descending eigenvalues
    comps.foreach(v => assert(math.abs(math.sqrt(v.map(x => x * x).sum) - 1) < 1e-9))
    for (a <- 0 until 3; b <- a + 1 until 3)
      assert(math.abs(comps(a).zip(comps(b)).map { case (x, y) => x * y }.sum) < 1e-6)
    assert(lams(0) >= lams(1) && lams(1) >= lams(2))
    // the planted dominant direction (~ proportional to (d, d-1, ..., 1))
    // is recovered: top component correlates almost perfectly
    val planted = Array.tabulate(dims)(i => (dims - i).toDouble)
    val pn = math.sqrt(planted.map(x => x * x).sum)
    val corr = math.abs(comps(0).zip(planted).map { case (x, y) => x * y }.sum) / pn
    assert(corr > 0.99, s"corr $corr")

    // projection: plain dot products of the sliced vector
    val proj = df.limit(5).select(col("vec_id"),
        EmbedStats.project(col("embedding"), comps, dims).as("p"))
      .as[(Long, Seq[Double])].collect().toMap
    proj.foreach { case (id, p) =>
      val x = vecs(id.toInt).map(_.toDouble)
      comps.zipWithIndex.foreach { case (c, k) =>
        val want = c.zip(x).map { case (a, b) => a * b }.sum
        assert(math.abs(p(k) - want) < 1e-9)
      }
    }
  }

  test("funnel: chained completion times match the serial law in one user shuffle") {
    import graft.operators.Funnel
    import java.sql.Timestamp
    def ts(m: Long) = new Timestamp(m * 60000L)
    // users exercising every chain shape: complete, out-of-order
    // (purchase before click), stalled, repeated steps, tie-free
    val rows = Seq(
      // u1: clean chain
      (1L, "signup", 1L), (1L, "click", 2L), (1L, "purchase", 3L),
      // u2: purchase BEFORE the click -> chain stalls at click
      (2L, "signup", 1L), (2L, "purchase", 2L), (2L, "click", 3L),
      // u3: repeated signups/clicks; chain uses the EARLIEST valid ts
      (3L, "signup", 5L), (3L, "signup", 1L), (3L, "click", 4L),
      (3L, "click", 2L), (3L, "purchase", 6L),
      // u4: click with no signup -> never starts
      (4L, "click", 1L), (4L, "purchase", 2L),
      // u5: signup only
      (5L, "signup", 9L))
      .zipWithIndex.map { case ((u, t, m), i) => (i.toLong, u, t, ts(m)) }
    val df = rows.toDF("event_id", "user_id", "event_type", "ts")
    val steps = Seq("signup", "click", "purchase")
    val times = Funnel.funnelTimes(df, "user_id", "event_type", "ts",
      "event_id", steps)
    val got = times.collect().map(r => r.getLong(0) ->
      (0 to 2).map(i => Option(r.getTimestamp(i + 1)).map(_.getTime / 60000L))).toMap
    // serial law: t_i = min ts of step i strictly after t_{i-1}
    val want = rows.groupBy(_._2).map { case (u, es) =>
      val byType = es.groupBy(_._3).view
        .mapValues(_.map(_._4.getTime / 60000L).sorted).toMap
      val t0 = byType.get("signup").map(_.min)
      val t1 = t0.flatMap(t => byType.getOrElse("click", Nil).filter(_ > t)
        .minOption)
      val t2 = t1.flatMap(t => byType.getOrElse("purchase", Nil).filter(_ > t)
        .minOption)
      u -> Seq(t0, t1, t2)
    }
    assert(got == want)
    assert(got(1L) == Seq(Some(1L), Some(2L), Some(3L)))
    assert(got(2L) == Seq(Some(1L), Some(3L), None)) // purchase pre-click ignored
    assert(got(3L) == Seq(Some(1L), Some(2L), Some(6L))) // earliest valid chain
    assert(got(4L) == Seq(None, None, None))

    val counts = Funnel.funnelCounts(df, "user_id", "event_type", "ts",
      "event_id", steps)
    val cgot = counts.collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(cgot.sortBy(_._1).map(_._3).toSeq == Seq(4L, 3L, 2L))
    // single user-keyed shuffle: the k window layers + the per-user
    // aggregate share ONE hash exchange
    // (take the AQE final plan only — the dump repeats the Initial Plan)
    val plan = times.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected 1 hash exchange:\n$plan")
  }

  test("grouped histogram quantiles: per-group equals per-filter, halves merge exactly") {
    import graft.operators.Sketches
    val rnd = new scala.util.Random(41)
    val rows = (0 until 2000).map { i =>
      val g = s"g${i % 3}"
      (i.toLong, g, rnd.nextInt(180) + (if (g == "g1") 20 else 0))
    }
    val df = rows.toDF("id", "g", "v")
    val lo = lit(0.0); val hi = lit(200.0)
    val hist = Sketches.histSketchGrouped(df, Seq("g"), col("v"), lo, hi, 64)
    val got = Sketches.histQuantilesGrouped(hist, Seq("g"), lo, hi, 64,
        Seq(0.5, 0.9)).collect()
      .map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    // per-group equals the ungrouped sketch over that group's rows
    for (g <- Seq("g0", "g1", "g2")) {
      val solo = Sketches.histQuantiles(
        Sketches.histSketch(df.where(col("g") === g), col("v"), lo, hi, 64),
        lo, hi, 64, Seq(0.5, 0.9)).collect()
        .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
      for (q <- Seq(0.5, 0.9))
        assert(got((g, q)) == solo(q), s"$g q=$q")
    }
    // the shifted group's median sits visibly above the others'
    assert(got(("g1", 0.5)) > got(("g0", 0.5)))
    // merge law: sketches of two disjoint halves sum per (group, bin)
    // to the full sketch
    val h1 = Sketches.histSketchGrouped(df.where(col("id") % 2 === 0),
      Seq("g"), col("v"), lo, hi, 64)
    val h2 = Sketches.histSketchGrouped(df.where(col("id") % 2 === 1),
      Seq("g"), col("v"), lo, hi, 64)
    val merged = h1.unionAll(h2).groupBy("g", "bin")
      .agg(sum("cnt").as("cnt")).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val full = hist.collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(merged == full)
  }

  test("PCA projection onto the full basis preserves cosine top-k (orthogonality end-to-end)") {
    import graft.operators.{EmbedStats, Similarity}
    val dims = 8
    val rnd = new scala.util.Random(17)
    val vecs = (0 until 60).map { _ =>
      val base = rnd.nextGaussian()
      Array.tabulate(dims)(i =>
        (base * (dims - i) * 0.4 + rnd.nextGaussian()).toFloat)
    }
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
      .toDF("vec_id", "embedding")
    val comps = EmbedStats.principalComponents(
      EmbedStats.covarianceFromMoments(
        EmbedStats.secondMoments(df, "embedding", dims).collect().toSeq, dims),
      dims, iters = 1000)
    // rotate the whole corpus into the PCA basis (all dims kept: an
    // orthonormal change of basis, so cosine geometry is unchanged)
    val proj = df.select(col("vec_id"),
      EmbedStats.project(col("embedding"), comps, dims).as("embedding"))
    val q = df.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding"))
    val qProj = proj.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding"))
    val a = Similarity.cosineTopK(q, df, 3, idCol = "vec_id",
      vecCol = "embedding")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val b = Similarity.cosineTopK(qProj, proj, 3, idCol = "vec_id",
      vecCol = "embedding")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(a == b)
    assert(a.nonEmpty)
  }

  test("evalBinary: confusion + tie-averaged AUC match the serial Mann-Whitney oracle") {
    import graft.operators.Training
    def aucOracle(rows: Seq[(Long, Int)]): Double = {
      // average ranks over ascending score with exact tie handling
      val sorted = rows.sortBy(_._1)
      val ranks = scala.collection.mutable.Map.empty[Long, Double]
      var i = 0
      while (i < sorted.length) {
        var j = i
        while (j < sorted.length && sorted(j)._1 == sorted(i)._1) j += 1
        ranks(sorted(i)._1) = (i + 1 + j) / 2.0 // avg of ranks i+1..j
        i = j
      }
      val p = rows.count(_._2 == 1).toDouble
      val n = rows.length - p
      val rsum = rows.filter(_._2 == 1).map(r => ranks(r._1)).sum
      (rsum - p * (p + 1) / 2.0) / (p * n)
    }
    val rnd = new scala.util.Random(23)
    // heavy ties on a coarse grid, correlated with the label
    val rows = (0 until 500).map { _ =>
      val y = rnd.nextInt(2)
      val pq = math.max(0, math.min(10000,
        (5000 + y * 1500 + rnd.nextGaussian() * 2000).toInt / 500 * 500)).toLong
      (pq, y)
    }
    val df = rows.toDF("pq", "y")
    val got = Training.evalBinary(df, "pq", col("y") === 1).collect()(0)
    val (tp, fp, tn, fn) = (got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3))
    assert(tp == rows.count(r => r._1 >= 5000 && r._2 == 1))
    assert(fp == rows.count(r => r._1 >= 5000 && r._2 == 0))
    assert(tn == rows.count(r => r._1 < 5000 && r._2 == 0))
    assert(fn == rows.count(r => r._1 < 5000 && r._2 == 1))
    assert(tp + fp + tn + fn == 500L)
    val wantAuc = BigDecimal(aucOracle(rows)).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.getDouble(7) == wantAuc, s"${got.getDouble(7)} vs $wantAuc")
    // degenerate sanity: a perfect separator scores 1, its inverse 0
    val perfect = Seq((9000L, 1), (8000L, 1), (2000L, 0), (1000L, 0)).toDF("pq", "y")
    assert(Training.evalBinary(perfect, "pq", col("y") === 1)
      .collect()(0).getDouble(7) == 1.0)
    assert(Training.evalBinary(perfect, "pq", col("y") === 0)
      .collect()(0).getDouble(7) == 0.0)
    // all-tied scores: AUC exactly 1/2
    val tied = Seq((5000L, 1), (5000L, 0), (5000L, 1), (5000L, 0)).toDF("pq", "y")
    assert(Training.evalBinary(tied, "pq", col("y") === 1)
      .collect()(0).getDouble(7) == 0.5)
  }

  test("trainSoftmax: weights equal the serial GD oracle; argmax serving recovers classes") {
    import graft.operators.Training
    val k = 3
    val dim = 8
    val iters = 2
    val lr = 0.2
    // three token dialects so the classes are separable
    val rnd = new scala.util.Random(53)
    val vocabs = Seq(
      Vector("alpha", "beta", "gamma", "shared", "x"),
      Vector("delta", "eps", "zeta", "shared", "x"),
      Vector("eta", "theta", "iota", "shared", "x"))
    val rows = (0 until 120).map { i =>
      val c = i % 3
      val v = vocabs(c)
      (i.toLong, Seq.fill(12)(v(rnd.nextInt(v.size))).mkString(" "), c.toLong)
    }
    val df = rows.toDF("doc_id", "text", "y")
    val got = Training.trainSoftmaxWeights(df, "text", col("y"), k, dim,
      iters, lr)

    // serial oracle on the same quantized law
    def bucket(t: String): Int = {
      val dig = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8"))
      var v = 0L
      (0 until 8).foreach(b => v = (v << 8) | (dig(b) & 0xffL))
      ((v >>> 4) % dim).toInt
    }
    val feats = rows.map { case (_, t, y) =>
      val x = new Array[Long](dim + 1)
      t.trim.split("\\s+").filter(_.nonEmpty).foreach(tok => x(bucket(tok)) += 1)
      x(dim) = 1L
      (x, y)
    }
    val w = Array.fill(k, dim + 1)(0L)
    val n = feats.length
    (1 to iters).foreach { _ =>
      val g = Array.fill(k, dim + 1)(0L)
      feats.foreach { case (x, y) =>
        val m = (0 until k).map(c =>
          x.zip(w(c)).map { case (a, b) => a * b }.sum)
        val mm = m.max
        val eq = m.map(v => math.floor(
          math.exp((v - mm).toDouble / 1e6) * 1e6 + 0.5).toLong)
        val sq = eq.sum
        val pq = eq.map(e => math.floor(e.toDouble / sq * 1e4 + 0.5).toLong)
        for (c <- 0 until k; j <- 0 to dim)
          g(c)(j) += (pq(c) - (if (y == c) 10000L else 0L)) * 100L * x(j)
      }
      for (c <- 0 until k; j <- 0 to dim)
        w(c)(j) -= math.floor(lr * g(c)(j) / n + 0.5).toLong
    }
    assert(got.map(_.toSeq).toSeq == w.map(_.toSeq).toSeq)
    // partitioning invariance
    val got7 = Training.trainSoftmaxWeights(df.repartition(7), "text",
      col("y"), k, dim, iters, lr)
    assert(got7.map(_.toSeq).toSeq == got.map(_.toSeq).toSeq)
    // serving: with a longer budget (more steps, fewer bucket
    // collisions) argmax margins recover the dialects far above the
    // 1/3 chance floor
    val wLong = Training.trainSoftmaxWeights(df, "text", col("y"), k,
      dim = 32, iters = 10, lr = 0.2)
    val acc = df.select((Training.predictSoftmax(col("text"), wLong) ===
        col("y").cast("int")).cast("long").as("ok"))
      .agg(avg(col("ok"))).first().getDouble(0)
    assert(acc > 0.8, s"softmax accuracy $acc")
  }

  test("retention + gapFill: serial cohort law, dense spans, zero-filled gaps") {
    import graft.operators.Funnel
    import java.sql.Timestamp
    def ts(day: Int, h: Int = 9) = Timestamp.valueOf(f"2024-01-$day%02d $h%02d:00:00")
    // u1 active weeks 1+3 (skips week 2); u2 active week 1 only;
    // u3 first appears week 2 — its own cohort
    val rows = Seq(
      (1L, ts(1)), (1L, ts(2)), (1L, ts(16)),
      (2L, ts(3)),
      (3L, ts(8)), (3L, ts(10)))
      .zipWithIndex.map { case ((u, t), i) => (i.toLong, u, t) }
    val df = rows.toDF("event_id", "user_id", "ts")

    val ret = Funnel.retentionCohorts(df, "user_id", "ts")
      .collect().map(r => (r.getDate(0).toString, r.getInt(1)) -> r.getLong(2)).toMap
    // weeks truncate to Monday: 2024-01-01 IS a Monday
    assert(ret == Map(
      ("2024-01-01", 0) -> 2L, // u1, u2 in the week-1 cohort
      ("2024-01-01", 2) -> 1L, // u1 returns in week 3
      ("2024-01-08", 0) -> 1L)) // u3's own cohort

    val gf = Funnel.gapFillDaily(df, "user_id", "ts")
      .collect().map(r => (r.getLong(0), r.getDate(1).toString, r.getLong(2)))
    val byUser = gf.groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    // u1 spans Jan 1..16: 16 dense days, 3 active
    assert(byUser(1L).size == 16)
    assert(byUser(1L).map(_._3).sum == 3)
    assert(byUser(1L).count(_._3 == 0L) == 13)
    // u3 spans Jan 8..10: 3 days with the 9th zero-filled
    assert(byUser(3L).map(t => (t._2, t._3)).toSeq ==
      Seq(("2024-01-08", 1L), ("2024-01-09", 0L), ("2024-01-10", 1L)))
    assert(byUser(2L).map(t => (t._2, t._3)).toSeq == Seq(("2024-01-03", 1L)))
  }

  test("trainLogReg: weights equal the serial GD oracle and survive repartitioning") {
    import graft.operators.Training
    val dim = 16
    val iters = 3
    val lr = 0.2
    // label: docs containing "spark" (roughly balanced on this corpus)
    val df = corpus.toDF("doc_id", "text")
      .withColumn("y", array_contains(split(col("text"), " "), "spark"))
    val got = Training.trainLogRegWeights(df, "text", col("y"), dim, iters, lr)

    // serial oracle: same quantized-integer law, plain Scala
    def bucket(t: String): Int = {
      val dig = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8"))
      var v = 0L
      (0 until 8).foreach(b => v = (v << 8) | (dig(b) & 0xffL))
      ((v >>> 4) % dim).toInt
    }
    val rows = corpus.map { case (_, t) =>
      val x = new Array[Long](dim + 1)
      t.trim.split("\\s+").filter(_.nonEmpty).foreach(tok => x(bucket(tok)) += 1)
      x(dim) = 1L
      (x, if (t.split(" ").contains("spark")) 1L else 0L)
    }
    val w = Array.fill(dim + 1)(0L)
    val n = rows.length
    (1 to iters).foreach { _ =>
      val g = Array.fill(dim + 1)(0L)
      rows.foreach { case (x, y) =>
        val m = x.zip(w).map { case (a, b) => a * b }.sum
        val pq = math.floor(1e4 / (1.0 + math.exp(-(m.toDouble / 1e6))) + 0.5).toLong
        val gs = (pq - y * 10000L) * 100L
        (0 to dim).foreach(j => g(j) += gs * x(j))
      }
      (0 to dim).foreach(j => w(j) -= math.floor(lr * g(j) / n + 0.5).toLong)
    }
    assert(got.toSeq == w.toSeq)
    // the model moved off zero and learned SOMETHING: trained scores
    // separate the classes better than the zero model (pq=5000 for all)
    assert(got.exists(_ != 0L))
    val (pqCol, keep) = Training.scoreLogReg(col("text"), got)
    val acc = df.select((keep === col("y").cast("int")).cast("long").as("ok"))
      .agg(avg(col("ok"))).first().getDouble(0)
    assert(acc > 0.6, s"train accuracy $acc")
    // partitioning invariance: the integer gradient sums don't care
    // about row order or split count
    val got7 = Training.trainLogRegWeights(df.repartition(7), "text",
      col("y"), dim, iters, lr)
    assert(got7.toSeq == got.toSeq)
    // the per-token buckets the trainer explodes agree with the
    // serial bucket law (their per-bucket counts are the features)
    val bkts = df.limit(10).select(col("doc_id"),
        graft.functions.NativeExprs.hashedBucketsNative(col("text"), dim).as("x"))
      .as[(Long, Seq[Long])].collect().toMap
    corpus.take(10).foreach { case (id, t) =>
      val x = new Array[Long](dim)
      t.trim.split("\\s+").filter(_.nonEmpty).foreach(tok => x(bucket(tok)) += 1)
      val viaBuckets = new Array[Long](dim)
      bkts(id).foreach(b => viaBuckets(b.toInt) += 1)
      assert(viaBuckets.toSeq == x.toSeq, s"doc $id")
    }
    // fastText-sized bucket space: the weight array is a reference
    // object and gradients are sparse, so dim=262144 trains on the
    // same corpus without a 262k-wide plan or shuffle
    val big = Training.trainLogRegWeights(df, "text", col("y"),
      dim = 262144, iters = 2, lr = 0.2)
    assert(big.length == 262145 && big.exists(_ != 0L))

    // null law: a null text trains as the empty document and a null
    // label as 0 — no document's gradient is ever silently dropped
    val withNulls = df.select(col("doc_id"), col("text"), col("y"))
      .unionByName(Seq((9001L, null.asInstanceOf[String], Some(true)),
        (9002L, "spark scan join", None))
        .toDF("doc_id", "text", "y"))
    val wNull = Training.trainLogRegWeights(withNulls, "text", col("y"),
      dim, iters, lr)
    val wExplicit = Training.trainLogRegWeights(
      df.select(col("doc_id"), col("text"), col("y"))
        .unionByName(Seq((9001L, "", true), (9002L, "spark scan join", false))
          .toDF("doc_id", "text", "y")),
      "text", col("y"), dim, iters, lr)
    assert(wNull.toSeq == wExplicit.toSeq)
    assert(wNull.toSeq != got.toSeq) // the two extra docs DID count
  }

  test("bm25: a duplicated query term scores once, identically on all three paths (r9 defect pin)") {
    import graft.operators.Search
    // Regression pin for the r9 duplicate-term fix: a term listed
    // twice in one query must contribute once (Bm25ScoresExpr's tf
    // slots collapse duplicates; the index paths dedupe per query) —
    // the pre-fix index join double-counted each occurrence row.
    val df = corpus.toDF("doc_id", "text")
    val qDup = Seq(
      (0L, Seq("spark", "join", "spark", "spark")),
      (1L, Seq("window", "window", "hash"))).toDF("query_id", "terms")
    val qUniq = Seq(
      (0L, Seq("spark", "join")),
      (1L, Seq("window", "hash"))).toDF("query_id", "terms")
    def rows(d: DataFrame): Seq[(Long, Long, Long, Double)] =
      d.select("query_id", "doc_id", "rnk", "score")
        .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    val inlineDup = rows(Search.bm25TopK(df, "doc_id", "text", qDup, k = 5))
    val inlineUniq = rows(Search.bm25TopK(df, "doc_id", "text", qUniq, k = 5))
    assert(inlineDup == inlineUniq)
    Search.writeBm25Index(df, "doc_id", "text", "t_dupterm_bm25", buckets = 4)
    val idxDup = rows(Search.bm25TopKFromIndex(spark, "t_dupterm_bm25", qDup, k = 5))
    val bulkDup = rows(Search.bm25TopKFromIndexBulk(spark, "t_dupterm_bm25", qDup, k = 5))
    assert(idxDup == inlineUniq)
    assert(bulkDup == inlineUniq)
    spark.catalog.clearCache() // the index probes cache their top-k frame
  }

  test("contaminationPairs (fused native pass) == explode+join+count formulation") {
    import graft.operators.Dedup
    import graft.functions.TextFunctions
    // fixture exercising every law edge: empty text (empty shingle!),
    // short text (< k: one whole-text shingle), unicode (code-point
    // windows), a shingle shared by TWO probes, duplicate windows
    // inside one doc (distinct semantics), and exact probe copies
    val texts = Seq(
      0L -> "the quick brown fox jumps over the lazy dog again and again",
      1L -> "", 2L -> "shrt", 3L -> "héllo wörld héllo wörld héllo wörld",
      4L -> "aaaaaaaaaaaaaaaaaaaaaa",
      10L -> "the quick brown fox jumps over the lazy dog again and again",
      11L -> "completely unrelated text with its own shingles here",
      12L -> "héllo wörld héllo wörld and more unicode",
      13L -> "", 14L -> "shrt")
    val df = texts.toDF("doc_id", "text")
    val corpus = df.where(col("doc_id") >= 10)
    val probes = df.where(col("doc_id") < 10)
    for (minOverlap <- Seq(1, 3, 10)) {
      def rows(d: DataFrame): Set[(Long, Long, Long)] =
        d.select("c_id", "p_id", "n_shared")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val got = rows(Dedup.contaminationPairs(
        corpus, probes, "doc_id", "text", shingleK = 8, minOverlap = minOverlap))
      // the previous formulation, inlined as the oracle
      val c = corpus.select(col("doc_id").as("c_id"),
        explode(TextFunctions.charShingles(col("text"), 8)).as("sh"))
      val p = probes.select(col("doc_id").as("p_id"),
        explode(TextFunctions.charShingles(col("text"), 8)).as("sh"))
      val want = rows(c.join(broadcast(p), "sh")
        .groupBy("c_id", "p_id").agg(count(lit(1)).as("n_shared"))
        .where(col("n_shared") >= minOverlap))
      assert(got == want,
        s"minOverlap=$minOverlap missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    }
  }

  test("contaminationPairs skips null-id probes the way it skips null-text probes") {
    import graft.operators.Dedup
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val corpus = Seq((10L, text), (11L, "completely unrelated text here"))
      .toDF("doc_id", "text")
    val probes = Seq((Some(1L), Some(text)), (None, Some(text)),
      (Some(2L), None), (Some(3L), Some("unrelated text here")))
      .toDF("doc_id", "text")
    def rows(d: DataFrame): Set[(Long, Long, Long)] =
      d.select("c_id", "p_id", "n_shared")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = rows(Dedup.contaminationPairs(corpus, probes, "doc_id", "text",
      shingleK = 8, minOverlap = 1))
    // the same sweep over only the probes that have both an id and a text
    val want = rows(Dedup.contaminationPairs(corpus,
      probes.where(col("doc_id").isNotNull && col("text").isNotNull),
      "doc_id", "text", shingleK = 8, minOverlap = 1))
    assert(got == want)
    assert(got.map(_._2) == Set(1L, 3L))
  }

  test("contaminationPairs refuses a non-integral probe id, naming the column") {
    import graft.operators.Dedup
    val corpus = Seq((10L, "the quick brown fox jumps")).toDF("doc_id", "text")
    val stringIds = Seq(("p7", "the quick brown fox jumps"), ("12", "x"))
      .toDF("doc_id", "text")
    val fractionalIds = Seq((7.5, "the quick brown fox jumps")).toDF("doc_id", "text")
    for (probes <- Seq(stringIds, fractionalIds)) {
      val e = intercept[IllegalArgumentException](
        Dedup.contaminationPairs(corpus, probes, "doc_id", "text"))
      assert(e.getMessage.contains("'doc_id'") && e.getMessage.contains("integral"),
        e.getMessage)
    }
    // every integral width is accepted and reported as a long p_id
    val intIds = Seq((7, "the quick brown fox jumps")).toDF("doc_id", "text")
    val hit = Dedup.contaminationPairs(corpus, intIds, "doc_id", "text",
      shingleK = 8, minOverlap = 1).select("p_id").as[Long].collect()
    assert(hit.toSeq == Seq(7L))
  }

  test("vocab queries from the persisted postings == vocab queries from the corpus") {
    // the r14 srch_bm25_idx/bulk optimization derives the query vocab
    // from Σ tf over the postings instead of re-tokenizing the corpus;
    // the equivalence silently breaks if writeBm25Index's tf semantics
    // ever change (capping, sublinear tf) — pin it on a fixture whose
    // ranking exercises ties, repeated terms and the empty-doc sentinel
    import graft.operators.Search
    val df = (corpus ++ Seq((9000L, ""), (9001L, "   "),
      (9002L, "spark spark spark join join")))
      .toDF("doc_id", "text")
    Search.writeBm25Index(df, "doc_id", "text", "t_vocab_parity", buckets = 4)
    def rows(d: DataFrame): Seq[(Long, Seq[String])] =
      d.select("query_id", "terms").as[(Long, Seq[String])].collect()
        .toSeq.sortBy(_._1)
    val fromCorpus = rows(graft.queries.PipelineQueries.vocabQueriesOf(df))
    val fromPostings = rows(graft.queries.PipelineQueries
      .vocabQueriesFromPostings(spark, "t_vocab_parity"))
    assert(fromCorpus == fromPostings,
      s"corpus=$fromCorpus vs postings=$fromPostings")
    graft.sources.Sinks.dropTableAndLocation(spark, "t_vocab_parity_postings")
    Seq("t_vocab_parity_df", "t_vocab_parity_stats").foreach { t =>
      if (spark.catalog.tableExists(t))
        graft.sources.Sinks.dropTableAndLocation(spark, t)
    }
  }

  test("bulk bm25 df cap == deleting capped terms from every query (exact equivalence)") {
    import graft.operators.Search
    // maxDfFrac is an EXPLICIT approximation, but an algebraically
    // clean one: each term's idf depends only on its own df and the
    // global nDocs, so dropping head terms from the _df side is
    // bit-identical to deleting those terms from every query. This pin
    // is what makes the knob safe to reach for at scale.
    val df = corpus.toDF("doc_id", "text")
    Search.writeBm25Index(df, "doc_id", "text", "t_dfcap_bm25", buckets = 4)
    val queries = df.select(col("doc_id").as("query_id"),
      array_distinct(graft.functions.TextFunctions.tokens(col("text"))).as("terms"))
    val n = df.count()
    val frac = 0.5
    val maxDf = math.floor(frac * n).toLong
    val keep = spark.table("t_dfcap_bm25_df").where(col("df") <= maxDf)
      .select("token").as[String].collect().sorted
    // the cap must actually bite on this corpus, else the test is vacuous
    val vocabSize = spark.table("t_dfcap_bm25_df").count()
    assert(keep.length < vocabSize, s"cap dropped nothing (df<=$maxDf keeps all $vocabSize)")
    val filteredQ = queries.select(col("query_id"),
      array_intersect(col("terms"), lit(keep)).as("terms"))
    def rows(d: DataFrame): Seq[(Long, Long, Long, Double)] =
      d.select("query_id", "doc_id", "rnk", "score")
        .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    val capped = rows(Search.bm25TopKFromIndexBulk(
      spark, "t_dfcap_bm25", queries, k = 5, maxDfFrac = frac))
    val filtered = rows(Search.bm25TopKFromIndexBulk(
      spark, "t_dfcap_bm25", filteredQ, k = 5))
    assert(capped == filtered)
    // and the default really is exact (no silent capping at 1.0)
    val exact = rows(Search.bm25TopKFromIndexBulk(spark, "t_dfcap_bm25", queries, k = 5))
    val driver = rows(Search.bm25TopKFromIndex(spark, "t_dfcap_bm25", queries, k = 5))
    assert(exact == driver)
    spark.catalog.clearCache()
  }

  test("bulk bm25 saltChunks: results bit-identical, only the exchange shape changes") {
    import graft.operators.Search
    // A hot token is one indivisible hash key: its df·qf join rows
    // serialize onto one task (AQE skew-split can't split a bucketed
    // side). saltChunks spreads each token over doc-hashed sub-keys —
    // the pairs joined, and therefore the quantized score sums, must
    // be EXACTLY the ones the unsalted plan produces.
    val df = corpus.toDF("doc_id", "text")
    Search.writeBm25Index(df, "doc_id", "text", "t_salt_bm25", buckets = 4)
    val queries = df.select(col("doc_id").as("query_id"),
      array_distinct(graft.functions.TextFunctions.tokens(col("text"))).as("terms"))
    def rows(d: DataFrame): Seq[(Long, Long, Long, Double)] =
      d.select("query_id", "doc_id", "rnk", "score")
        .as[(Long, Long, Long, Double)].collect().toSeq.sorted
    val plain = rows(Search.bm25TopKFromIndexBulk(spark, "t_salt_bm25", queries, k = 5))
    val salted = rows(Search.bm25TopKFromIndexBulk(spark, "t_salt_bm25", queries, k = 5,
      saltChunks = 8))
    assert(salted == plain)
    // the AUTO default (saltChunks = 0) sizes from the measured max
    // df·qf — on a fixture whose heaviest key is tiny it must resolve
    // to the exchange-free chunks=1 plan AND the identical rows
    val auto = rows(Search.bm25TopKFromIndexBulk(spark, "t_salt_bm25", queries, k = 5,
      saltChunks = 0))
    assert(auto == plain)
    spark.catalog.clearCache()
  }

  test("saltChunksFor: ceil-div sizing clamped to [1, 64]") {
    import graft.operators.ExplosiveJoin.saltChunksFor
    assert(saltChunksFor(0L) == 1)            // empty join still plans
    assert(saltChunksFor(1L) == 1)
    assert(saltChunksFor(4000000L) == 1)      // exactly one task's budget
    assert(saltChunksFor(4000001L) == 2)      // first row past it salts
    assert(saltChunksFor(40000000L) == 10)
    assert(saltChunksFor(10000000000L) == 64) // cap: fan-out cost floor
    // the sf0.1 bulk regime that motivated the knob: max df·qf ≈
    // (N/2)² at N = 50k docs → 6.25e8 rows → the 64-chunk cap
    assert(saltChunksFor(625000000L) == 64)
    assert(saltChunksFor(7L, targetPerTask = 3L) == 3)
  }

  test("evalBinary: single-class frame yields null AUC, never NaN/Infinity (r9 defect pin)") {
    import graft.operators.Training
    val allPos = Seq((9000L, 1), (2000L, 1), (5000L, 1)).toDF("pq", "y")
    val gp = Training.evalBinary(allPos, "pq", col("y") === 1).collect()(0)
    assert(gp.getLong(4) == 3L && gp.getLong(5) == 0L) // pos=3, neg=0
    assert(gp.isNullAt(7), s"single-class AUC must be null, got ${gp.get(7)}")
    val allNeg = Seq((9000L, 0), (2000L, 0)).toDF("pq", "y")
    val gn = Training.evalBinary(allNeg, "pq", col("y") === 1).collect()(0)
    assert(gn.getLong(4) == 0L && gn.getLong(5) == 2L)
    assert(gn.isNullAt(7))
  }

  test("funnelCounts: empty event log yields zero counts per step, never nulls (r9 defect pin)") {
    import graft.operators.Funnel
    val empty = Seq.empty[(Long, Long, String, java.sql.Timestamp)]
      .toDF("event_id", "user_id", "event_type", "ts")
    val got = Funnel.funnelCounts(empty, "user_id", "event_type", "ts",
        "event_id", Seq("signup", "click", "purchase"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq.sortBy(_._1)
    assert(got == Seq((1, "signup", 0L), (2, "click", 0L), (3, "purchase", 0L)))
  }

  // ---- editDistancePairs: brute-force completeness oracle ---------------

  private def serialLevenshtein(a: String, b: String): Int = {
    val (n, m) = (a.length, b.length)
    var prev = Array.tabulate(m + 1)(identity)
    var cur = new Array[Int](m + 1)
    var i = 1
    while (i <= n) {
      cur(0) = i
      var j = 1
      while (j <= m) {
        val sub = prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1)
        cur(j) = math.min(sub, math.min(prev(j) + 1, cur(j - 1) + 1))
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(m)
  }

  /** Adversarial string set for the prefix-filter machinery: empty and
    * sub-q strings (sentinel block), heavy gram repetition (occurrence
    * numbering — "aaaa…" variants defeat set-of-grams schemes), planted
    * mutations at every distance 0..6, plus random strings over a tiny
    * alphabet so gram df values collide hard. */
  private lazy val editCorpus: Seq[(Long, String)] = {
    val rnd = new scala.util.Random(42)
    val alpha = "abc"
    def rs(n: Int): String = Seq.fill(n)(alpha(rnd.nextInt(alpha.length))).mkString
    def mutate(s: String, edits: Int): String = {
      var cur = s
      (0 until edits).foreach { _ =>
        val op = rnd.nextInt(3)
        val p = if (cur.isEmpty) 0 else rnd.nextInt(cur.length)
        cur = op match {
          case 0 if cur.nonEmpty => cur.updated(p, alpha(rnd.nextInt(alpha.length)))
          case 1 => cur.substring(0, p) + alpha(rnd.nextInt(alpha.length)) + cur.substring(p)
          case _ if cur.nonEmpty => cur.substring(0, p) + cur.substring(math.min(p + 1, cur.length))
          case _ => cur + alpha(rnd.nextInt(alpha.length))
        }
      }
      cur
    }
    val base = Seq("", "a", "ab", "aaaa", "aaaaaaaaaaaa", "abababab",
      rs(6), rs(10), rs(15), rs(20), rs(20), rs(30))
    val mutants = base.zipWithIndex.flatMap { case (s, i) =>
      (0 to 6).map(e => mutate(s, e))
    }
    (base ++ mutants ++ Seq.fill(20)(rs(8 + rnd.nextInt(12))))
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }
  }

  test("editDistancePairs == brute-force banded levenshtein (completeness incl. short/sentinel + repeated-gram paths)") {
    val df = editCorpus.toDF("id", "s")
    for ((k, q) <- Seq((2, 2), (4, 2), (1, 3), (0, 2))) {
      val want = (for {
        (ia, sa) <- editCorpus; (ib, sb) <- editCorpus
        if ia < ib && math.abs(sa.length - sb.length) <= k
        d = serialLevenshtein(sa, sb) if d <= k
      } yield (ia, ib, d.toLong)).toSet
      val got = Dedup.editDistancePairs(df, "id", "s", maxDist = k, q = q)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == want,
        s"k=$k q=$q: missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    }
  }

  test("crossCorpusEditPairs == brute-force cross levenshtein (shared union-df rarity order)") {
    val (l, r) = editCorpus.partition(_._1 % 2 == 0)
    val ldf = l.toDF("id", "s")
    val rdf = r.toDF("id", "s")
    for ((k, q) <- Seq((2, 2), (4, 2), (1, 3))) {
      val want = (for {
        (ia, sa) <- l; (ib, sb) <- r
        if math.abs(sa.length - sb.length) <= k
        d = serialLevenshtein(sa, sb) if d <= k
      } yield (ia, ib, d.toLong)).toSet
      val got = Dedup.crossCorpusEditPairs(ldf, rdf, "id", "s",
          maxDist = k, q = q)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
      assert(got == want,
        s"k=$k q=$q: missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    }
  }

  test("editDistancePairs: maxBlockSize caps degenerate prefixes (recall-lossy, subset of exact)") {
    val df = editCorpus.toDF("id", "s")
    val exact = Dedup.editDistancePairs(df, "id", "s", maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Dedup.editDistancePairs(df, "id", "s", maxDist = 2,
        maxBlockSize = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.subsetOf(exact))
  }

  // ---- ED-join selectivity law on Zipfian text (VERDICT r12 #4) ---------

  /** Seeded in-JVM equivalent of tools/gen_zipf.py's corpus law:
    * syllable surface forms (bijective base-100 numeration over 100 CV
    * syllables, so head words are SHORT like real stopwords and the
    * character n-gram entropy is prose-like) drawn rank^-1.1 Zipf via
    * a bounded inverse CDF. The driver gate corpus saturates the
    * prefix filter (a data law of its 3-letter alphabet), so only a
    * realistic token distribution can exercise the SELECTIVE path. */
  private lazy val zipfCorpus: Seq[(Long, String)] = {
    val rnd = new scala.util.Random(20260815)
    val syll = for (c <- "bcdfghjklmnpqrstvwxz"; v <- "aeiou") yield s"$c$v"
    def word(i0: Int): String = {
      var i = i0 + 1
      val sb = new StringBuilder
      while (i > 0) { i -= 1; sb.insertAll(0, syll(i % 100)); i /= 100 }
      sb.toString
    }
    val vocab = 2000
    val w = (1 to vocab).map(r => math.pow(r, -1.1))
    val total = w.sum
    val cum = w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
    def draw(): Int = {
      val i = java.util.Arrays.binarySearch(cum, rnd.nextDouble())
      if (i >= 0) i else -i - 1
    }
    (0L until 400L).map { i =>
      (i, Seq.fill(10 + rnd.nextInt(8))(word(draw())).mkString(" "))
    }
  }

  test("ED-join prefix filter: candidates <= 5% of all-pairs on Zipf text; common-first order saturates") {
    val (k, q) = (2, 3)
    val pfx = k * q + 1
    val df = zipfCorpus.toDF("id", "s")
    val base = df.select(col("id"), col("s").as("__s"),
      graft.functions.NativeExprs.posQGramTokensNative(col("s"), q).as("__tok"))
    def pairsOf(hist: Array[Long]): Long = hist.map(b => b * (b - 1) / 2).sum
    // The PLAN'S OWN prefix-membership histogram (editPrefixes is the
    // exact frame editDistancePairs blocks on): candidate pairs the
    // block join generates = sum over tokens of C(bsz, 2).
    val cands = pairsOf(Dedup.editPrefixes(base, "id", pfx)
      .groupBy("tok").agg(count(lit(1)).as("bsz"))
      .select("bsz").as[Long].collect())
    val n = zipfCorpus.size.toLong
    val allPairs = n * (n - 1) / 2
    assert(cands * 100 <= allPairs * 5,
      s"prefix filter lost selectivity: candidates=$cands all-pairs=$allPairs " +
        s"(${cands * 100.0 / allPairs}%)")
    // CONTRAST — the regression this spec exists to catch: scramble
    // the rarity order to COMMON-first (prefix = each string's most
    // frequent grams) and the same histogram saturates. If a future
    // change broke the ascending-df sort, `cands` would land here and
    // the 5% assertion above goes red.
    val toks = base.select(col("id"), explode(col("__tok")).as("tok"))
    val dfTab = toks.groupBy("tok").agg(count(lit(1)).as("__df"))
    val scram = pairsOf(toks.join(dfTab, "tok")
      .groupBy("id")
      .agg(slice(reverse(array_sort(collect_list(struct(col("__df"), col("tok"))))),
        1, pfx).as("__p"))
      .select(col("id"), explode(col("__p")).as("__pe"))
      .select(col("id"), col("__pe.tok").as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("bsz"))
      .select("bsz").as[Long].collect())
    assert(scram * 100 > allPairs * 30,
      s"contrast arm lost its power: scrambled candidates=$scram all-pairs=$allPairs")
  }

  // ---- image dHash dedup: real-decode path, planted PNG near-dups -------

  test("imageNearDupPairs: planted PNG near-dups pair; brute-force serial dHash oracle agrees") {
    import java.awt.image.BufferedImage
    def png(px: Array[Array[Int]]): Array[Byte] = {
      val h = px.length; val w = px(0).length
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, px(y)(x))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val rnd = new scala.util.Random(11)
    def noise(w: Int, h: Int): Array[Array[Int]] =
      Array.fill(h, w)(rnd.nextInt(0x1000000))
    def shift(px: Array[Array[Int]], d: Int): Array[Array[Int]] =
      px.map(_.map { rgb =>
        def ch(v: Int) = math.min(255, math.max(0, v + d))
        (ch((rgb >> 16) & 0xff) << 16) | (ch((rgb >> 8) & 0xff) << 8) | ch(rgb & 0xff)
      })
    val bases = (0 until 6).map(_ => noise(36, 32))
    // plants: a re-encode (identical pixels), a uniform brightness
    // shift (gradient SIGNS survive -> hamming ~0), and for contrast
    // fresh noise images that share nothing.
    val imgs: Seq[(Long, Array[Array[Int]])] =
      bases.zipWithIndex.map { case (p, i) => (i.toLong, p) } ++
        Seq((100L, bases(0).map(_.clone())), (101L, shift(bases(1), 8)))
    val media = imgs.map { case (id, p) => (id, png(p)) }
      .toDF("media_id", "content")
    // independent serial oracle: pool the PIXEL ARRAYS (PNG is
    // lossless, so pixels == decoded payload) with the documented
    // integer law, assemble the 64 gradient bits, brute-force all
    // pairs at hamming <= 3.
    def serialDHash(px: Array[Array[Int]]): Long = {
      val h = px.length; val w = px(0).length
      val cells = Array.tabulate(8, 9) { (r, c) =>
        val y0 = r * h / 8; val y1 = math.max((r + 1) * h / 8, y0 + 1)
        val x0 = c * w / 9; val x1 = math.max((c + 1) * w / 9, x0 + 1)
        var sum = 0L
        for (y <- y0 until y1; x <- x0 until x1) {
          val v = px(y)(x)
          sum += ((v >> 16) & 0xff) + ((v >> 8) & 0xff) + (v & 0xff)
        }
        (sum / (3L * (x1 - x0) * (y1 - y0))).toInt
      }
      (0 until 64).foldLeft(0L) { (fp, k) =>
        if (cells(k / 8)(k % 8) < cells(k / 8)(k % 8 + 1)) fp | (1L << k) else fp
      }
    }
    val fps = imgs.map { case (id, p) => (id, serialDHash(p)) }
    val want = (for {
      (ia, fa) <- fps; (ib, fb) <- fps
      if ia < ib
      d = java.lang.Long.bitCount(fa ^ fb) if d <= 3
    } yield (ia, ib, d)).toSet
    val got = graft.operators.Dedup.imageNearDupPairs(media, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == want,
      s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    // the plants must actually surface, and unrelated noise must not
    assert(want.exists(p => p._1 == 0L && p._2 == 100L && p._3 == 0))
    assert(want.exists(p => p._1 == 1L && p._2 == 101L))
    assert(!want.exists(p => p._1 < 6L && p._2 < 6L))
  }

  // ---- frame-level (video) near-dup: planted shared scenes --------------

  test("frameNearDupPairs: media sharing a frame-aligned scene pair; serial frame-set oracle agrees") {
    val rnd = new scala.util.Random(23)
    val fb = 16
    def frames(n: Int): Array[Byte] = {
      val a = new Array[Byte](n * fb); rnd.nextBytes(a); a
    }
    // a 3-frame "scene" embedded frame-aligned in two different clips,
    // a third clip sharing nothing, a fourth sharing only ONE frame
    // (below minShared)
    val scene = frames(3)
    val clipA = frames(2) ++ scene ++ frames(2)
    val clipB = frames(4) ++ scene ++ frames(1)
    val clipC = frames(7)
    val clipD = frames(3) ++ scene.take(fb) ++ frames(3)
    val media = Seq((0L, clipA), (1L, clipB), (2L, clipC), (3L, clipD))
    val df = media.toDF("media_id", "content")
    val stride = 1
    // independent serial oracle: the documented frame law + the
    // serial grid/dhash from the image test, distinct sets, pair
    // counts
    def serialFrameSet(bytes: Array[Byte]): Set[Long] = {
      val nIdx = math.max(bytes.length / fb, 1)
      (0 until nIdx).filter(_ % stride == 0).map { i =>
        val lo = i * fb
        val hi = math.min(lo + fb, bytes.length)
        val chunk = java.util.Arrays.copyOfRange(bytes, lo, hi)
        // byte-pool grid law (no codec for noise bytes), then dhash
        val cells = new Array[Int](72)
        if (chunk.nonEmpty) {
          for (c <- 0 until 72) {
            val l = c * chunk.length / 72
            val h = math.max((c + 1) * chunk.length / 72, l + 1)
            cells(c) = ((l until h).map(j => (chunk(j) & 0xff).toLong).sum / (h - l)).toInt
          }
        }
        (0 until 64).foldLeft(0L) { (fp, k) =>
          if (cells(k / 8 * 9 + k % 8) < cells(k / 8 * 9 + k % 8 + 1)) fp | (1L << k) else fp
        }
      }.toSet
    }
    val sets = media.map { case (id, b) => (id, serialFrameSet(b)) }
    val want = (for {
      (ia, sa) <- sets; (ib, sb) <- sets
      if ia < ib
      shared = (sa & sb).size if shared >= 2
    } yield (ia, ib, shared.toLong)).toSet
    val got = graft.operators.Dedup.frameNearDupPairs(df, frameBytes = fb,
        stride = stride, minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want,
      s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    // the plant must surface with the full scene count, and the
    // one-frame overlap must NOT
    assert(want.exists(p => p._1 == 0L && p._2 == 1L && p._3 >= 3L))
    assert(!want.exists(p => p._2 == 2L || p._1 == 2L))
    assert(!want.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("CacheBridge.unpersistPlanCaches releases exactly the query-scoped pins of a consumed plan") {
    import org.apache.spark.sql.graftbridge.CacheBridge
    spark.catalog.clearCache()
    // an UNRELATED cache that must survive the surgical release
    val unrelated = docsDF.select("doc_id").cache()
    unrelated.count()
    val media = Multimodal.fromDocuments(docsDF, "doc_id", "text", "text")
    val result = graft.operators.Dedup.frameNearDupPairs(media,
      frameBytes = 16, stride = 1, minShared = 2)
    result.write.format("noop").mode("overwrite").save() // consume
    assert(spark.sparkContext.getPersistentRDDs.size >= 2,
      "expected the operator's pin + the unrelated pin")
    val released = CacheBridge.unpersistPlanCaches(result)
    assert(released >= 1, "the operator's fingerprint cache must be found and released")
    // idempotent: a second call finds nothing
    assert(CacheBridge.unpersistPlanCaches(result) == 0)
    // the unrelated cache is untouched — surgical, not clearCache():
    // releasing it NOW must still find it (and cleans up the fixture)
    assert(CacheBridge.unpersistPlanCaches(unrelated.toDF()) == 1)
  }
}
