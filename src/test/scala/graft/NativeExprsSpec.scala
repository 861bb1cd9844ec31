package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.functions.NativeExprs

/** The native expressions must be BIT-IDENTICAL to the builtin
  * higher-order-function forms they replace — that equivalence is what
  * makes swapping them into oracle-checked queries safe. */
class NativeExprsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("native-exprs-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private lazy val rnd = new scala.util.Random(31)

  test("charEntropyNative matches a driver-side recomputation incl. unicode and edge cases") {
    def oracle(s: String): Double = {
      if (s.isEmpty) return 0.0
      val cps = s.codePoints().toArray
      val counts = cps.groupBy(identity).view.mapValues(_.length.toLong)
        .toSeq.sortBy(_._1)
      def log2(x: Long): Double =
        if ((x & (x - 1)) == 0L) java.lang.Long.numberOfTrailingZeros(x).toDouble
        else math.log(x.toDouble) / 0.6931471805599453
      val n = cps.length.toLong
      log2(n) - counts.map { case (_, c) => c.toDouble * log2(c) }.sum / n
    }
    val fixtures = Seq("", "a", "aaaa", "abab", "abcd", "hello world",
      "aábc€😀😀", "the quick brown fox") ++
      (0 until 50).map(_ => rnd.alphanumeric.take(rnd.nextInt(80)).mkString)
    val got = fixtures.zipWithIndex.map { case (t, i) => (i, t) }
      .toDF("i", "t")
      .select(col("i"), NativeExprs.charEntropyNative(col("t")).as("e"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    fixtures.zipWithIndex.foreach { case (t, i) =>
      assert(math.abs(got(i) - oracle(t)) < 1e-12, s"'$t'")
    }
    // sanity: uniform > skewed
    assert(got(fixtures.indexOf("abcd")) > got(fixtures.indexOf("abab")))
    assert(got(fixtures.indexOf("aaaa")) == 0.0)
  }

  test("jaccardNative == size(array_intersect)/size(array_union) on random token arrays") {
    val vocab = Vector("a", "b", "c", "dd", "ee", "fff", "gg", "h", "ii", "jj")
    val rows = (0 until 300).map { i =>
      (i.toLong,
        Seq.fill(1 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))),
        Seq.fill(1 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))))
    }
    val df = rows.toDF("id", "ta", "tb")
      .select(col("id"),
        array_distinct(col("ta")).as("a"), array_distinct(col("tb")).as("b"))
    val cmp = df.select(
      NativeExprs.jaccardNative(col("a"), col("b")).as("native"),
      (size(array_intersect(col("a"), col("b"))).cast("double") /
        size(array_union(col("a"), col("b")))).as("builtin"))
      .collect()
    cmp.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("dotNative == aggregate(zip_with) bit-for-bit on random vectors") {
    val rows = (0 until 200).map(i => (i.toLong,
      Array.fill(37)(rnd.nextDouble() * 2 - 1), Array.fill(37)(rnd.nextDouble() * 2 - 1)))
    val df = rows.toDF("id", "a", "b")
    val cmp = df.select(
      NativeExprs.dotNative(col("a"), col("b")).as("native"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x).as("builtin"))
      .collect()
    cmp.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("minMd5ShingleNative == array_min(transform(charShingles, md5))") {
    import graft.functions.TextFunctions
    val texts = (0 until 100).map { i =>
      val len = 1 + rnd.nextInt(60)
      (i.toLong, Seq.fill(len)(('a' + rnd.nextInt(26)).toChar).mkString)
    }
    val df = texts.toDF("id", "text")
    val cmp = df.select(
      NativeExprs.minMd5ShingleNative(col("text"), 8).as("native"),
      array_min(transform(TextFunctions.charShingles(col("text"), 8),
        s => md5(s.cast("binary")))).as("builtin"))
      .collect()
    cmp.foreach(r => assert(r.getString(0) == r.getString(1)))
  }

  test("minhashSigTextNative == minhashSigNative(charShingles) incl. short and non-ASCII text") {
    import graft.functions.TextFunctions
    val texts = (0 until 120).map { i =>
      val len = 1 + rnd.nextInt(60)
      val base = Seq.fill(len)(('a' + rnd.nextInt(26)).toChar).mkString
      // every third text gets multi-byte chars to exercise the fallback
      (i.toLong, if (i % 3 == 0) base.replace('a', 'ä').replace('b', '‰') else base)
    }
    val df = texts.toDF("id", "text")
    val cmp = df.select(
      NativeExprs.minhashSigTextNative(col("text"), 8, 32).as("direct"),
      NativeExprs.minhashSigNative(TextFunctions.charShingles(col("text"), 8), 32).as("viaShingles"))
      .collect()
    cmp.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
  }

  test("simhashMd5Native matches a serial MessageDigest reimplementation") {
    def ref(tokens: Seq[String]): Long = {
      val counts = new Array[Int](64)
      val md = java.security.MessageDigest.getInstance("MD5")
      tokens.foreach { t =>
        md.reset()
        val d = md.digest(t.getBytes("UTF-8"))
        for (b <- 0 until 64)
          if (((d(b >> 3) >> (7 - (b & 7))) & 1) == 1) counts(b) += 1 else counts(b) -= 1
      }
      (0 until 64).foldLeft(0L)((acc, b) => if (counts(b) > 0) acc | (1L << (63 - b)) else acc)
    }
    val vocab = Vector("spark", "scan", "join", "the", "a", "merge", "row", "key")
    val rows = (0 until 50).map(i =>
      (i.toLong, Seq.fill(3 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size)))))
    val got = rows.toDF("id", "toks")
      .select(col("id"), NativeExprs.simhashMd5Native(col("toks")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { case (id, toks) => assert(got(id) == ref(toks), s"id=$id") }
  }

  test("hyperplaneBucketLcgNative matches the Lehmer-LCG reimplementation; buckets bounded") {
    val M = 2147483647L
    def comp(seed: Long, j: Int, d: Int): Double = {
      val x = Math.floorMod(seed * 1000003L + j * 8191L + d * 127L + 1L, M)
      val h2 = (48271L * ((48271L * x) % M)) % M
      (h2 % 1000L).toDouble / 1000.0 - 0.5
    }
    def ref(v: Array[Double], bits: Int, seed: Long): Long = {
      var bucket = 0L
      for (j <- 0 until bits) {
        var dot = 0.0
        for (d <- v.indices) dot += v(d) * comp(seed, j, d)
        if (dot > 0) bucket |= (1L << j)
      }
      bucket
    }
    val rows = (0 until 80).map(i => (i.toLong, Array.fill(16)(rnd.nextDouble() * 2 - 1)))
    val got = rows.toDF("id", "v")
      .select(col("id"), NativeExprs.hyperplaneBucketLcgNative(col("v"), 5, 43L).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { case (id, v) =>
      assert(got(id) == ref(v, 5, 43L), s"id=$id")
      assert(got(id) >= 0 && got(id) < 32)
    }
  }

  test("winnowMd5Native matches the per-window rightmost-argmin reimplementation") {
    def ref(text: String, k: Int, w: Int): Seq[(Int, String)] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val n = text.length
      val m = math.max(1, n - k + 1)
      val hs = (0 until m).map { i =>
        md.reset()
        md.digest(text.substring(i, math.min(i + k, n)).getBytes("UTF-8"))
          .map(b => f"${b & 0xff}%02x").mkString
      }
      val sel = scala.collection.mutable.LinkedHashSet.empty[Int]
      for (s <- 0 until math.max(1, m - w + 1)) {
        val e = math.min(s + w, m)
        val mn = (s until e).map(hs).min
        sel += (s until e).filter(j => hs(j) == mn).max
      }
      sel.toSeq.sorted.map(p => (p, hs(p)))
    }
    val texts = (0 until 40).map { i =>
      val len = 1 + rnd.nextInt(80)
      (i.toLong, Seq.fill(len)(('a' + rnd.nextInt(4)).toChar).mkString) // small alphabet -> hash ties
    }
    val got = texts.toDF("id", "text")
      .select(col("id"), NativeExprs.winnowMd5Native(col("text")).as("fp"))
      .collect().map { r =>
        r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)
          .map(g => (g.getInt(0), g.getString(1)))
      }.toMap
    texts.foreach { case (id, t) =>
      assert(got(id) == ref(t, 8, 4), s"id=$id text=$t")
      // selected positions strictly increase (ordered fingerprint)
      assert(got(id).map(_._1) == got(id).map(_._1).sorted)
    }
  }

  test("native expressions handle nulls like builtins (null in -> null out)") {
    val df = Seq((1L, null.asInstanceOf[Seq[String]], Seq("x"))).toDF("id", "a", "b")
    val r = df.select(
      NativeExprs.jaccardNative(col("a"), col("b")).isNull.as("jn"),
      NativeExprs.simhashMd5Native(col("a")).isNull.as("sn"))
      .collect().head
    assert(r.getBoolean(0) && r.getBoolean(1))
  }

  test("ngramBucketsNative == the builtin tokenize->gram->md5-bucket Column chain") {
    val dim = 4096
    val fixtures = Seq("", "one", "one two", "one two three four five",
      "  leading   and trailing  ", "tab\tand\nnewline mix", "a b a b a",
      "unicode façade café tokens here") ++
      (0 until 40).map(_ => Seq.fill(rnd.nextInt(12))(
        rnd.alphanumeric.take(1 + rnd.nextInt(8)).mkString).mkString(" "))
    for (n <- Seq(1, 2, 3)) {
      // the oracle-form Column chain: filtered tokens, grams joined by
      // one space, md5 high-60-bit bucket — the family law
      val toks = filter(split(trim(col("t")), "\\s+"), x => length(x) > 0)
      val want = when(size(toks) >= n,
        transform(sequence(lit(1), size(toks) - (n - 1)),
          i => conv(substring(md5(
            concat_ws(" ", slice(toks, i, lit(n)))), 1, 15), 16, 10)
            .cast("long") % dim))
        .otherwise(array().cast("array<long>"))
      val rows = fixtures.zipWithIndex.map { case (t, i) => (i, t) }
        .toDF("i", "t")
        .select(col("i"), NativeExprs.ngramBucketsNative(col("t"), n, dim).as("g"),
          want.as("w"))
        .collect()
      rows.foreach { r =>
        assert(r.getSeq[Long](1) == r.getSeq[Long](2),
          s"n=$n text=${fixtures(r.getInt(0))}")
      }
    }
    // n=1 reduces to the unigram family law (hashedBucketsNative)
    val uni = fixtures.zipWithIndex.map { case (t, i) => (i, t) }.toDF("i", "t")
      .select(NativeExprs.ngramBucketsNative(col("t"), 1, dim).as("a"),
        NativeExprs.hashedBucketsNative(col("t"), dim).as("b"))
      .collect()
    uni.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
  }

  test("ngramWeightSumNative == integer fold of element_at over ngramBucketsNative") {
    val dim = 512
    val lam = Array.tabulate(dim)(i => (i * 2654435761L) % 4001 - 2000)
    val fixtures = Seq("", "solo", "two words", "a b c d e f g") ++
      (0 until 30).map(_ => Seq.fill(rnd.nextInt(20))(
        rnd.alphanumeric.take(1 + rnd.nextInt(6)).mkString).mkString(" "))
    for (n <- Seq(1, 2)) {
      val lamLit = typedLit(lam.toSeq)
      val want = aggregate(
        transform(NativeExprs.ngramBucketsNative(col("t"), n, dim),
          b => element_at(lamLit, (b + 1).cast("int"))),
        lit(0L), (acc, x) => acc + x)
      val rows = fixtures.toDF("t")
        .select(NativeExprs.ngramWeightSumNative(col("t"), n, lam).as("g"),
          want.as("w")).collect()
      rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    }
  }

  test("jaccardTextsNative == jaccard(charShingles) exactly (ascii fast path, unicode fallback, edges)") {
    import graft.functions.TextFunctions.charShingles
    val texts = Seq("", "a", "ab", "abcdefgh", "abcdefghi", "aaaaaaaaaaaa",
      "the quick brown fox jumps", "àéîõü unicode façade", "😀😀 emoji ab",
      "tab\tand\nnewline", "nul\u0000byte ascii") ++
      (0 until 60).map(_ => rnd.alphanumeric.take(rnd.nextInt(60)).mkString)
    val pairs = for (i <- texts.indices; j <- texts.indices if (i + j) % 3 == 0)
      yield (texts(i), texts(j))
    for (k <- Seq(3, 8, 12)) {
      val got = pairs.toDF("a", "b").select(
        NativeExprs.jaccardTextsNative(col("a"), col("b"), k).as("fast"),
        NativeExprs.jaccardNative(charShingles(col("a"), k), charShingles(col("b"), k)).as("ref"))
        .collect()
      got.foreach { r =>
        assert(java.lang.Double.compare(r.getDouble(0), r.getDouble(1)) == 0, s"k=$k")
      }
    }
    // null in -> null out, like the array form
    val n = Seq((null.asInstanceOf[String], "x")).toDF("a", "b")
      .select(NativeExprs.jaccardTextsNative(col("a"), col("b"), 8).isNull).collect().head
    assert(n.getBoolean(0))
  }

  test("jaccardTokenSetsNative == jaccard(tokenSet) exactly incl. whitespace edges") {
    import graft.functions.TextFunctions.tokenSet
    val vocab = Vector("spark", "scan", "join", "the", "a", "of", "row", "key")
    val texts = Seq("", " ", "one", "a a a", "tab\there", "x\ny z",
      "  leading and trailing  ", "unicode façade tokens") ++
      (0 until 50).map(_ => Seq.fill(rnd.nextInt(15))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    val pairs = for (i <- texts.indices; j <- texts.indices if (i * 7 + j) % 4 == 0)
      yield (texts(i), texts(j))
    val got = pairs.toDF("a", "b").select(
      NativeExprs.jaccardTokenSetsNative(col("a"), col("b")).as("fast"),
      NativeExprs.jaccardNative(tokenSet(col("a")), tokenSet(col("b"))).as("ref"))
      .collect()
    got.foreach { r =>
      assert(java.lang.Double.compare(r.getDouble(0), r.getDouble(1)) == 0)
    }
  }
  test("spanHashesNative is bit-identical to the Column n-gram md5 chain") {
    import graft.functions.TextFunctions
    val vocab = Vector("spark", "scan", "join", "the", "a", "of", "tab\tsep",
      "uni\u00e9", "x")
    def doc(n: Int): String = Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val docs = (Seq("", " ", "   ", "one", "a b", "a a a a a a a a a a") ++
      (0 until 60).map(i => doc(rnd.nextInt(30)))).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    for (n <- Seq(2, 8)) {
      val toks = TextFunctions.tokens(col("text"))
      val ref = array_distinct(transform(TextFunctions.wordNgrams(toks, n),
        g => conv(substring(md5(g), 1, 15), 16, 10).cast("long")))
      val rows = docs.toDF("id", "text")
        .select(NativeExprs.spanHashesNative(col("text"), n).as("fast"),
          ref.as("ref"))
        .collect()
      rows.foreach { r =>
        assert(r.getSeq[Long](0).sorted == r.getSeq[Long](1).sorted, s"n=$n")
      }
    }
  }
}
