package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.functions._
import graft.functions.NativeExprs

/** Every `NativeExprs` expression evaluates the same through Janino-compiled
  * whole-stage code as through the interpreted path, and the compiled code
  * calls the expression's `compute` directly.
  *
  * The inputs sit behind a `repartition`: over a bare local relation the
  * optimizer (`ConvertToLocalRelation`) evaluates the projection through the
  * interpreted path and no `doGenCode` is ever compiled. With
  * `spark.sql.codegen.fallback=false` a Janino error fails the query instead of
  * silently falling back to interpretation. */
class NativeExprsCodegenSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("native-exprs-codegen-spec")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val rnd = new scala.util.Random(1313)

  // Zipf-like vocabulary draw: word r with weight ~ 1/r
  private val vocab = Vector("the", "a", "of", "data", "spark", "café", "naïve",
    "😀", "x", "tokens", "über", "ok", "z", "dedup", "hash", "q", "wörd", "日本")
  private def zipfWord(): String = {
    val r = math.min(vocab.size, math.floor(math.pow(vocab.size + 1.0, rnd.nextDouble())).toInt)
    vocab(r - 1)
  }
  private def zipfText(): String =
    Seq.fill(rnd.nextInt(24))(zipfWord()).mkString(if (rnd.nextInt(5) == 0) " \t " else " ")
  private def vec(n: Int): Seq[Double] = Seq.fill(n)(rnd.nextGaussian())

  private val texts: Seq[String] = Seq(null, "", "   ", " \t\n ", "\tlead tab word",
    "word", "😀", "a😀b 😀😀 c", "the the the the", "a b", "  padded  text  ") ++
    Seq.fill(40)(zipfText())

  /** id, two texts, their space-split token arrays, two vectors, a long key;
    * every column is null on some row. */
  private lazy val input: DataFrame = {
    import spark.implicits._
    val rows = texts.indices.map { i =>
      val t = texts(i)
      val u = if (i % 7 == 3) null else if (i % 3 == 0) t else texts((i * 5 + 2) % texts.size)
      val v = if (i % 11 == 5) null else vec(if (i % 9 == 0) 0 else 1 + rnd.nextInt(12))
      val w = if (i % 13 == 6) null else vec(1 + rnd.nextInt(12))
      val key: java.lang.Long =
        if (i % 10 == 4) null else java.lang.Long.valueOf(rnd.nextLong() >> rnd.nextInt(60))
      (i, t, u, v, w, key)
    }
    rows.toDF("id", "t", "u", "v", "w", "key")
      .withColumn("ta", split(col("t"), " "))
      .withColumn("ua", split(col("u"), " "))
      .repartition(3)
  }

  private val t = col("t")
  private val u = col("u")
  private val longWeights = Array.tabulate(33)(i => (i * 2654435761L) % 4001 - 2000)

  /** (class name, expression over the input columns) for every expression. */
  private val cases: Seq[(String, Column)] = Seq(
    "MinHashSigExpr" -> NativeExprs.minhashSigNative(col("ta"), 16),
    "MinHashSigTextExpr" -> NativeExprs.minhashSigTextNative(t, 3, 16),
    "MinHashBandBucketsExpr" -> NativeExprs.minhashBandBucketsNative(t, 3, 16, 4, 4),
    "DotProductExpr" -> NativeExprs.dotNative(col("v"), col("w")),
    "HashedLinearScoreExpr" -> NativeExprs.hashedLinearScoreNative(t, 64),
    "WeightedLinearScoreExpr" ->
      NativeExprs.weightedLinearScoreNative(t, Array.tabulate(64)(i => i % 2001 - 1000)),
    "SpanHashesExpr" -> NativeExprs.spanHashesNative(t, 2),
    "PosQGramTokensExpr" -> NativeExprs.posQGramTokensNative(t, 2),
    "HashedMarginExpr" -> NativeExprs.hashedMarginNative(t, longWeights),
    "HashedMarginsExpr" ->
      NativeExprs.hashedMarginsNative(t, Array(longWeights, longWeights.map(_ * 3 - 7))),
    "NgramBucketsExpr" -> NativeExprs.ngramBucketsNative(t, 2, 97),
    "NgramBucketsExpr" -> NativeExprs.hashedBucketsNative(t, 97),
    "NgramWeightSumExpr" -> NativeExprs.ngramWeightSumNative(t, 2, longWeights),
    "Bm25ScoresExpr" -> NativeExprs.bm25ScoresNative(t,
      Seq((1L, "the", 0.7), (1L, "spark", 2.1), (2L, "the", 0.7), (2L, "😀", 3.3)),
      1.2, 0.75, 6.5),
    "HllRegRhoExpr" -> NativeExprs.hllRegRhoNative(t, 6),
    "ArgminCentroidExpr" -> NativeExprs.argminCentroidNative(col("v"),
      Seq(Seq(0.5, -0.2, 0.1), Seq(-1.0, 0.3), Seq(0.0, 0.0, 0.0, 0.4)), 1),
    "SimHashMd5Expr" -> NativeExprs.simhashMd5Native(col("ta")),
    "HyperplaneBucketLcgExpr" -> NativeExprs.hyperplaneBucketLcgNative(col("v"), 12),
    "LevenshteinBandedExpr" -> NativeExprs.levenshteinBandedNative(t, u, 4),
    "SharedShingleCountsExpr" -> NativeExprs.sharedShingleCountsNative(t, 3,
      Seq(7L -> "the data of spark", 9L -> "😀 café", 11L -> "")),
    "SegmentKeysExpr" -> NativeExprs.segmentKeysNative(t, 3),
    "WindowKeysExpr" -> NativeExprs.windowKeysNative(t, 4, 3),
    "RandomProjectionLcgExpr" -> NativeExprs.randomProjectionLcgNative(col("v"), 5),
    "WinnowMd5Expr" -> NativeExprs.winnowMd5Native(t, 4, 3),
    "MinMd5ShingleExpr" -> NativeExprs.minMd5ShingleNative(t, 4),
    "JaccardExpr" -> NativeExprs.jaccardNative(col("ta"), col("ua")),
    "JaccardTextsExpr" -> NativeExprs.jaccardTextsNative(t, u, 3),
    "JaccardTextsExpr" -> NativeExprs.jaccardTextsNative(t, u, 9),
    "JaccardTokenSetsExpr" -> NativeExprs.jaccardTokenSetsNative(t, u),
    "RepStatsExpr" -> NativeExprs.repStatsNative(t),
    "CharEntropyExpr" -> NativeExprs.charEntropyNative(t),
    "BloomPositionsExpr" -> NativeExprs.bloomPositionsNative(col("key"), 1L << 12, 5),
    "BloomMightContainExpr" -> NativeExprs.bloomMightContainNative(col("key"),
      Array.tabulate(64)(i => 0x5555aaaa5555aaaaL * (i + 1)), 3),
    "BpeEncodeExpr" -> NativeExprs.bpeEncodeNative(t,
      Seq("t" -> "h", "th" -> "e", "a" -> "</w>", "d" -> "a"))
  )

  /** Rows of `e` over the input, sorted by id, and the whole-stage code of
    * the plan. The session is shared with other suites, so each setting is
    * put back as it was. */
  private def run(e: Column, codegen: Boolean): (Array[Row], String) = {
    val conf = spark.conf
    val settings = Map(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.wholeStage" -> codegen.toString,
      "spark.sql.codegen.factoryMode" -> (if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN"))
    val saved = settings.keys.map(k => k -> conf.getOption(k))
    settings.foreach { case (k, v) => conf.set(k, v) }
    try {
      val df = input.select(col("id"), e.as("r"))
      val code = codegenStringSeq(df.queryExecution.executedPlan).map(_._2).mkString("\n")
      (df.collect().sortBy(_.getInt(0)), code)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("every NativeExprs case class is in the table") {
    val declared = Class.forName("graft.functions.NativeExprs").getDeclaredClasses.toSeq
      .filter(c => classOf[org.apache.spark.sql.catalyst.expressions.Expression]
        .isAssignableFrom(c) && !java.lang.reflect.Modifier.isAbstract(c.getModifiers))
      .map(_.getSimpleName).toSet
    assert(declared.nonEmpty)
    assert(declared == cases.map(_._1).toSet)
  }

  for (((name, e), i) <- cases.zipWithIndex) {
    test(s"codegen == interpreted: $name #$i") {
      val (interpreted, _) = run(e, codegen = false)
      val (compiled, _) = run(e, codegen = true)
      assert(interpreted.length == texts.size)
      assert(compiled.toSeq == interpreted.toSeq)
    }

    // whole-stage code holds the call only if the projection was compiled
    // (a CodegenFallback expression keeps its projection out of it)
    test(s"compiled code calls compute: $name #$i") {
      val (_, code) = run(e, codegen = true)
      val cls = java.util.regex.Pattern.quote(s"graft.functions.NativeExprs$$$name")
      if (name == "DotProductExpr") {
        assert(!code.contains(s"graft.functions.NativeExprs$$$name"), code)
        assert(code.contains(".getDouble("), code)
      } else {
        // `value = ((Cls) references[i] /* comment */).compute(args);` with
        // nothing between `=` and the reference
        val call = s"""= \\(\\($cls\\) references\\[\\d+\\] /\\* \\w+ \\*/\\)\\.compute\\(""".r
        assert(call.findFirstIn(code).nonEmpty, code)
      }
    }
  }
}
