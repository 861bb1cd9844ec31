package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.NativeExprs.{DotProductExpr, HyperplaneBucketLcgExpr, JaccardExpr, MinHashSigExpr, MinHashSigTextExpr, SimHashMd5Expr, WinnowMd5Expr}

/** SparkSessionExtensions installer: exposes the engine's native
  * Catalyst expressions to SQL users. Load with
  *
  * {{{
  * SparkSession.builder()
  *   .withExtensions(new GraftExtensions)
  *   // or: .config("spark.sql.extensions", "graft.plans.GraftExtensions")
  * }}}
  *
  * then e.g. `SELECT graft_simhash_md5(tokens) FROM docs`, making the
  * dedup/similarity primitives available from pure SQL pipelines, not
  * just the Scala API.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intLit(e: Expression, what: String): Int = e.eval(null) match {
    case i: Int => i
    case l: Long => l.toInt
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    // Optimizer: prune id-bound filters into Range scans (product
    // section/point lookups on 10^16-element products become O(window)).
    ext.injectOptimizerRule(_ => RangePruneRule)

    // Planner: the native as-of join (AsofJoinNode → AsofJoinExec, a
    // single-pass sort-merge over co-partitioned sorted children).
    ext.injectPlannerStrategy(_ => AsofJoinStrategy)

    ext.injectFunction((
      new FunctionIdentifier("graft_minhash_sig"),
      new ExpressionInfo(classOf[MinHashSigExpr].getName, "graft_minhash_sig"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_minhash_sig(array<string>, numHashes)")
        MinHashSigExpr(args.head, intLit(args(1), "numHashes"))
      }))

    ext.injectFunction((
      new FunctionIdentifier("graft_minhash_sig_text"),
      new ExpressionInfo(classOf[MinHashSigTextExpr].getName, "graft_minhash_sig_text"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "graft_minhash_sig_text(text, k, numHashes)")
        MinHashSigTextExpr(args.head, intLit(args(1), "k"), intLit(args(2), "numHashes"))
      }))

    ext.injectFunction((
      new FunctionIdentifier("graft_char_entropy"),
      new ExpressionInfo(classOf[graft.functions.NativeExprs.CharEntropyExpr].getName,
        "graft_char_entropy"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_char_entropy(text)")
        graft.functions.NativeExprs.CharEntropyExpr(args.head)
      }))

    ext.injectFunction((
      new FunctionIdentifier("graft_simhash_md5"),
      new ExpressionInfo(classOf[SimHashMd5Expr].getName, "graft_simhash_md5"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_simhash_md5(array<string>)")
        SimHashMd5Expr(args.head)
      }))

    ext.injectFunction((
      new FunctionIdentifier("graft_hyperplane_bucket"),
      new ExpressionInfo(classOf[HyperplaneBucketLcgExpr].getName, "graft_hyperplane_bucket"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "graft_hyperplane_bucket(array<double>, bits, seed)")
        HyperplaneBucketLcgExpr(args.head, intLit(args(1), "bits"), intLit(args(2), "seed").toLong)
      }))

    ext.injectFunction((
      new FunctionIdentifier("graft_winnow_md5"),
      new ExpressionInfo(classOf[WinnowMd5Expr].getName, "graft_winnow_md5"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "graft_winnow_md5(text, k, w)")
        WinnowMd5Expr(args.head, intLit(args(1), "k"), intLit(args(2), "w"))
      }))

    ext.injectFunction((
      new FunctionIdentifier("graft_jaccard"),
      new ExpressionInfo(classOf[JaccardExpr].getName, "graft_jaccard"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_jaccard(array<string>, array<string>)")
        JaccardExpr(args(0), args(1))
      }))

    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProductExpr].getName, "graft_dot"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_dot(array<double>, array<double>)")
        DotProductExpr(args(0), args(1))
      }))
  }
}
