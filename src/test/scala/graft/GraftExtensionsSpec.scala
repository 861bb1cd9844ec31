package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.plans.GraftExtensions

/** SQL-surface smoke for the injected native functions. Own session:
  * extensions must be installed at build time. */
class GraftExtensionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    // Other suites in the same JVM may hold the active session (built
    // WITHOUT extensions); getOrCreate would return it and skip the
    // injection. Clear so a fresh session (sharing the context) is
    // built with our extensions.
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.builder()
      .master("local[2]")
      .appName("extensions-spec")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
  }

  test("RangePruneRule: id-bound filters prune a 10^16-element product scan") {
    import graft.plans.PRange
    import graft.sources.ProductSplitSource
    import org.apache.spark.sql.functions._
    val iters = IndexedSeq(PRange(1L, 1000000L), PRange(1L, 1000000L), PRange(1L, 10000L))
    val L = graft.plans.ProductIndexMath.totalLength(iters) // 10^16
    // WITHOUT the rule this scans 10^16 rows and cannot finish.
    val df = ProductSplitSource.productDF(spark, iters, 32, Seq("d1", "d2", "d3"))
      .where(col("id") >= lit(L - 3) && col("id") < lit(L))
    val rows = df.orderBy("id").collect()
    assert(rows.length == 3)
    assert(rows.map(_.getLong(1)).toSeq == Seq(999998L, 999999L, 1000000L))
    // plan proof: the Range node was narrowed
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains((L - 3).toString), plan)
  }

  test("RangePruneRule keeps residual predicates and handles empty windows") {
    import org.apache.spark.sql.functions._
    val df = spark.range(0, 1000000)
      .where(col("id") >= 100 && col("id") < 200 && col("id") % 7 === 0)
    assert(df.count() == (100L until 200L).count(_ % 7 == 0))
    // contradictory bounds -> empty, not an error
    assert(spark.range(0, 100).where(col("id") > 50 && col("id") < 10).count() == 0)
  }

  test("graft_minhash_sig / graft_simhash_md5 / graft_dot are callable from SQL") {
    val r = spark.sql(
      """SELECT graft_minhash_sig(array('ab','cd','ef'), 4) AS sig,
        |       graft_simhash_md5(array('ab','cd')) AS sh,
        |       graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS dot""".stripMargin)
      .collect().head
    assert(r.getSeq[Long](0).length == 4)
    // identical inputs give identical hashes across calls
    val r2 = spark.sql("SELECT graft_simhash_md5(array('ab','cd')) AS sh").collect().head
    assert(r.getLong(1) == r2.getLong(0))
    assert(r.getDouble(2) == 11.0)
    // SQL result equals the Column-API result
    import org.apache.spark.sql.functions._
    val viaColumn = spark.range(1)
      .select(graft.functions.NativeExprs.simhashMd5Native(
        array(lit("ab"), lit("cd")))).collect().head.getLong(0)
    assert(viaColumn == r.getLong(1))
  }

  test("round-2 SQL functions equal their Column-API forms") {
    import org.apache.spark.sql.functions._
    import graft.functions.NativeExprs
    val r = spark.sql(
      """SELECT graft_minhash_sig_text('abcdefghij', 8, 4) AS sig,
        |       graft_simhash_md5(array('ab','cd')) AS sh,
        |       graft_hyperplane_bucket(array(0.5d, -0.25d, 1.0d), 4, 42) AS bkt,
        |       graft_winnow_md5('abcdefghijklmno', 8, 4) AS fp,
        |       graft_jaccard(array('a','b','c'), array('b','c','d')) AS j""".stripMargin)
      .collect().head
    val via = spark.range(1).select(
      NativeExprs.minhashSigTextNative(lit("abcdefghij"), 8, 4).as("sig"),
      NativeExprs.simhashMd5Native(array(lit("ab"), lit("cd"))).as("sh"),
      NativeExprs.hyperplaneBucketLcgNative(array(lit(0.5d), lit(-0.25d), lit(1.0d)), 4, 42L).as("bkt"),
      NativeExprs.winnowMd5Native(lit("abcdefghijklmno"), 8, 4).as("fp"),
      NativeExprs.jaccardNative(array(lit("a"), lit("b"), lit("c")),
        array(lit("b"), lit("c"), lit("d"))).as("j"))
      .collect().head
    assert(r.getSeq[Long](0) == via.getSeq[Long](0))
    assert(r.getLong(1) == via.getLong(1))
    assert(r.getLong(2) == via.getLong(2))
    assert(r.getSeq[org.apache.spark.sql.Row](3) == via.getSeq[org.apache.spark.sql.Row](3))
    assert(r.getDouble(4) == 0.5 && via.getDouble(4) == 0.5)
  }
}
