package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Bucketing for co-located joins: writing both fact tables bucketed
  * on the join key lets the join run with ZERO exchanges — the
  * pre-shuffle is amortized at write time. This is the 100 TB recipe
  * for repeated fact-fact joins (SURVEY §7 scale notes). */
class BucketingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.builder()
      .master("local[4]")
      .appName("bucketing-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .config("spark.sql.autoBroadcastJoinThreshold", "-1") // force the issue
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  test("partitioned parquet sink: layout prunes, round-trip equals source") {
    import graft.sources.Sinks
    val dir = "/root/testdata/sf0.001"
    val df = spark.read.parquet(s"$dir/orders.parquet")
      .withColumn("status", col("o_orderstatus"))
    val out = "/tmp/graft_sink_test"
    Sinks.writePartitioned(df, out, Seq("status"), sortCols = Seq("o_orderkey"))
    // directory layout: one subdir per status value
    val subdirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(subdirs.forall(_.startsWith("status=")))
    // partition pruning reaches the file index
    val pruned = spark.read.parquet(out).where(col("status") === "F")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(status"), scan)
    // round-trip equality
    val got = spark.read.parquet(out).drop("status")
      .orderBy("o_orderkey").collect().map(_.getLong(0)).toSeq
    val want = df.drop("status").orderBy("o_orderkey").collect().map(_.getLong(0)).toSeq
    assert(got == want)
  }

  test("q_partitioned_write gate: read-back scan prunes to the filtered partitions") {
    val df = graft.SparkEntry.queries("q_partitioned_write")(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
    assert(plan.contains("1-URGENT"), plan)
  }

  test("bucketed fact-fact join plans with no Exchange") {
    val dir = "/root/testdata/sf0.001"
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")
    // the in-memory metastore is fresh each JVM, so DROP won't clean a
    // previous run's files — remove the locations directly
    for (t <- Seq("li_b", "ord_b")) {
      val p = java.nio.file.Paths.get(s"/tmp/graft_warehouse/$t")
      if (java.nio.file.Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }
    spark.read.parquet(s"$dir/lineitem.parquet")
      .write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("li_b")
    spark.read.parquet(s"$dir/orders.parquet")
      .write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("ord_b")

    val joined = spark.table("li_b")
      .join(spark.table("ord_b"), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning(l_orderkey"), plan)
    assert(!plan.contains("Exchange hashpartitioning(o_orderkey"), plan)

    // correctness against the unbucketed join
    val want = spark.read.parquet(s"$dir/lineitem.parquet")
      .join(spark.read.parquet(s"$dir/orders.parquet"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = joined.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("compact: small files collapse to the byte-target count, data intact") {
    import spark.implicits._
    import graft.sources.Sinks
    val path = sys.props("java.io.tmpdir") + "/graft_compact_spec"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    val df = (0 until 5000).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    df.repartition(40).write.parquet(path)
    val want = df.collect().map(r => (r.getLong(0), r.getString(1))).toSet

    // huge target -> single file
    val (before, after) = Sinks.compact(spark, path, targetBytes = 1L << 30)
    assert(before == 40, s"before=$before")
    assert(after == 1, s"after=$after")
    val got = spark.read.parquet(path).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == want)
    // no _tmp/_bak residue after a clean swap
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path + "_tmp")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path + "_bak")))

    // byte-proportional target: ask for ~quarter-of-total chunks
    val total = fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .filter(_.getPath.getName.startsWith("part-")).map(_.getLen).sum
    val (_, after2) = Sinks.compact(spark, path, targetBytes = total / 4 + 1)
    assert(after2 >= 2 && after2 <= 8, s"after2=$after2")
    assert(spark.read.parquet(path).count() == 5000L)

    // crash between the two renames: target missing, _bak holding the
    // committed copy -> next compact recovers it first
    val p = new org.apache.hadoop.fs.Path(path)
    fs.rename(p, new org.apache.hadoop.fs.Path(path + "_bak"))
    val (b3, a3) = Sinks.compact(spark, path, targetBytes = 1L << 30)
    assert(a3 == 1, s"a3=$a3")
    assert(spark.read.parquet(path).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet == want)
  }

  test("incremental agg state: N batch merges equal the one-shot aggregate") {
    import spark.implicits._
    import graft.sources.Sinks
    val state = sys.props("java.io.tmpdir") + "/graft_incr_agg_spec"
    val fs = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(state), true)
    val rows = (0 until 3000).map { i =>
      (s"k${i % 7}", BigDecimal(i).setScale(2))
    }
    val df = rows.toDF("k", "v").select(col("k"), col("v").cast("decimal(18,2)").as("v"))
    // three uneven batches
    val batches = Seq(df.limit(500), df.offset(500).limit(1700), df.offset(2200))
    var last: org.apache.spark.sql.DataFrame = null
    batches.foreach { b => last = Sinks.mergeAggState(state, b, Seq("k"), "n", "v") }
    val got = last.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDecimal(2).toString))).toMap
    val want = df.groupBy("k")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("v"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDecimal(2).toString))).toMap
    assert(got == want)
    // the state file survives and re-reads identically (atomic rename)
    val reread = spark.read.parquet(state).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDecimal(2).toString))).toMap
    assert(reread == want)
  }

  test("incremental agg state: crash between the two swap renames is recovered") {
    import spark.implicits._
    import graft.sources.Sinks
    val state = sys.props("java.io.tmpdir") + "/graft_incr_agg_crash_spec"
    val fs = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("", "_bak", "_tmp").foreach { sfx =>
      fs.delete(new org.apache.hadoop.fs.Path(state + sfx), true)
    }
    val df = (0 until 1000).map(i => (s"k${i % 5}", i.toLong)).toDF("k", "v")
    val (b1, b2) = (df.limit(400), df.offset(400))
    Sinks.mergeAggState(state, b1, Seq("k"), "n", "v")
    // Simulate the swap's crash window: the previous commit has been
    // renamed to _bak, the replacement never arrived. The next merge
    // must recover the _bak state, not restart from zero (the old
    // delete-then-rename code lost the state here).
    fs.rename(new org.apache.hadoop.fs.Path(state),
      new org.apache.hadoop.fs.Path(state + "_bak"))
    val got = Sinks.mergeAggState(state, b2, Seq("k"), "n", "v")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val want = df.groupBy("k").agg(count(lit(1)).as("n"), sum(col("v")).as("v"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == want)
    // and the swap leaves no _bak/_tmp droppings on the happy path
    assert(!fs.exists(new org.apache.hadoop.fs.Path(state + "_bak")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(state + "_tmp")))
  }

  test("persisted IVF index: served result == inline, corpus side exchange-free") {
    import graft.operators.Similarity
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    Similarity.writeIvfIndex(e, "vec_id", "embedding", nCells = 8,
      "spec_ivf_cent", "spec_ivf_asg", buckets = 4)
    val q = e.where(col("vec_id") < 6)
      .select(col("vec_id").as("qid"), col("embedding").as("vec"))
    val served = Similarity.ivfTopKFromIndex(q, spark.table("spec_ivf_cent"),
      spark.table("spec_ivf_asg"), k = 3, nprobe = 2)
    val inline = Similarity.ivfTopK(q,
      e.select(col("vec_id").as("id"), col("embedding").as("vec")),
      k = 3, nCells = 8, nprobe = 2)
    assert(served.select("qid", "id", "rk").collect().map(_.toSeq).toSet ==
      inline.select("qid", "id", "rk").collect().map(_.toSeq).toSet)
    // broadcast is disabled in this session: the probe join sorts both
    // sides, but only the PROBE side may exchange on cell — the
    // assignment table's bucket layout covers the corpus side.
    val plan = served.queryExecution.executedPlan.toString
    val cellExchanges = "Exchange hashpartitioning\\(cell#".r.findAllIn(plan).size
    assert(cellExchanges == 1, s"expected 1 cell exchange, got $cellExchanges:\n$plan")
  }

  test("bm25 index probe equals inline scoring and prunes to the query buckets") {
    import graft.operators.Search
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // 16 buckets > 15 query terms: the probe's IN filter can touch at
    // most 15 buckets, so SelectedBucketsCount MUST prune.
    Search.writeBm25Index(docs, "doc_id", "text", "spec_bm25", 16)
    // three queries incl. one with no corpus hits at all (exercises
    // the zero-score by-id padding path end to end)
    val queries = Seq(
      (0L, Seq("the", "a", "data")),
      (1L, Seq("table", "row", "fast")),
      (2L, Seq("zzz_not_in_corpus"))).toDF("query_id", "terms")
    val inline = Search.bm25TopK(docs, "doc_id", "text", queries, 5)
    val served = Search.bm25TopKFromIndex(spark, "spec_bm25", queries, 5)
    assert(served.collect().map(_.toSeq).toSet ==
      inline.collect().map(_.toSeq).toSet)
    // bucket pruning reached the postings scan
    val plan = served.queryExecution.executedPlan.toString
    val sel = "SelectedBucketsCount: (\\d+) out of 16".r
      .findFirstMatchIn(plan)
    assert(sel.isDefined, plan)
    assert(sel.get.group(1).toInt < 16, plan)
  }

  test("bulk bm25 probe: postings side exchange-free under the bucket layout") {
    import graft.operators.Search
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    Search.writeBm25Index(docs, "doc_id", "text", "spec_bm25_bulk", 8)
    // every doc is a query — the hard-negative-mining regime the bulk
    // path exists for (nothing collected to the driver)
    val queries = docs.select(col("doc_id").as("query_id"),
      array_distinct(graft.functions.TextFunctions.tokens(col("text"))).as("terms"))
    val served = Search.bm25TopKFromIndexBulk(spark, "spec_bm25_bulk", queries, 5)
    val plan = served.queryExecution.executedPlan.toString
    // The invariant that matters at scale: the POSTINGS scan reaches
    // its sort-merge join riding the bucket layout — never through a
    // shuffle. (The query side's token exchanges are legitimate and
    // their count is planner detail: under forced SMJ the qterms⋈_df
    // output even re-aligns from shuffle.partitions to the bucket
    // count; with broadcast on, _df broadcasts instead.) String form:
    // wherever the postings FileScan appears (incl. re-dumps inside
    // InMemoryRelation), no Exchange sits in the lines between it and
    // its enclosing join — only Sort/Project shims are allowed.
    val lines = plan.linesIterator.toVector
    val scanIdx = lines.zipWithIndex.collect {
      case (l, i) if l.contains("spec_bm25_bulk_postings") => i
    }
    assert(scanIdx.nonEmpty, s"postings scan not found in plan:\n$plan")
    scanIdx.foreach { i =>
      val above = lines.slice(math.max(0, i - 3), i)
      assert(!above.exists(_.contains("Exchange")),
        s"postings scan at line $i reached via an Exchange:\n${above.mkString("\n")}\n$plan")
    }
    assert(plan.contains("Bucketed: true"), plan)
    // and the probe actually serves: one row set, k bounded per query
    val n = served.groupBy("query_id").count()
      .agg(max("count")).collect()(0).getLong(0)
    assert(n <= 5L)
    spark.catalog.clearCache() // the bulk probe caches its top-k frame
  }

  test("incremental-dedup probe reads the digest index exchange-free") {
    import graft.operators.Dedup
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    Dedup.writeDigestIndex(docs.where(col("doc_id") % 2 === 0),
      "doc_id", "text", "spec_dd_idx", 4)
    val probe = Dedup.incrementalNewUniques(
      docs.where(col("doc_id") % 2 === 1), "doc_id", "text",
      spark.table("spec_dd_idx"))
    // broadcast is disabled in this session, so the anti-join must be
    // sort-merge with the INDEX side exchange-free under its bucket
    // layout — only the probe (delta) side shuffles. That asymmetry is
    // the whole point of persisting the index bucketed.
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin") && plan.contains("LeftAnti"), plan)
    // exactly ONE digest exchange: the probe side's. A second one
    // would mean the index's bucket layout was ignored.
    val digestExchanges = "Exchange hashpartitioning\\(digest#".r
      .findAllIn(plan).size
    assert(digestExchanges == 1, s"expected 1 digest exchange, got $digestExchanges:\n$plan")
    // and the probe is correct: odd doc ids with text not present in
    // the even half
    val evenTexts = docs.where(col("doc_id") % 2 === 0)
      .select("text").collect().map(_.getString(0)).toSet
    val got = probe.select("keep_id").collect().map(_.getLong(0)).toSet
    val want = docs.where(col("doc_id") % 2 === 1)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
      .filter { case (_, t) => !evenTexts.contains(t) }
      .groupBy(_._2).map(_._2.map(_._1).min).toSet
    assert(got == want)
  }

  test("incremental fuzzy probe reads the minhash index exchange-free") {
    import graft.operators.IndexLifecycle
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    IndexLifecycle.writeGrowableMinHashIndex(docs.where(col("doc_id") % 2 === 0),
      "doc_id", "text", "spec_mh_idx", 4)
    val probe = IndexLifecycle.probeStandingMinHashIndex(
      docs.where(col("doc_id") % 2 === 1), "doc_id", "text", "spec_mh_idx",
      docs.where(col("doc_id") % 2 === 0), threshold = 0.7)
    val plan = probe.queryExecution.executedPlan.toString
    // the candidate join must be sort-merge on (band, bucket) with the
    // INDEX side exchange-free under its bucket layout — exactly ONE
    // (band, bucket) exchange, the delta's. A second one would mean
    // the bucketed index was reshuffled to be probed, defeating it.
    val bbExchanges = "Exchange hashpartitioning\\(band#\\d+".r
      .findAllIn(plan).size
    assert(bbExchanges == 1, s"expected 1 (band,bucket) exchange, got $bbExchanges:\n$plan")
    assert(plan.contains("Bucketed: true"), plan)
    // and the probe is sane: every emitted pair is cross-parity
    val rows = probe.collect()
    rows.foreach { r =>
      assert(r.getLong(0) % 2 == 1 && r.getLong(1) % 2 == 0, r.toString)
    }
  }

  test("incremental image probe reads the dHash index exchange-free") {
    import graft.operators.{Dedup, Multimodal}
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text", "source")
    Dedup.writeDHashIndex(
      Multimodal.fromDocuments(docs.where(col("doc_id") % 2 === 0),
        "doc_id", "text", "source"),
      "spec_dh_idx", 4)
    val probe = Dedup.incrementalImageNearDups(
      Multimodal.fromDocuments(docs.where(col("doc_id") % 2 === 1),
        "doc_id", "text", "source"),
      spark.table("spec_dh_idx"))
    val plan = probe.queryExecution.executedPlan.toString
    // one (chunk, v) exchange — the delta's; the bucketed index side
    // must NOT be reshuffled to be probed
    val cvExchanges = "Exchange hashpartitioning\\(chunk#\\d+".r
      .findAllIn(plan).size
    assert(cvExchanges == 1, s"expected 1 (chunk,v) exchange, got $cvExchanges:\n$plan")
    assert(plan.contains("Bucketed: true"), plan)
    // self-consistency: probing the index's own source images finds
    // every identity pair at hamming 0
    val self = Dedup.incrementalImageNearDups(
      Multimodal.fromDocuments(docs.where(col("doc_id") % 2 === 0),
        "doc_id", "text", "source"),
      spark.table("spec_dh_idx"))
      .where(col("hamming") === 0).collect()
    val evenIds = docs.where(col("doc_id") % 2 === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(evenIds.forall(id => self.exists(r =>
      r.getLong(0) == id && r.getLong(1) == id)), "identity pairs missing")
  }

  test("growable MinHash index: build->append->probe equals full rewrite; cap crosses appends exactly; compact folds") {
    import graft.operators.IndexLifecycle
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu", "nu", "xi", "omicron",
      "pi", "rho", "sigma", "tau", "upsilon")
    def doc(n: Int): String =
      Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    def mutate(t: String): String = {
      val w = t.split(" "); w(3) = "zzz"; w.mkString(" ")
    }
    val base1 = (0L until 30L).map(i => (i, doc(50)))
    val base2 = (100L until 120L).map(i => (i, doc(50)))
    // the cap-crossing plant: an identical boilerplate doc whose bucket
    // reaches the cap only ACROSS generations (4 day-1 + 3 day-2 > 5)
    val boiler = doc(60)
    val day1 = base1 ++ (300L until 304L).map(i => (i, boiler))
    val day2 = base2 ++ (310L until 313L).map(i => (i, boiler))
    val deltaRows = Seq((200L, base1(2)._2), (201L, mutate(base2(5)._2)),
      (202L, doc(50)), (320L, boiler))
    val d1 = day1.toDF("doc_id", "text")
    val d2 = day2.toDF("doc_id", "text")
    val dd = deltaRows.toDF("doc_id", "text")
    val baseAll = d1.union(d2)
    val cap = 5
    val t = "spec_mh_grow"
    IndexLifecycle.writeGrowableMinHashIndex(d1, "doc_id", "text", t, 4)
    IndexLifecycle.appendToMinHashIndex(d2, "doc_id", "text", t)
    assert(IndexLifecycle.minhashIndexFsck(spark, t), "rows==hist+log after append")
    val grown = pairSet(IndexLifecycle.probeStandingMinHashIndex(
      dd, "doc_id", "text", t, baseAll, 0.5, maxBucketSize = cap))
    // the reference: a fresh build over the merged base
    IndexLifecycle.writeGrowableMinHashIndex(baseAll, "doc_id", "text",
      "spec_mh_full", 4)
    val full = pairSet(IndexLifecycle.probeStandingMinHashIndex(
      dd, "doc_id", "text", "spec_mh_full", baseAll, 0.5, maxBucketSize = cap))
    assert(grown == full,
      s"missing=${(full -- grown).take(5)} extra=${(grown -- full).take(5)}")
    // the cross-generation hot bucket is dropped WHOLE by both paths
    assert(!full.exists(_._1 == 320L), "fresh build drops the hot bucket")
    assert(!grown.exists(_._1 == 320L), "grown probe drops the hot bucket")
    // non-hot near-dups survive, so the equality above is non-vacuous
    assert(grown.exists(_._1 == 200L), "exact-copy delta pair must surface")
    // compact: re-count from rows only; probe identical; statlog folded
    IndexLifecycle.compactMinHashIndex(spark, t, 4)
    assert(!spark.catalog.tableExists(s"${t}_statlog"), "statlog reset")
    assert(IndexLifecycle.minhashIndexFsck(spark, t), "fsck after compact")
    val compacted = pairSet(IndexLifecycle.probeStandingMinHashIndex(
      dd, "doc_id", "text", t, baseAll, 0.5, maxBucketSize = cap))
    assert(compacted == full)
    // plan pin: the probe against the grown index reads the index
    // bucketed (exchange-free under its layout) — the ONLY
    // (band, bucket) exchange is the delta's band rows; the hot set
    // and the statlog sums ride broadcasts
    val probePlan = IndexLifecycle.probeStandingMinHashIndex(
      dd, "doc_id", "text", t, baseAll, 0.5, maxBucketSize = cap)
      .queryExecution.executedPlan.toString
    val bandExchanges = "Exchange hashpartitioning\\(band#\\d+".r
      .findAllIn(probePlan).size
    assert(bandExchanges == 1,
      s"expected 1 (band,bucket) exchange (the delta side), got $bandExchanges:\n$probePlan")
    assert(probePlan.contains("Bucketed: true"), probePlan)
    Seq(t, s"${t}_hist", "spec_mh_full", "spec_mh_full_hist").foreach(
      graft.sources.Sinks.dropTableAndLocation(spark, _))
  }

  test("dHash and digest appends: grown index equals full-build index; digest stays distinct") {
    import graft.operators.{Dedup, IndexLifecycle, Multimodal}
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text", "source").where(col("doc_id") < 400)
    val h1 = docs.where(col("doc_id") % 2 === 0)
    val h2 = docs.where(col("doc_id") % 2 =!= 0)
    val m1 = Multimodal.fromDocuments(h1, "doc_id", "text", "source")
    val m2 = Multimodal.fromDocuments(h2, "doc_id", "text", "source")
    val mAll = Multimodal.fromDocuments(docs, "doc_id", "text", "source")
    Dedup.writeDHashIndex(m1, "spec_dh_grow", 4)
    IndexLifecycle.appendToDHashIndex(m2, "spec_dh_grow")
    Dedup.writeDHashIndex(mAll, "spec_dh_full", 4)
    val probe = Multimodal.fromDocuments(
      docs.where(col("doc_id") < 40).select(
        (col("doc_id") + 5000L).as("doc_id"), col("text"), col("source")),
      "doc_id", "text", "source")
    def hits(table: String): Set[(Long, Long, Long)] =
      Dedup.incrementalImageNearDups(probe, spark.table(table))
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getAs[Number](2).longValue)).toSet
    val g = hits("spec_dh_grow")
    val f = hits("spec_dh_full")
    assert(g.nonEmpty && g == f,
      s"missing=${(f -- g).take(5)} extra=${(g -- f).take(5)}")
    // digest: append only NEW digests; index stays distinct
    val t1 = docs.where(col("doc_id") < 200)
    Dedup.writeDigestIndex(t1, "doc_id", "text", "spec_dd_grow", 4)
    // overlap: second half PLUS a slice of the first (already indexed)
    IndexLifecycle.appendToDigestIndex(
      docs.where(col("doc_id") >= 150), "doc_id", "text", "spec_dd_grow")
    Dedup.writeDigestIndex(docs, "doc_id", "text", "spec_dd_full", 4)
    val grownDigests = spark.table("spec_dd_grow").collect()
      .map(_.getString(0)).toSeq
    val fullDigests = spark.table("spec_dd_full").collect()
      .map(_.getString(0)).toSeq
    assert(grownDigests.sorted == fullDigests.sorted,
      "grown digest set equals full build")
    assert(grownDigests.distinct.size == grownDigests.size,
      "append must not duplicate already-indexed digests")
    Seq("spec_dh_grow", "spec_dh_full", "spec_dd_grow", "spec_dd_full")
      .foreach(graft.sources.Sinks.dropTableAndLocation(spark, _))
  }

  test("partial compaction: only touched file-buckets rewritten, rest carried by rename; equals full rewrite; bucket-id law pinned") {
    import graft.operators.IndexLifecycle
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu", "nu", "xi", "omicron",
      "pi", "rho", "sigma", "tau", "upsilon")
    def doc(n: Int): String =
      Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val day1 = (0L until 60L).map(i => (i, doc(50)))
    // one-doc micro delta: its 32 (band, bucket) pairs touch a strict
    // subset of the 64 file-buckets — the partial-path regime
    val micro = Seq((500L, day1(7)._2))
    val probeRows = Seq((600L, day1(7)._2), (601L, doc(50)))
    val t = "spec_mh_partial"
    val buckets = 64
    Seq(t, s"${t}_hist", s"${t}_statlog", s"${t}_full")
      .foreach(graft.sources.Sinks.dropTableAndLocation(spark, _))
    val d1 = day1.toDF("doc_id", "text")
    val dm = micro.toDF("doc_id", "text")
    val dp = probeRows.toDF("doc_id", "text")
    IndexLifecycle.writeGrowableMinHashIndex(d1, "doc_id", "text", t, buckets)
    def fileNames(tab: String): Set[String] = {
      val dir = graft.sources.Sinks.tableLocation(spark, tab)
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(dir).filter(s => s.isFile &&
        s.getPath.getName.startsWith("part-")).map(_.getPath.getName).toSet
    }
    def fbOf(name: String): Int =
      org.apache.spark.sql.graftbridge.BucketBridge.bucketIdOf(name).get
    // bucket-id LAW parity (what the pruning rests on): every row in a
    // bucket file hashes to exactly the file-name bucket id under
    // pmod(hash(band, bucket), buckets)
    val dir = graft.sources.Sinks.tableLocation(spark, t)
    fileNames(t).take(6).foreach { name =>
      val ids = spark.read.parquet(s"$dir/$name")
        .select(pmod(hash(col("band"), col("bucket")), lit(buckets))
          .cast("int").as("fb")).distinct().collect().map(_.getInt(0)).toSet
      assert(ids == Set(fbOf(name)), s"$name: $ids != ${fbOf(name)}")
    }
    val preFiles = fileNames(t)
    IndexLifecycle.appendToMinHashIndex(dm, "doc_id", "text", t)
    val touched = spark.table(s"${t}_statlog")
      .select(pmod(hash(col("band"), col("bucket")), lit(buckets))
        .cast("int").as("fb")).distinct().collect().map(_.getInt(0)).toSet
    assert(touched.size < buckets, s"micro delta touched all $buckets buckets")
    IndexLifecycle.compactMinHashIndex(spark, t, buckets)
    assert(!spark.catalog.tableExists(s"${t}_statlog"), "statlog reset")
    assert(IndexLifecycle.minhashIndexFsck(spark, t), "fsck after compact")
    assert(!spark.catalog.tableExists(s"${t}_cnew") &&
      !spark.catalog.tableExists(s"${t}_bak"), "no swap debris")
    val postFiles = fileNames(t)
    val carriedNames = postFiles.intersect(preFiles)
    val newNames = postFiles -- preFiles
    assert(carriedNames.nonEmpty, "untouched bucket files must carry forward")
    assert(carriedNames.forall(n => !touched.contains(fbOf(n))),
      "a carried file sits in a touched file-bucket")
    assert(newNames.forall(n => touched.contains(fbOf(n))),
      "a rewritten file sits in an untouched file-bucket")
    // result parity: compacted index == a fresh build over the merged base
    val baseAll = d1.unionByName(dm)
    val full = freshProbe(baseAll, dp, s"${t}_full", buckets)
    val got = pairSet(IndexLifecycle.probeStandingMinHashIndex(
      dp, "doc_id", "text", t, baseAll, 0.5))
    assert(got == full,
      s"missing=${(full -- got).take(5)} extra=${(got -- full).take(5)}")
    assert(got.exists(_._1 == 600L), "exact-copy probe pair must surface")
    Seq(t, s"${t}_hist", s"${t}_full", s"${t}_full_hist").foreach(
      graft.sources.Sinks.dropTableAndLocation(spark, _))
  }

  /** Seeded random docs of `n` words over a 20-word vocabulary. */
  private def docGen(seed: Int): Int => String = {
    val rnd = new scala.util.Random(seed)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu", "nu", "xi", "omicron",
      "pi", "rho", "sigma", "tau", "upsilon")
    n => Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  /** The reference for a grown or repaired index: the pairs of `probe`
    * against a fresh build over the merged base, in table `table`. */
  private def freshProbe(base: org.apache.spark.sql.DataFrame,
                         probe: org.apache.spark.sql.DataFrame,
                         table: String, buckets: Int): Set[(Long, Long, Double)] = {
    import graft.operators.IndexLifecycle
    IndexLifecycle.writeGrowableMinHashIndex(base, "doc_id", "text", table, buckets)
    pairSet(IndexLifecycle.probeStandingMinHashIndex(
      probe, "doc_id", "text", table, base, 0.5))
  }

  test("compactMinHashIndex refuses a bucket count other than the table's, naming both counts") {
    import graft.operators.IndexLifecycle
    import spark.implicits._
    val doc = docGen(23)
    val day1 = (0L until 40L).map(i => (i, doc(50)))
    val t = "spec_mh_wrong_buckets"
    Seq(t, s"${t}_hist", s"${t}_statlog", s"${t}_full")
      .foreach(graft.sources.Sinks.dropTableAndLocation(spark, _))
    val d1 = day1.toDF("doc_id", "text")
    val dm = Seq((500L, day1(3)._2)).toDF("doc_id", "text")
    val dp = Seq((600L, day1(3)._2), (601L, day1(9)._2)).toDF("doc_id", "text")
    // an 8-bucket index, one-doc delta, then a compaction told 64: the
    // touched ids would be computed mod 64 and matched against file
    // names carrying mod-8 ids
    IndexLifecycle.writeGrowableMinHashIndex(d1, "doc_id", "text", t, 8)
    IndexLifecycle.appendToMinHashIndex(dm, "doc_id", "text", t)
    val ex = intercept[IllegalArgumentException] {
      IndexLifecycle.compactMinHashIndex(spark, t, 64)
    }
    assert(ex.getMessage.contains("64") && ex.getMessage.contains("8 buckets"),
      ex.getMessage)
    // refused before any write: the appended generation is intact and
    // still probes like a fresh build
    assert(spark.catalog.tableExists(s"${t}_statlog"), "statlog kept")
    assert(IndexLifecycle.minhashIndexFsck(spark, t))
    val baseAll = d1.unionByName(dm)
    val full = freshProbe(baseAll, dp, s"${t}_full", 8)
    assert(full.exists(_._1 == 600L), "exact-copy probe pair must surface")
    IndexLifecycle.compactMinHashIndex(spark, t, 8)
    assert(pairSet(IndexLifecycle.probeStandingMinHashIndex(
      dp, "doc_id", "text", t, baseAll, 0.5)) == full)
    Seq(t, s"${t}_hist", s"${t}_full", s"${t}_full_hist").foreach(
      graft.sources.Sinks.dropTableAndLocation(spark, _))
  }

  test("repair path: a crashed append fails fsck (one query); compaction restores it and equals the full rewrite") {
    import graft.operators.{Dedup, IndexLifecycle}
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import spark.implicits._
    val doc = docGen(29)
    val day1 = (0L until 60L).map(i => (i, doc(50)))
    val t = "spec_mh_repair"
    val buckets = 64
    Seq(t, s"${t}_hist", s"${t}_statlog", s"${t}_full")
      .foreach(graft.sources.Sinks.dropTableAndLocation(spark, _))
    val d1 = day1.toDF("doc_id", "text")
    val logged = Seq((500L, day1(7)._2)).toDF("doc_id", "text")
    val crashed = Seq((510L, day1(11)._2)).toDF("doc_id", "text")
    val dp = Seq((600L, day1(7)._2), (601L, day1(11)._2), (602L, doc(50)))
      .toDF("doc_id", "text")
    IndexLifecycle.writeGrowableMinHashIndex(d1, "doc_id", "text", t, buckets)
    IndexLifecycle.appendToMinHashIndex(logged, "doc_id", "text", t)
    // the crashed append: its band rows reached the index, its statlog
    // rows never did (appendToMinHashIndex writes rows first)
    graft.sources.Sinks.appendBucketed(
      Dedup.bandRows(crashed, "doc_id", "text", 128, 32, 4, 8), t)
    val sc = spark.sparkContext
    val group = "fsck-job-pin"
    // the SQL execution id of every job the check starts: AQE submits
    // each shuffle stage as a job of its own, all under the execution
    // id of the one query
    val queries = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties)
          .filter(_.getProperty("spark.jobGroup.id") == group)
          .foreach(p => queries.add(String.valueOf(
            p.getProperty("spark.sql.execution.id"))))
    }
    sc.addSparkListener(listener)
    val ok = try {
      sc.setJobGroup(group, "minhashIndexFsck")
      try IndexLifecycle.minhashIndexFsck(spark, t) finally sc.clearJobGroup()
    } finally {
      org.apache.spark.graftbridge.ListenerBusDrain.drain(sc)
      sc.removeSparkListener(listener)
    }
    assert(!ok, "fsck must flag rows the statlog never logged")
    assert(queries.size == 1, s"fsck ran ${queries.size} queries, expected 1: $queries")
    IndexLifecycle.compactMinHashIndex(spark, t, buckets)
    assert(IndexLifecycle.minhashIndexFsck(spark, t), "fsck after repair")
    assert(!spark.catalog.tableExists(s"${t}_statlog"), "statlog reset")
    Seq(s"${t}_cnew", s"${t}_bak", s"${t}_hist_cnew", s"${t}_hist_bak")
      .foreach(n => assert(!spark.catalog.tableExists(n), s"swap debris $n"))
    val baseAll = d1.unionByName(logged).unionByName(crashed)
    val full = freshProbe(baseAll, dp, s"${t}_full", buckets)
    val got = pairSet(IndexLifecycle.probeStandingMinHashIndex(
      dp, "doc_id", "text", t, baseAll, 0.5))
    assert(got == full,
      s"missing=${(full -- got).take(5)} extra=${(got -- full).take(5)}")
    assert(got.exists(_._1 == 601L), "the crashed append's doc must be found")
    Seq(t, s"${t}_hist", s"${t}_full", s"${t}_full_hist").foreach(
      graft.sources.Sinks.dropTableAndLocation(spark, _))
  }

  test("a MinHash index whose histogram is missing is refused by name; compaction rebuilds it") {
    import graft.operators.IndexLifecycle
    import spark.implicits._
    val doc = docGen(31)
    val day1 = (0L until 40L).map(i => (i, doc(50)))
    val t = "spec_mh_nohist"
    val buckets = 8
    Seq(t, s"${t}_hist", s"${t}_statlog", s"${t}_full", s"${t}_full_hist")
      .foreach(graft.sources.Sinks.dropTableAndLocation(spark, _))
    val d1 = day1.toDF("doc_id", "text")
    val dm = Seq((500L, day1(5)._2)).toDF("doc_id", "text")
    val dp = Seq((600L, day1(5)._2), (601L, doc(50))).toDF("doc_id", "text")
    // a build that crashed between the row write and the histogram write
    IndexLifecycle.writeGrowableMinHashIndex(d1, "doc_id", "text", t, buckets)
    graft.sources.Sinks.dropTableAndLocation(spark, s"${t}_hist")
    assert(!IndexLifecycle.minhashIndexFsck(spark, t), "fsck must flag the missing histogram")
    def refusal(op: => Any): String =
      intercept[IllegalArgumentException](op).getMessage
    Seq(
      refusal(IndexLifecycle.appendToMinHashIndex(dm, "doc_id", "text", t)),
      refusal(IndexLifecycle.probeStandingMinHashIndex(dp, "doc_id", "text", t, d1, 0.5))
    ).foreach { msg =>
      assert(msg.contains(s"${t}_hist") && msg.contains("compactMinHashIndex"), msg)
    }
    // the refused append wrote nothing
    assert(spark.table(t).count() == day1.size * 32L, "no rows appended")
    IndexLifecycle.compactMinHashIndex(spark, t, buckets)
    assert(IndexLifecycle.minhashIndexFsck(spark, t), "fsck after compaction")
    val got = pairSet(IndexLifecycle.probeStandingMinHashIndex(
      dp, "doc_id", "text", t, d1, 0.5))
    assert(got == freshProbe(d1, dp, s"${t}_full", buckets))
    assert(got.exists(_._1 == 600L), "exact-copy probe pair must surface")
    Seq(t, s"${t}_hist", s"${t}_full", s"${t}_full_hist").foreach(
      graft.sources.Sinks.dropTableAndLocation(spark, _))
  }

  test("interrupted carry (crash after the swap renames) is finished by recoverSwappedTable") {
    import graft.sources.Sinks
    import spark.implicits._
    Seq("spec_carry", "spec_carry_new", "spec_carry_bak")
      .foreach(Sinks.dropTableAndLocation(spark, _))
    // old generation: one file per bucket (coalesce(1) → one write task)
    Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)).toDF("k", "v")
      .coalesce(1)
      .write.bucketBy(2, "k").sortBy("k").saveAsTable("spec_carry")
    val dir = Sinks.tableLocation(spark, "spec_carry")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(d: org.apache.hadoop.fs.Path): Seq[String] =
      fs.listStatus(d).filter(s => s.isFile &&
        s.getPath.getName.startsWith("part-")).map(_.getPath.getName).toSeq
    val oldFiles = files(dir)
    assert(oldFiles.size == 2, s"expected one file per bucket: $oldFiles")
    // new generation: rewrite ONLY one bucket's rows; carry the other
    val keepFb = org.apache.spark.sql.graftbridge.BucketBridge
      .bucketIdOf(oldFiles.head).get
    val rewrittenKeys = spark.read.parquet(s"$dir/${oldFiles.head}")
      .collect().map(_.getLong(0)).toSet
    val carried = oldFiles.filter(n =>
      org.apache.spark.sql.graftbridge.BucketBridge.bucketIdOf(n).get != keepFb)
    assert(carried.nonEmpty)
    spark.read.parquet(s"$dir/${oldFiles.head}")
      .withColumn("v", col("v") + 100L).coalesce(1)
      .write.bucketBy(2, "k").sortBy("k").saveAsTable("spec_carry_new")
    Sinks.writeCarryManifest(spark, "spec_carry_new", carried)
    // simulate the crash: both renames done, carry NOT run
    spark.sql("ALTER TABLE spec_carry RENAME TO spec_carry_bak")
    spark.sql("ALTER TABLE spec_carry_new RENAME TO spec_carry")
    // recovery completes the carry and drops the bak
    Sinks.recoverSwappedTable(spark, "spec_carry")
    assert(!spark.catalog.tableExists("spec_carry_bak"))
    val got = spark.table("spec_carry").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = Seq(1L -> 10L, 2L -> 20L, 3L -> 30L, 4L -> 40L)
      .map { case (k, v) => (k, if (rewrittenKeys.contains(k)) v + 100L else v) }
    assert(got == want, s"got=${got.toList}")
    Sinks.dropTableAndLocation(spark, "spec_carry")
  }

  test("writeCarryManifest refuses a carried name already present in the new generation") {
    import graft.sources.Sinks
    import spark.implicits._
    Sinks.dropTableAndLocation(spark, "spec_carry_clash")
    Seq((1L, 10L), (2L, 20L)).toDF("k", "v").coalesce(1)
      .write.bucketBy(2, "k").sortBy("k").saveAsTable("spec_carry_clash")
    val dir = Sinks.tableLocation(spark, "spec_carry_clash")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val present = fs.listStatus(dir).map(_.getPath.getName).filter(_.startsWith("part-")).head
    // completeCarry would skip the present name and the swap would drop
    // the bak's file of that name: the manifest must not be written
    val ex = intercept[IllegalArgumentException] {
      Sinks.writeCarryManifest(spark, "spec_carry_clash", Seq("part-absent.parquet", present))
    }
    assert(ex.getMessage.contains(present), ex.getMessage)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, "_carry_from_bak")))
    Sinks.dropTableAndLocation(spark, "spec_carry_clash")
  }

  test("a carry whose file is gone fails by name: table, manifest, file and the rebuild repair") {
    import graft.sources.Sinks
    import spark.implicits._
    Seq("spec_lost", "spec_lost_new", "spec_lost_bak")
      .foreach(Sinks.dropTableAndLocation(spark, _))
    Sinks.saveTableReplacing(Seq((1L, "old")).toDF("k", "v"), "spec_lost")
    Sinks.saveTableReplacing(Seq((2L, "new")).toDF("k", "v"), "spec_lost_new")
    // the manifest names a file the old generation never had
    val gone = "part-00000-gone.c000.snappy.parquet"
    Sinks.writeCarryManifest(spark, "spec_lost_new", Seq(gone))
    def assertNamed(e: IllegalStateException): Unit = {
      val msg = e.getMessage
      Seq("spec_lost", "_carry_from_bak", gone, "spec_lost_bak", "rebuild spec_lost")
        .foreach(part => assert(msg.contains(part), s"'$part' missing from: $msg"))
    }
    assertNamed(intercept[IllegalStateException](Sinks.swapInTable(spark, "spec_lost_new", "spec_lost")))
    // the swap renames are done and the bak is kept: recovery meets the
    // same loss and says the same
    assert(spark.catalog.tableExists("spec_lost_bak"))
    assertNamed(intercept[IllegalStateException](Sinks.recoverSwappedTable(spark, "spec_lost")))
    Seq("spec_lost", "spec_lost_bak").foreach(Sinks.dropTableAndLocation(spark, _))
  }

  test("swapInTable/recoverSwappedTable: two-rename law survives both crash windows") {
    import graft.sources.Sinks
    import spark.implicits._
    Seq("spec_swap", "spec_swap_new", "spec_swap_bak")
      .foreach(Sinks.dropTableAndLocation(spark, _))
    Sinks.saveTableReplacing(Seq((1L, "old")).toDF("k", "v"), "spec_swap")
    Sinks.saveTableReplacing(Seq((2L, "new")).toDF("k", "v"), "spec_swap_new")
    Sinks.swapInTable(spark, "spec_swap_new", "spec_swap")
    assert(spark.table("spec_swap").collect().map(_.getString(1)).toSeq == Seq("new"))
    assert(!spark.catalog.tableExists("spec_swap_new"))
    assert(!spark.catalog.tableExists("spec_swap_bak"))
    // crash window 1: between the two renames (table absent, bak holds
    // the committed generation)
    spark.sql("ALTER TABLE spec_swap RENAME TO spec_swap_bak")
    Sinks.recoverSwappedTable(spark, "spec_swap")
    assert(spark.table("spec_swap").collect().map(_.getString(1)).toSeq == Seq("new"))
    // crash window 2: post-commit debris (live table AND a leftover bak)
    Sinks.saveTableReplacing(Seq((3L, "bak")).toDF("k", "v"), "spec_swap_bak")
    Sinks.recoverSwappedTable(spark, "spec_swap")
    assert(spark.table("spec_swap").collect().map(_.getString(1)).toSeq == Seq("new"))
    assert(!spark.catalog.tableExists("spec_swap_bak"))
    Sinks.dropTableAndLocation(spark, "spec_swap")
  }

  test("GateTables: run-scoped names; sweepStale reclaims dead-pid dirt, keeps live and pidless dirs") {
    import graft.queries.GateTables
    val tag = GateTables.runTag
    assert(GateTables.name("g_mh_idx") == s"g_mh_idx_$tag")
    val wh = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // 9999999 exceeds any live pid on this box (ProcessHandle.of ->
    // empty -> treated dead); our own tag is alive by definition.
    val dead = new org.apache.hadoop.fs.Path(wh, "g_fake_idx_9999999")
    val deadDerived = new org.apache.hadoop.fs.Path(wh, "g_fake_bm25_9999999_df")
    val live = new org.apache.hadoop.fs.Path(wh, s"g_fake_idx_$tag")
    val pidless = new org.apache.hadoop.fs.Path(wh, "g_mh_idx2")
    Seq(dead, deadDerived, live, pidless).foreach(fs.mkdirs)
    GateTables.sweepStale(spark)
    assert(!fs.exists(dead), "dead-pid gate dir must be swept")
    assert(!fs.exists(deadDerived), "dead-pid derived (prefix_df) dir must be swept")
    assert(fs.exists(live), "this run's own tables must survive")
    assert(fs.exists(pidless), "pidless names never match the sweep shape")
    Seq(live, pidless).foreach(p => fs.delete(p, true))
  }
}
