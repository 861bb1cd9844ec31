package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory with the engine's recommended configuration:
  * shuffle parallelism sized to cores (not the 200 default), AQE with
  * skew-join handling (on by default in Spark 4, pinned here
  * explicitly), UTC, and the Graft Catalyst extensions
  * (native functions + RangePruneRule). */
object GraftSession {

  def build(master: String, cores: Int, appName: String = "graft"): SparkSession =
    builder(master, cores, appName).getOrCreate()

  /** The configuration of [[build]] on a builder that is not yet
    * started, for a caller that adds settings of its own (the
    * local-cluster tools add their executor settings). */
  def builder(master: String, cores: Int, appName: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // AQE partition sizing: start exchanges wider than cores and let
      // the coalescer shrink them by actual bytes. With only `cores`
      // initial partitions, a pair-expansion aggregate at 30× the
      // bench corpus lands ~50M records on a single reduce task
      // (deep sort/agg spills — measured 1.54× per-pair cost growth
      // sf10→sf30 on dd_minhash_lsh); but every extra initial
      // partition also costs fixed map-segment + fetch overhead on
      // the suite's many small exchanges. The multiplier is a
      // measured optimum, not a guess — same-day 159-query sf0.1
      // A/B: ×1 68.85 s, ×8 63.70 s, ×32 79.40 s (SCALE.md has the
      // per-query breakdown; ×32 taxes the multi-exchange pair/CC
      // family 0.6–1.6 s per query, ×1 starves the verify-join
      // family). ×8 at local[32] = 256 initial partitions ≈ 12M
      // records/task at the sf30 minhash shuffle — inside one
      // task's in-memory sort budget. Explicit repartition(n, keys)
      // pins are untouched. Re-A/B'd in r14 under the sort shuffle
      // writer (part of the old ×1 penalty was the bypass-writer tax
      // below): wall now a wash (×8 105.32 vs ×1 104.59 full suite)
      // but ×1 doubles the knn family's task CPU (knn_pq 6.65→14.70
      // CPU-s — the verify-join starvation r12 recorded). ×8 stays.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        (cores * 8).toString)
      // Shuffle writer: NEVER the bypass-merge writer. Below
      // spark.shuffle.sort.bypassMergeThreshold (default 200) each map
      // task writes one file PER REDUCE PARTITION and concatenates —
      // M×R file creates/closes per exchange. Measured on this engine's
      // pinned 64-partition exchanges (the explosive-join family, the
      // span/frame repartitions): a 147k-row repartition(64) costs
      // 12.4 executor-CPU-s under bypass vs 0.94 under the serialized
      // sort writer (13×), and the whole span operator drops 12.3→4.1
      // CPU-s / 1.9→0.8 s wall. Threshold 1 forces the sort writer
      // everywhere: one output file + index per map task regardless of
      // R — also the scale-correct shape (at cluster widths R > 200
      // exchanges never bypassed anyway; fewer, larger files is the
      // §2.2 discipline).
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      // ObjectHashAggregate (collect_list/collect_set — the span,
      // frame, LSH-bucket and ED-prefix aggregates) falls back to
      // SORT-based aggregation at 128 distinct keys per task by
      // default, so virtually every bucket-grouping in the engine was
      // spill-sorting: measured on the zipf span operator, raising the
      // threshold cuts task CPU 4.05 → 2.04 s (synthetic 140k-group
      // collect_list 2.36 → 1.86). 64k entries is still a real memory
      // backstop: the engine's list buffers are cap-bounded
      // (maxDocsPerSpan / maxBucketSize ≤ 10^3) and a task holding 64k
      // such groups would need tens of millions of input rows in one
      // partition — far past the partition sizing — before the
      // fallback engages.
      // Adversarial case MEASURED (r15, `ScaleProbe objagg 65536
      // 1000`, local[32], 8 GB driver): ONE task holding 64k
      // collect_list groups of 1000 longs each (the documented
      // per-group cap) completed without OOM; the sort fallback
      // engaged and spilled 2.7 GB from memory / 0.36 GB to disk at
      // 59.6 s task CPU (SCALE.md). What was measured is spill and
      // CPU, not the heap the groups held before the fallback: the
      // object hash map is outside Spark's execution-memory accounting,
      // so no task metric reports its peak. On that evidence the
      // threshold is a latency/spill trade, not a correctness cliff,
      // at that heap size. CONTRACT for
      // new operators: anything that plans an ObjectHashAggregate
      // through this session must bound per-group state (the existing
      // operators cap at maxDocsPerSpan / maxBucketSize <= 10^3); an
      // uncapped collect_list group breaks the arithmetic above.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "65536")
      // let cached plans keep AQE's coalesced output partitioning —
      // off by default, which pins tiny cached frames (LSH signature
      // tables) at the full shuffle-partition count
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // Landed once at build time, not per-read: generations of the
      // test corpus ship events.ts as TIMESTAMP(NANOS) parquet, which
      // Spark can only read with this flag (as raw long nanos that
      // loadEvents then normalizes). Setting it here keeps the
      // behavior deterministic for the whole session instead of
      // silently flipping as a side effect of the first loadEvents
      // call mid-session.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)

  /** The events table with `ts` normalized to TimestampType (µs, UTC
    * session) regardless of how the generator wrote it. Generations of
    * the test corpus have shipped `ts` as TIMESTAMP(NANOS) parquet
    * (readable only as long nanos via `nanosAsLong`) and as plain
    * TIMESTAMP(MICROS) (which Spark reads as TIMESTAMP_NTZ) — the
    * loader dispatches on the landed type so both decode to identical
    * wall-clock values. Integral `div`, not `/`, for the ns case:
    * double division corrupts ns-scale longs (~1.7e18 exceeds the
    * 53-bit mantissa; caught by the q_session_stats gate). The
    * NTZ→LTZ cast is wall-clock-identity only under a UTC session
    * tz ([[build]] pins it); a non-UTC caller would get shifted
    * instants, so the tz is asserted rather than assumed. The cast
    * target is the explicit [[TimestampType]] object — the
    * `cast("timestamp")` keyword resolves through
    * spark.sql.timestampType and becomes an NTZ no-op if a caller
    * has repointed that config. nanosAsLong is session-wide from
    * [[build]]; for sessions built elsewhere it is set here (before
    * the read, so the NANOS footer decodes at all). */
  def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    require(
      spark.conf.get("spark.sql.session.timeZone") == "UTC",
      "loadEvents normalizes TIMESTAMP_NTZ via an NTZ->LTZ cast, which is " +
        "only wall-clock-correct under spark.sql.session.timeZone=UTC " +
        "(GraftSession.build pins it); set the session tz to UTC first")
    if (spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong") != Some("true"))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  /** Register every test table of `dir` as a temp view (events with the
    * normalized ts), enabling the pure-SQL surface:
    * `spark.sql("SELECT ... FROM lineitem JOIN ...")`. */
  def registerTables(spark: SparkSession, dir: String): Unit = {
    val names = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "documents", "embeddings")
    names.foreach { n =>
      spark.read.parquet(s"$dir/$n.parquet").createOrReplaceTempView(n)
    }
    loadEvents(spark, dir).createOrReplaceTempView("events")
  }
}
