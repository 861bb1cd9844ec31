package graft

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.EventStreams
import graft.streaming.EventStreams.Event

/** Structured Streaming specs using MemoryStream: the streaming
  * sessionizer must agree with the batch-window oracle
  * ([[EventStreams.sessionizeBatch]]) on closed sessions, and the
  * windowed aggregation must produce the batch answer once the
  * watermark passes. */
case class StreamDoc(doc_id: Long, ts: Timestamp, text: String)
case class StreamQVec(qid: Long, vec: Seq[Double])

class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("streaming-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // Offset from epoch 0: a row at exactly the initial watermark (0)
  // would be dropped by the late-row filter.
  private val base = 86400000L
  private def ts(minutes: Long): Timestamp = new Timestamp(base + minutes * 60000L)

  test("streaming sessionize agrees with the batch oracle on closed sessions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // user 1: two sessions (gap 45 min > 30); user 2: one session.
    val events = Seq(
      Event(1, ts(0), 1, "view", 1.0),
      Event(2, ts(10), 1, "click", 2.0),
      Event(3, ts(55), 1, "view", 3.0),   // new session (45 min gap)
      Event(4, ts(5), 2, "view", 4.0),
      Event(5, ts(20), 2, "purchase", 5.0),
      // late watermark-advancer so earlier sessions time out:
      Event(6, ts(600), 9, "view", 0.0))

    val input = MemoryStream[Event]
    val sessions = EventStreams.sessionize(input.toDS(), gapSeconds = 1800)
    val q = sessions.writeStream.format("memory")
      .queryName("sessions_out").outputMode("append").start()
    try {
      input.addData(events: _*)
      q.processAllAvailable()
      // advance watermark far beyond all sessions to force timeouts
      input.addData(Event(7, ts(10000), 9, "view", 0.0))
      q.processAllAvailable()

      val got = spark.table("sessions_out")
        .select("user_id", "session_start", "session_end", "n_events", "sum_value")
        .where(col("user_id").isin(1, 2))
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getTimestamp(2).getTime,
          r.getLong(3), r.getDouble(4))).toSet

      val want = Set(
        (1L, base, base + 10L * 60000, 2L, 3.0),
        (1L, base + 55L * 60000, base + 55L * 60000, 1L, 3.0),
        (2L, base + 5L * 60000, base + 20L * 60000, 2L, 9.0))
      assert(got == want)

      // batch oracle on the same rows yields the same sessions
      val batch = EventStreams.sessionizeBatch(
        events.filter(e => e.user_id <= 2).toDF(), gapSeconds = 1800)
        .select("user_id", "session_start", "session_end", "n_events", "sum_value")
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getTimestamp(2).getTime,
          r.getLong(3), r.getDouble(4))).toSet
      assert(batch == want)
    } finally q.stop()
  }

  test("streaming dedup within watermark keeps first occurrence per key") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = Seq(
      Event(1, ts(0), 1, "view", 1.0),
      Event(2, ts(1), 1, "view", 2.0),   // dup user+type within horizon
      Event(3, ts(2), 2, "view", 3.0),
      Event(4, ts(3), 1, "click", 4.0))
    val input = MemoryStream[Event]
    val q = EventStreams.dedupStream(input.toDF(), Seq("user_id", "event_type"))
      .writeStream.format("memory").queryName("dedup_out").outputMode("append").start()
    try {
      input.addData(events: _*)
      q.processAllAvailable()
      val got = spark.table("dedup_out").collect().map(_.getAs[Long]("event_id")).toSet
      assert(got == Set(1L, 3L, 4L))
    } finally q.stop()
  }

  test("stream-stream interval join matches the batch join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = Seq(
      Event(10, ts(0), 1, "signup", 0.0),
      Event(11, ts(30), 1, "purchase", 5.0),   // within 1h of signup
      Event(12, ts(90), 1, "purchase", 6.0),   // outside 1h
      Event(13, ts(5), 2, "purchase", 7.0),    // no signup
      Event(14, ts(2000), 9, "view", 0.0))     // watermark advancer
    val input = MemoryStream[Event]
    val joined = EventStreams.purchaseSignupJoin(input.toDF(), horizonSeconds = 3600)
    val q = joined.writeStream.format("memory")
      .queryName("ssjoin_out").outputMode("append").start()
    try {
      input.addData(events: _*)
      q.processAllAvailable()
      input.addData(Event(15, ts(20000), 9, "view", 0.0))
      q.processAllAvailable()
      val got = spark.table("ssjoin_out").collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
      assert(got == Set((11L, 10L)))
      val batch = EventStreams.purchaseSignupJoin(events.toDF(), horizonSeconds = 3600)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      assert(batch == got)
    } finally q.stop()
  }

  test("windowed counts over a stream match the batch computation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val events = (0 until 120).map(i =>
      Event(i.toLong, ts(i.toLong), i % 3L, if (i % 2 == 0) "view" else "click", 1.5))

    val input = MemoryStream[Event]
    val agg = EventStreams.windowedCounts(input.toDF(), "1 hour", "10 minutes")
    val q = agg.writeStream.format("memory")
      .queryName("win_out").outputMode("append").start()
    try {
      input.addData(events: _*)
      q.processAllAvailable()
      input.addData(Event(999, ts(100000), 9, "view", 0.0)) // advance watermark
      q.processAllAvailable()

      val got = spark.table("win_out")
        .where(col("w_start") < ts(120))
        .collect()
        .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      val want = EventStreams.windowedCounts(events.toDF(), "1 hour", "10 minutes")
        .collect()
        .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(got == want)
    } finally q.stop()
  }

  test("windowedCountsStream (AvailableNow file source) emits exactly the watermark-closed windows") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-gate")
      .toFile.getAbsolutePath
    val events = Seq(
      Event(1, ts(0), 1, "view", 1.0),
      Event(2, ts(30), 2, "click", 2.0),
      Event(3, ts(90), 1, "view", 3.0),
      Event(4, ts(150), 2, "view", 4.0),
      Event(5, ts(260), 1, "click", 5.0))
    events.toDF().coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = EventStreams.windowedCountsStream(spark, dir, "1 hour", "1 hour")
      .collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    // final watermark = max event time (ms) - 1h; append mode emits
    // windows with end <= watermark, holds the rest in state
    val wmMs = (base + 260 * 60000L) - 3600000L
    val batch = EventStreams.windowedCounts(events.toDF(), "1 hour", "1 hour")
      .collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2), r.getDouble(3)))
    val expected = batch.filter { case (ws, _, _, _) => ws + 3600000L <= wmMs }.toSet
    assert(got == expected)
    // the cutoff is actually exercised: the last event's window is open
    assert(expected.nonEmpty && expected.size < batch.length)
  }

  test("streaming curation: score+scrub stream equals batch, content dedup keeps first") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.DocStreams

    val texts = Seq(
      "the quick brown fox of the data lake and the warehouse in the morning",
      "mail me at a.b@corp.example.org about the big table scan of the week",
      "x",                                               // low quality -> filtered
      "der und das ist ein der die das und ist ein der die",
      "the quick brown fox of the data lake and the warehouse in the morning", // exact dup of 0
      "call +1 415 555 0100 or mail a.b@corp.example.org about the big table scan of the week")
    // doc 5 redacts to a different string than doc 1 (extra phone span),
    // so it must SURVIVE dedup; doc 4 is an exact dup and must drop.
    val docs = texts.zipWithIndex.map { case (t, i) => StreamDoc(i.toLong, ts(i.toLong), t) }

    val input = MemoryStream[StreamDoc]
    val q = DocStreams.curateDedupStream(input.toDF(), minQuality = 0.02, "30 minutes")
      .writeStream.format("memory").queryName("cur_out").outputMode("append").start()
    try {
      // Two micro-batches so first-occurrence-wins is deterministic: the
      // original (doc 0) is committed dedup state before its exact dup
      // (doc 4) arrives.
      input.addData(docs.take(3): _*)
      q.processAllAvailable()
      input.addData(docs.drop(3): _*)
      q.processAllAvailable()
      val got = spark.table("cur_out")
        .select("doc_id", "quality", "pred_lang", "n_tok", "clf_score", "text").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getString(2), r.getInt(3),
          r.getDouble(4), r.getString(5)))
        .toSet

      // Batch oracle: same stateless transform on the same rows, then
      // first-occurrence-wins by digest of the redacted text.
      val batch = DocStreams.curateStream(docs.toDF(), minQuality = 0.02)
        .withColumn("digest", xxhash64(col("text")))
      val want = batch.orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getDouble(2), r.getString(3), r.getInt(4),
          r.getDouble(5), r.getString(6)))
        .zip(batch.orderBy("doc_id").select("digest").collect().map(_.getLong(0)))
        .foldLeft((Set.empty[Long], List.empty[(Long, Double, String, Int, Double, String)])) {
          case ((seen, acc), (row, dg)) =>
            if (seen(dg)) (seen, acc) else (seen + dg, row :: acc)
        }._2.toSet
      assert(got == want)
      assert(got.map(_._1) == Set(0L, 1L, 3L, 5L)) // 2 filtered, 4 deduped
      assert(got.forall { case (_, _, _, _, _, t) => !t.contains("@") })
    } finally q.stop()
  }

  test("streaming funnel converges to the batch chain law under out-of-order arrival") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.EventStreams
    import graft.streaming.EventStreams.Event
    import graft.operators.Funnel
    def ev(id: Long, u: Long, t: String, m: Long) =
      Event(id, ts(m), u, t, 0.0)
    val steps = Seq("signup", "click", "purchase")
    // u1 arrives IN order; u2's signup arrives LATE (after its click
    // and purchase) — the chain must rewrite; u3 stalls at click
    val all = Seq(
      ev(0, 1, "signup", 1), ev(1, 1, "click", 2), ev(2, 1, "purchase", 3),
      ev(3, 2, "click", 5), ev(4, 2, "purchase", 6), ev(5, 2, "signup", 3),
      ev(6, 3, "signup", 2), ev(7, 3, "purchase", 1))
    val input = MemoryStream[Event]
    val q = EventStreams.funnelStream(input.toDS(), steps, "1 hour")
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode("update").start()
    try {
      input.addData(all.take(5): _*) // u2 still signup-less
      q.processAllAvailable()
      val mid = spark.table("funnel_out")
        .groupBy("user_id").agg(max(struct(col("stage"), col("t_ms"))).as("s"))
        .select(col("user_id"), col("s.stage")).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(mid(2L) == 0) // click/purchase without signup: not started
      input.addData(all.drop(5): _*) // late signup@3 + u3
      q.processAllAvailable()
      // latest update per user (update mode appends to the memory sink)
      val got = spark.table("funnel_out").withColumn("rn",
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy("user_id").orderBy(monotonically_increasing_id().desc)))
        .where(col("rn") === 1)
        .select("user_id", "stage", "t_ms").collect()
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getSeq[Long](2).toList))).toMap
      // batch oracle on the full event set
      val want = Funnel.funnelTimes(all.toDF(), "user_id", "event_type",
          "ts", "event_id", steps).collect()
        .map { r =>
          val ts3 = (1 to 3).map(i => Option(r.getTimestamp(i)).map(_.getTime))
          r.getLong(0) -> ((ts3.takeWhile(_.isDefined).length,
            ts3.takeWhile(_.isDefined).map(_.get).toList))
        }.toMap
      assert(got == want)
      assert(got(2L)._1 == 3) // the late signup completed u2's chain
      assert(got(3L)._1 == 1) // purchase BEFORE signup never counts
    } finally q.stop()
  }

  test("funnelStream reaps state past the retention horizon: final emission + fresh restart (r9 pin)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // Regression pin for the r9 state-bounding fix: once the watermark
    // passes retentionMs beyond a user's last event, the event-time
    // timeout must (a) emit the settled progress one final time and
    // (b) REMOVE the state — observable because a later event for the
    // same user then starts a fresh chain instead of extending the
    // old one.
    val steps = Seq("signup", "click")
    val input = MemoryStream[Event]
    val q = EventStreams.funnelStream(input.toDS(), steps,
        watermark = "10 minutes", maxKeep = 64, retentionMs = 60000L)
      .writeStream.format("memory").queryName("funnel_reap_out")
      .outputMode("update").start()
    try {
      // batch 1: u1 completes the chain -> one stage-2 update row
      input.addData(Event(0, ts(1), 1, "signup", 0.0),
        Event(1, ts(2), 1, "click", 0.0))
      q.processAllAvailable()
      // advance the watermark far past lastMs + retention (ts(2) + 1
      // min); the timeout fires against the batch-start watermark, so
      // advance twice
      input.addData(Event(2, ts(120), 9, "view", 0.0))
      q.processAllAvailable()
      input.addData(Event(3, ts(125), 9, "view", 0.0))
      q.processAllAvailable()
      val afterReap = spark.table("funnel_reap_out")
        .where(col("user_id") === 1L).collect()
        .map(r => (r.getInt(1), r.getSeq[Long](2).toList))
      // the update row AND the timeout's final emission, both stage 2
      assert(afterReap.length == 2, afterReap.mkString(","))
      assert(afterReap.forall(_ == ((2, List(base + 60000L, base + 120000L)))),
        afterReap.mkString(","))
      // batch 4: a lone click for u1 — state was removed, so the chain
      // restarts and click-without-signup is stage 0 (pre-fix, the
      // surviving state would have kept u1 at stage 2)
      input.addData(Event(4, ts(130), 1, "click", 0.0))
      q.processAllAvailable()
      val last = spark.table("funnel_reap_out")
        .where(col("user_id") === 1L)
        .withColumn("rn", row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(monotonically_increasing_id().desc)))
        .where(col("rn") === 1).collect()
        .map(r => (r.getInt(1), r.getSeq[Long](2).toList)).head
      assert(last == ((0, Nil)), s"state not reaped: $last")
    } finally q.stop()
  }

  test("trained classifier serves a stream identically to batch scoring") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.DocStreams
    import graft.operators.Training

    val texts = Seq(
      "spark scan join filter group sort the a of merge",
      "the a of the a of the a of the a",
      "spark spark merge window hash row key data spark",
      "window hash row key data the a of sort group",
      "spark join join filter the merge hash data row key")
    val docs = texts.zipWithIndex.map { case (t, i) => StreamDoc(i.toLong, ts(i.toLong), t) }
    // train in batch (label: contains "spark"), serve on the stream
    val w = Training.trainLogRegWeights(docs.toDF(), "text",
      array_contains(split(col("text"), " "), "spark"), dim = 16)
    assert(w.exists(_ != 0L))

    val input = MemoryStream[StreamDoc]
    val q = DocStreams.classifyStream(input.toDF(), w)
      .writeStream.format("memory").queryName("clf_out").outputMode("append").start()
    try {
      input.addData(docs: _*)
      q.processAllAvailable()
      val got = spark.table("clf_out").select("doc_id", "pq", "pred_keep")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val want = DocStreams.classifyStream(docs.toDF(), w)
        .select("doc_id", "pq", "pred_keep")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == want)
      assert(got.nonEmpty && got.map(_._3).contains(1))
    } finally q.stop()
  }

  test("streaming incremental dedup probes the persisted index and dedups in-stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.DocStreams
    import graft.operators.Dedup

    // historical corpus -> persisted digest index
    val hist = Seq((100L, "seen before text"), (101L, "ancient doc"))
      .toDF("doc_id", "text")
    Dedup.writeDigestIndex(hist, "doc_id", "text", "t_stream_idx", 4)

    val docs = Seq(
      StreamDoc(0L, ts(0L), "seen before text"),  // in index -> dropped
      StreamDoc(1L, ts(1L), "fresh doc one"),
      StreamDoc(2L, ts(2L), "fresh doc two"),
      StreamDoc(3L, ts(3L), "fresh doc one"),     // in-stream dup -> dropped
      StreamDoc(4L, ts(4L), "ancient doc"))       // in index -> dropped
    val input = MemoryStream[StreamDoc]
    val q = DocStreams.incrementalDedupStream(input.toDF(),
        spark.table("t_stream_idx"), "30 minutes")
      .writeStream.format("memory").queryName("incr_out").outputMode("append").start()
    try {
      input.addData(docs.take(2): _*)
      q.processAllAvailable()
      input.addData(docs.drop(2): _*)
      q.processAllAvailable()
      val got = spark.table("incr_out").select("doc_id").as[Long].collect().toSet
      assert(got == Set(1L, 2L))
    } finally q.stop()
  }

  test("streaming fuzzy dedup: foreachBatch over the persisted minhash index equals batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.IndexLifecycle

    // standing corpus with planted near-dup partners for the stream
    val rnd = new scala.util.Random(7)
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo",
      "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima")
    def doc(): String =
      Seq.fill(80)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val baseRows = (0L until 30L).map(i => (i, doc()))
    val baseDf = baseRows.toDF("doc_id", "text")
    IndexLifecycle.writeGrowableMinHashIndex(baseDf, "doc_id", "text", "t_stream_mh", 4)

    // stream = near-copies of base docs 0-5 (one word changed) plus
    // one novel doc with no partner
    val deltaRows = (0L until 6L).map { i =>
      val words = baseRows(i.toInt)._2.split(" ")
      words(3) = "zulu"
      StreamDoc(100L + i, ts(i), words.mkString(" "))
    } :+ StreamDoc(200L, ts(9), doc())
    val input = MemoryStream[StreamDoc]
    val got = scala.collection.mutable.Set[(Long, Long, Double)]()
    // fuzzy candidate generation needs a distinct over candidate pairs
    // (not stream-native in append mode), so the production shape is
    // foreachBatch running the BATCH probe against the standing index.
    // Each micro-batch probes, then appends itself, so the next batch
    // is swept against it too — the continuous-crawl shape; the verify
    // texts are the base plus every batch appended so far.
    val appended = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    val q = input.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        got.synchronized {
          val rows = batch.select("doc_id", "text").as[(Long, String)].collect()
          val delta = rows.toSeq.toDF("doc_id", "text")
          got ++= IndexLifecycle.probeStandingMinHashIndex(delta, "doc_id",
              "text", "t_stream_mh", baseDf.union(appended.toSeq.toDF("doc_id", "text")),
              threshold = 0.5)
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          IndexLifecycle.appendToMinHashIndex(delta, "doc_id", "text", "t_stream_mh")
          appended ++= rows
        }
        ()
      }
      .start()
    try {
      input.addData(deltaRows.take(3): _*)
      q.processAllAvailable()
      input.addData(deltaRows.drop(3): _*)
      q.processAllAvailable()
      assert(IndexLifecycle.minhashIndexFsck(spark, "t_stream_mh"),
        "rows == hist + log after the streamed appends")
      assert(appended.map(_._1).toSet == deltaRows.map(_.doc_id).toSet)
      IndexLifecycle.writeGrowableMinHashIndex(baseDf, "doc_id", "text",
        "t_stream_mh_ref", 4)
      val want = IndexLifecycle.probeStandingMinHashIndex(
          deltaRows.map(d => (d.doc_id, d.text)).toDF("doc_id", "text"),
          "doc_id", "text", "t_stream_mh_ref", baseDf, threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // every planted partner found (j ~ 0.9+ >> 0.5), novel doc clean
      assert(want.map(_._1) == (100L until 106L).toSet)
      assert(got.toSet == want)
    } finally q.stop()
  }

  test("streaming ANN serve: foreachBatch over the persisted IVF index equals batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Similarity

    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    Similarity.writeIvfIndex(e, "vec_id", "embedding", nCells = 8,
      "t_stream_ivf_cent", "t_stream_ivf_asg", buckets = 4)

    val qRows = e.where(col("vec_id") < 6)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => StreamQVec(r.getLong(0), r.getSeq[Double](1)))
    val input = MemoryStream[StreamQVec]
    val got = scala.collection.mutable.Set[(Long, Long, Int)]()
    // per-micro-batch serving: rank windows aren't stream-native, so
    // the production shape is foreachBatch running the BATCH operator
    // against the static index — per-batch top-k is exactly the
    // semantics a query stream wants
    val q = input.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        got.synchronized {
          got ++= Similarity.ivfTopKFromIndex(batch,
              spark.table("t_stream_ivf_cent"), spark.table("t_stream_ivf_asg"),
              k = 3, nprobe = 2)
            .select("qid", "id", "rk")
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        }
        ()
      }
      .start()
    try {
      input.addData(qRows.take(3): _*)
      q.processAllAvailable()
      input.addData(qRows.drop(3): _*)
      q.processAllAvailable()
      val want = Similarity.ivfTopKFromIndex(
          qRows.toSeq.toDF("qid", "vec").select(col("qid"), col("vec")),
          spark.table("t_stream_ivf_cent"), spark.table("t_stream_ivf_asg"),
          k = 3, nprobe = 2)
        .select("qid", "id", "rk")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got.toSet == want)
    } finally q.stop()
  }

  test("HLL sketch state streams: incremental register maxes equal the batch sketch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Sketches

    // The sketch's open state (reg -> max rho) is an algebraic
    // aggregate, so the SAME operator runs unchanged as a streaming
    // groupBy in update mode — registers converge to the batch answer
    // as batches arrive, which is what makes the sketch usable for
    // live cardinality over an unbounded stream.
    val keys = (0L until 5000L).map(i => i * 7919L + 13L)
    val input = MemoryStream[Long]
    val regs = Sketches.hllRegisters(input.toDF(), Sketches.md5Hash32(col("value")), p = 10)
    val q = regs.writeStream.format("memory")
      .queryName("hll_out").outputMode("complete").start()
    try {
      input.addData(keys.take(2000): _*)
      q.processAllAvailable()
      input.addData(keys.drop(2000): _*)
      q.processAllAvailable()
      val got = spark.table("hll_out").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val batch = Sketches.hllRegisters(
        keys.toDF("value"), Sketches.md5Hash32(col("value")), p = 10)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(got == batch)
      // and the estimate built from the streamed state is the batch one
      val estS = Sketches.hllEstimate(spark.table("hll_out"), p = 10)
        .collect()(0).getAs[Double]("est")
      val estB = Sketches.hllEstimate(
        Sketches.hllRegisters(keys.toDF("value"), Sketches.md5Hash32(col("value")), p = 10),
        p = 10).collect()(0).getAs[Double]("est")
      assert(estS == estB)
    } finally q.stop()
  }

  test("bloom word table streams: incremental bit_or equals the batch filter") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Sketches

    val keys = (0L until 3000L).map(i => i * 104729L + 7L)
    val input = MemoryStream[Long]
    val words = Sketches.bloomWordTable(input.toDF(), col("value"), m = 1 << 13, k = 4)
    val q = words.writeStream.format("memory")
      .queryName("bloom_out").outputMode("complete").start()
    try {
      input.addData(keys.take(1000): _*)
      q.processAllAvailable()
      input.addData(keys.drop(1000): _*)
      q.processAllAvailable()
      val got = spark.table("bloom_out").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val batch = Sketches.bloomWordTable(keys.toDF("value"), col("value"),
        m = 1 << 13, k = 4)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == batch)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("state schema versioning fails fast on a version mismatch (r12 pin)") {
    // A state row restored from a checkpoint written by a different
    // schema generation must surface as a clear restart-from-new-
    // checkpoint error, not as silently wrong sessions/funnels. The
    // current version stamps both state classes by default...
    assert(EventStreams.SessionState(0L, 0L, 1L, 0.0).ver ==
      EventStreams.StateSchemaVersion)
    assert(EventStreams.FunnelState(Seq(Seq(1L))).ver ==
      EventStreams.StateSchemaVersion)
    // ...and the checker pins the message operators raise when they
    // meet any other generation.
    val e = intercept[IllegalStateException] {
      EventStreams.checkStateVersion(EventStreams.StateSchemaVersion - 1,
        "FunnelState")
    }
    assert(e.getMessage.contains("incompatible with this build"))
    assert(e.getMessage.contains("NEW checkpoint location"))
    assert(e.getMessage.contains("no in-place state migration"))
    // same generation passes silently
    EventStreams.checkStateVersion(EventStreams.StateSchemaVersion, "SessionState")
  }

  test("streaming image dedup: foreachBatch over the persisted dHash index equals batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{Dedup, Multimodal}

    // standing media corpus (text-backed payloads) with planted
    // near-dup partners for the stream: same-length one-char edits,
    // the pooled-grid-local mutation the image gates use
    val rnd = new scala.util.Random(13)
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo",
      "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima")
    def doc(): String =
      Seq.fill(80)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val baseRows = (0L until 20L).map(i => (i, doc()))
    def media(df: org.apache.spark.sql.DataFrame) =
      Multimodal.fromDocuments(df.withColumn("src", lit("s")),
        "doc_id", "text", "src")
    val baseDf = baseRows.toDF("doc_id", "text")
    Dedup.writeDHashIndex(media(baseDf), "t_stream_dh", 4)

    val deltaRows = (0L until 5L).map { i =>
      val chars = baseRows(i.toInt)._2.toCharArray
      chars(7 + i.toInt) = 'Z'
      StreamDoc(100L + i, ts(i), new String(chars))
    } :+ StreamDoc(200L, ts(9), doc())
    val input = MemoryStream[StreamDoc]
    val got = scala.collection.mutable.Set[(Long, Long, Int)]()
    // same production shape as the fuzzy sweep: the candidate join
    // needs a distinct over chunk collisions (not stream-native in
    // append mode), so foreachBatch runs the BATCH probe per
    // micro-batch against the static bucketed index
    val q = input.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        got.synchronized {
          got ++= Dedup.incrementalImageNearDups(
              media(batch.select("doc_id", "text")), spark.table("t_stream_dh"))
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        }
        ()
      }
      .start()
    try {
      input.addData(deltaRows.take(2): _*)
      q.processAllAvailable()
      input.addData(deltaRows.drop(2): _*)
      q.processAllAvailable()
      val want = Dedup.incrementalImageNearDups(
          media(deltaRows.map(d => (d.doc_id, d.text)).toDF("doc_id", "text")),
          spark.table("t_stream_dh"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got.toSet == want)
      // every planted partner must pair with its base original
      (0L until 5L).foreach { i =>
        assert(want.exists(p => p._1 == 100L + i && p._2 == i),
          s"plant $i missing from $want")
      }
    } finally q.stop()
  }
}
