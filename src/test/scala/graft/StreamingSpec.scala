package graft

import graft.operators.EventOps
import graft.streaming.StreamOps
import org.scalatest.concurrent.{Signaler, TimeLimitedTests}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

/** Streaming twins must agree with their batch counterparts when the
  * whole table is replayed as one stream. */
class StreamingSpec extends AnyFunSuite with TimeLimitedTests {
  import TestSession._

  /** No drain here or in StreamOps' replay helpers has a limit of its
    * own, so each test body runs under this one: a wedged micro-batch
    * then fails its test by name instead of eating the suite's budget.
    * The slowest test took 14.9 s with a cold session (5.0 s in a full
    * suite run, 4 cores); the limit leaves more than 5× headroom. */
  val timeLimit = 80.seconds
  /** On timeout, stop every active query: `processAllAvailable` returns
    * once its query is inactive, so the blocked body can unwind. */
  override val defaultTestSignaler: Signaler =
    Signaler(_ => spark.streams.active.foreach(_.stop()))

  test("streaming exact dedup keeps one survivor per content hash (matches batch groups)") {
    val docs = StreamOps.readDocuments(spark, sf)
    val q = StreamOps.dedupExact(docs).writeStream
      .outputMode("append").format("memory").queryName("dedup").start()
    try {
      q.processAllAvailable()
      val stream = spark.table("dedup").collect()
        .map(_.getString(1)).toSeq
      // one row per distinct hash, and the hash set matches the batch op
      assert(stream.distinct.size == stream.size)
      val batch = graft.operators.DedupOps.exact(spark, sf)
        .select("text_hash").collect().map(_.getString(0)).toSet
      assert(stream.toSet == batch)
    } finally q.stop()
  }

  test("streaming LSH candidates cover the batch minhash pairs on full replay") {
    val docs = StreamOps.readDocuments(spark, sf)
    val q = StreamOps.minhashCandidates(spark, docs).writeStream
      .outputMode("append").format("memory").queryName("mhcands").start()
    try {
      q.processAllAvailable()
      val cands = spark.table("mhcands").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // every batch-VERIFIED near-dup pair shares at least one band
      // bucket, so the streaming candidate set must cover it
      val verified = graft.operators.DedupOps.minhashLsh(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(verified.subsetOf(cands),
        s"missing ${verified -- cands} of ${verified.size} verified pairs " +
          s"from ${cands.size} candidates")
      assert(cands.forall { case (a, b) => a < b })
    } finally q.stop()
  }

  test("minhash candidate state expires after the ingest-time TTL") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{col, timestamp_millis}
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t0 = 1700000000000L // arbitrary fixed origin
    val hour = 3600L * 1000
    // (doc_id, text, ingest epoch-ms) — doc 2 duplicates doc 1
    val input = MemoryStream[(Long, String, Long)]
    val docs = input.toDF().toDF("doc_id", "text", "ms")
      .withColumn("ingest_ts", timestamp_millis(col("ms")))
    val q = StreamOps.minhashCandidates(spark, docs, ttlMillis = hour)
      .writeStream.outputMode("append").format("memory")
      .queryName("mhttl").start()
    try {
      def stateRows: Long =
        q.lastProgress.stateOperators.head.numRowsTotal
      val text1 = "the quick brown fox jumps over the lazy dog again and again"
      val text9 = "completely different content with no shared shingles at all here"
      input.addData((1L, text1, t0))
      q.processAllAvailable()
      val after1 = stateRows
      assert(after1 > 0, "bucket state should exist after first doc")
      // 3 hours later (> TTL): watermark advance expires doc 1's buckets
      input.addData((9L, text9, t0 + 3 * hour))
      q.processAllAvailable()
      // one more batch so timeouts fire against the advanced watermark
      input.addData((10L, text9 + " x", t0 + 3 * hour + 1))
      q.processAllAvailable()
      assert(stateRows < after1 + 32,
        s"expired buckets must be dropped, state=$stateRows")
      // a dup of doc 1 arriving after expiry finds no surviving state:
      // no candidate pair is emitted (the TTL trade-off, by design)
      input.addData((2L, text1, t0 + 3 * hour + 2))
      q.processAllAvailable()
      val pairs = spark.table("mhttl").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(!pairs.contains((1L, 2L)),
        "pair across an expired TTL window must not appear")
      // within-window dup still pairs: doc 3 duplicates doc 2
      input.addData((3L, text1, t0 + 3 * hour + 3))
      q.processAllAvailable()
      val pairs2 = spark.table("mhttl").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs2.contains((2L, 3L)),
        s"within-window dup must still produce a candidate, got $pairs2")
    } finally q.stop()
  }

  test("stream-stream interval join matches the batch range join on full replay") {
    val events = StreamOps.readEvents(spark, sf)
    val q = StreamOps.intervalJoin(events).writeStream
      .outputMode("append").format("memory").queryName("ivjoin").start()
    try {
      q.processAllAvailable()
      val stream = spark.table("ivjoin").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val batch = EventOps.rangeJoin(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(stream == batch,
        s"stream-only: ${stream -- batch}; batch-only: ${batch -- stream}")
      // both sides watermarked: join state is bounded, not corpus-sized
      assert(q.lastProgress.stateOperators.nonEmpty)
    } finally q.stop()
  }

  test("streaming window agg matches batch on full replay") {
    val events = StreamOps.readEvents(spark, sf)
    val q = StreamOps.windowAgg(events).writeStream
      .outputMode("complete").format("memory").queryName("winagg").start()
    try {
      q.processAllAvailable()
      val stream = spark.table("winagg")
        .selectExpr("hour_ts", "event_type", "n").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      val batch = EventOps.windowAgg(spark, sf)
        .selectExpr("hour_ts", "event_type", "n").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(stream == batch)
    } finally q.stop()
  }

  test("streaming sessionization emits exactly the closed sessions") {
    val events = StreamOps.readEvents(spark, sf)
    val q = StreamOps.sessionize(spark, events).writeStream
      .outputMode("append").format("memory").queryName("sessions").start()
    try {
      q.processAllAvailable()
      val emitted = spark.table("sessions")
        .selectExpr("user_id", "session_start_ms", "n_events").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val batch = EventOps.sessionize(spark, sf)
        .selectExpr("user_id", "session_start_ms", "n_events").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // one un-timed-out open session may remain in state per user
      assert(emitted.subsetOf(batch))
      val nUsers = Engine.table(spark, sf, "events")
        .select("user_id").distinct().count()
      assert(emitted.size >= batch.size - nUsers)
      assert(emitted.nonEmpty)
    } finally q.stop()
  }

  test("streaming k-funnel matches the batch k-funnel on full replay") {
    val got = StreamOps.funnelKReplay(spark, sf).collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2), r.getBoolean(3))).toSet
    val batch = EventOps.funnelK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2), r.getBoolean(3))).toSet
    assert(got == batch,
      s"replay ${got.size} users vs batch ${batch.size}; " +
        s"missing=${(batch -- got).take(3)} extra=${(got -- batch).take(3)}")
  }

  test("sessionize replay with watermark sentinels closes every session (= batch)") {
    // the registered oracle twin: sentinel batches push the watermark
    // past every real tail session, so the emitted set is the COMPLETE
    // batch sessionization, not a subset
    val got = StreamOps.sessionizeReplay(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = EventOps.sessionize(spark, sf)
      .selectExpr("user_id", "session_start_ms", "n_events").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == batch,
      s"replay ${got.size} sessions vs batch ${batch.size}; " +
        s"missing=${(batch -- got).take(3)} extra=${(got -- batch).take(3)}")
  }

  test("as-of enrichment state expires for idle users after the TTL") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{col, timestamp_millis}
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t0 = 1700000000000L
    val hour = 3600L * 1000
    // (event_id, user_id, event_type, value, epoch-ms)
    val input = MemoryStream[(Long, Long, String, Double, Long)]
    val events = input.toDF()
      .toDF("event_id", "user_id", "event_type", "value", "ms")
      .withColumn("ts", timestamp_millis(col("ms")))
    val q = StreamOps.asofEnrich(spark, events, ttlMillis = hour)
      .writeStream.outputMode("append").format("memory")
      .queryName("asofttl").start()
    try {
      def stateRows: Long =
        q.lastProgress.stateOperators.head.numRowsTotal
      input.addData((1L, 1L, "purchase", 10.0, t0),
        (2L, 1L, "click", 0.0, t0 + 1000))
      q.processAllAvailable()
      assert(stateRows == 1, s"one user's purchase state expected, got $stateRows")
      // 3 hours later (> watermark delay + TTL): user 1 goes idle
      input.addData((3L, 2L, "click", 0.0, t0 + 3 * hour))
      q.processAllAvailable()
      // one more batch so the timeout fires against the advanced watermark
      input.addData((4L, 2L, "click", 0.0, t0 + 3 * hour + 1000))
      q.processAllAvailable()
      assert(stateRows == 0,
        s"idle user's state must expire (user 2 never purchased), got $stateRows")
      // user 1 returns after expiry: re-warms from scratch, click sees no value
      input.addData((5L, 1L, "click", 0.0, t0 + 3 * hour + 2000))
      q.processAllAvailable()
      val enriched = spark.table("asofttl").collect()
        .map(r => r.getLong(0) -> Option(r.get(2))).toMap
      assert(enriched(2L).contains(10.0), "within-window click carries the purchase")
      assert(enriched(5L).isEmpty, "post-expiry click must NOT see the old purchase")
    } finally q.stop()
  }

  test("streaming SCD2 emits exactly the batch op's closed intervals on replay") {
    val got = StreamOps.scd2Replay(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val want = SparkEntry.queries("events_scd2")(spark, sf)
      .filter(org.apache.spark.sql.functions.col("valid_to_ms").isNotNull)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == want, s"stream/batch SCD2 divergence: ${(got diff want).take(3)}")
  }

  test("streaming SCD2 closes intervals across micro-batch boundaries") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{col, timestamp_millis}
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t0 = 1700000000000L
    val input = MemoryStream[(Long, Long, String, Long)]
    val events = input.toDF()
      .toDF("event_id", "user_id", "event_type", "ms")
      .withColumn("ts", timestamp_millis(col("ms")))
    val q = StreamOps.scd2(spark, events).toDF.writeStream
      .outputMode("append").format("memory").queryName("scd2xb").start()
    try {
      input.addData((1L, 1L, "view", t0), (2L, 1L, "view", t0 + 1000))
      q.processAllAvailable()
      assert(spark.table("scd2xb").count() == 0, "no change yet → no closed row")
      // the change arrives in a LATER batch: the open interval from
      // batch 1's state must close at the new event's timestamp
      input.addData((3L, 1L, "click", t0 + 5000))
      q.processAllAvailable()
      val rows = spark.table("scd2xb").collect()
        .map(r => (r.getString(1), r.getLong(2), r.getLong(3))).toSeq
      assert(rows == Seq(("view", t0, t0 + 5000)), s"got $rows")
    } finally q.stop()
  }

  test("streaming moving average is bit-identical to the batch RANGE window on replay") {
    val got = StreamOps.movingAvgReplay(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5))).toSet
    val want = SparkEntry.queries("events_moving_avg")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5))).toSet
    assert(got == want, {
      val bad = want -- got
      s"moving-avg divergence on ${bad.size} events: ${bad.take(3)}"
    })
  }

  test("streaming moving average evicts across micro-batch boundaries") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{col, timestamp_millis}
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t0 = 1700000000000L
    val input = MemoryStream[(Long, Long, Double, Long)]
    val events = input.toDF()
      .toDF("event_id", "user_id", "value", "ms")
      .withColumn("ts", timestamp_millis(col("ms")))
    val q = StreamOps.movingAvg(spark, events).toDF.writeStream
      .outputMode("append").format("memory").queryName("maxb").start()
    try {
      input.addData((1L, 1L, 2.0, t0), (2L, 1L, 4.0, t0 + 1000))
      q.processAllAvailable()
      // a later batch: event at t0+30min still sees both, event at
      // t0+2h sees only itself (earlier entries evicted)
      input.addData((3L, 1L, 6.0, t0 + 1800000))
      input.addData((4L, 1L, 8.0, t0 + 7200000))
      q.processAllAvailable()
      val rows = spark.table("maxb").collect()
        .map(r => r.getLong(0) -> ((r.getLong(3), r.getDouble(4)))).toMap
      assert(rows(1L) == ((1L, 2.0)) && rows(2L) == ((2L, 6.0)), s"$rows")
      assert(rows(3L) == ((3L, 12.0)), s"in-window batch-2 event: $rows")
      assert(rows(4L) == ((1L, 8.0)), s"eviction failed: $rows")
    } finally q.stop()
  }

  test("streaming bot score matches the batch op on replay") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)), r.getBoolean(3))
    val got = StreamOps.botScoreReplay(spark, sf).collect().map(key).toSet
    val want = SparkEntry.queries("events_bot_score")(spark, sf)
      .collect().map(key).toSet
    assert(got == want, s"bot-score divergence: ${(want -- got).take(3)}")
  }

  test("streaming bot score accumulates gap moments across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{col, timestamp_millis}
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t0 = 1700000000000L
    val input = MemoryStream[(Long, Long, Long)]
    val events = input.toDF().toDF("event_id", "user_id", "ms")
      .withColumn("ts", timestamp_millis(col("ms")))
    val q = StreamOps.botScore(spark, events).toDF.writeStream
      .outputMode("update").format("memory").queryName("botxb").start()
    try {
      // batch 1: a perfectly regular 10 s tick (3 events → 2 gaps)
      input.addData((1L, 1L, t0), (2L, 1L, t0 + 10000), (3L, 1L, t0 + 20000))
      q.processAllAvailable()
      // batch 2: the tick continues — the gap BETWEEN batches must
      // count (state carries the last event), total 3 gaps, CV² = 0
      input.addData((4L, 1L, t0 + 30000))
      q.processAllAvailable()
      val last = spark.table("botxb").collect()
        .map(r => (r.getLong(1), r.getDouble(2))).maxBy(_._1)
      assert(last == ((3L, 0.0)), s"expected 3 zero-variance gaps: $last")
    } finally q.stop()
  }

  test("streaming bloom probe is bit-identical to the batch membership op") {
    val got = StreamOps.bloomProbeReplay(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val want = graft.operators.DedupOps.bloomFilterDedup(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got == want, {
      val bad = want.collect { case (k, v) if got.get(k) != Some(v) => k }
      s"bloom verdict divergence on ${bad.size} docs: ${bad.take(5)}"
    })
  }

  test("streaming quality scoring is bit-identical to the batch classifier") {
    val got = StreamOps.qualityScoreReplay(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val want = graft.operators.MlOps.qualityClassifier(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got == want, {
      val bad = want.collect { case (k, v) if got.get(k) != Some(v) => k }
      s"quality score divergence on ${bad.size} docs: ${bad.take(5)}"
    })
  }

  test("streaming CDC compaction matches the batch compaction on full replay") {
    val got = StreamOps.cdcCompactReplay(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = SparkEntry.queries("events_cdc_compact")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want, s"stream/batch CDC divergence: ${(got diff want).take(3)}")
  }

  test("CDC compaction converges under out-of-order and duplicate delivery") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{col, timestamp_millis}
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t0 = 1700000000000L
    val input = MemoryStream[(Long, Long, String, Double, Long)]
    val events = input.toDF()
      .toDF("event_id", "user_id", "event_type", "value", "ms")
      .withColumn("ts", timestamp_millis(col("ms")))
    val q = StreamOps.cdcCompact(spark, events).toDF.writeStream
      .outputMode("update").format("memory").queryName("cdcooo").start()
    try {
      // batch 1: the LATEST event arrives first
      input.addData((10L, 1L, "purchase", 5.0, t0 + 5000))
      q.processAllAvailable()
      // batch 2: an EARLIER event + a duplicate of the latest — the
      // snapshot must not regress, and must stay stable
      input.addData((9L, 1L, "click", 1.0, t0 + 1000),
        (10L, 1L, "purchase", 5.0, t0 + 5000))
      q.processAllAvailable()
      // batch 3: same-ms tie broken by higher event_id
      input.addData((11L, 1L, "view", 2.0, t0 + 5000))
      q.processAllAvailable()
      val last = spark.table("cdcooo").collect()
        .maxBy(r => r.getLong(2) -> r.getLong(1))
      assert(last.getLong(1) == 11L && last.getString(3) == "view",
        s"expected event 11 as current state, got $last")
    } finally q.stop()
  }

  test("streaming funnel matches the batch funnel on full replay") {
    val got = StreamOps.funnelReplay(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    val batch = EventOps.funnel(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(got == batch)
  }

  test("streaming attribution matches batch attribution on full replay") {
    val got = StreamOps.attributionReplay(spark, sf).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getString(2), Option(r.get(3))))).toMap
    val batch = EventOps.attribution(spark, sf).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getString(2), Option(r.get(3))))).toMap
    assert(got == batch)
  }

  test("streaming as-of enrichment matches batch as-of join") {
    val events = StreamOps.readEvents(spark, sf)
    val q = StreamOps.asofEnrich(spark, events).writeStream
      .outputMode("append").format("memory").queryName("enriched").start()
    try {
      q.processAllAvailable()
      val stream = spark.table("enriched")
        .selectExpr("event_id", "last_purchase_value").collect()
        .map(r => (r.getLong(0), Option(r.get(1)))).toMap
      val batch = EventOps.asofJoin(spark, sf)
        .selectExpr("event_id", "last_purchase_value").collect()
        .map(r => (r.getLong(0), Option(r.get(1)))).toMap
      assert(stream == batch)
    } finally q.stop()
  }

  test("streaming heavy hitters: replay equals batch, candidates survive multi-batch ingest") {
    // full replay (single micro-batch): pass-1 candidates + exact
    // recount must equal the batch two-pass op exactly
    val replay = StreamOps.heavyHittersReplay(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val batch = graft.operators.TextOps.heavyHitters(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(replay == batch, s"stream+recount diverged from batch")
    assert(batch.nonEmpty)

    // multi-batch: split the corpus across two files ingested as
    // separate micro-batches (maxFilesPerTrigger=1) — the per-bucket
    // MG guarantee is batch-split-independent, so every batch heavy
    // hitter must still be among the candidates
    import org.apache.spark.sql.functions._
    val work = java.nio.file.Files.createTempDirectory("graft_hh_stream")
    val docs = graft.Engine.table(spark, sf, "documents")
    docs.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.parquet(s"$work/part_a/documents.parquet")
    docs.filter(col("doc_id") % 2 === 1).coalesce(1)
      .write.parquet(s"$work/part_b/documents.parquet")
    val schema = docs.schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$work/part_*/documents.parquet/*.parquet")
    val q = StreamOps.heavyHittersCandidates(spark, stream)
      .writeStream.outputMode("update").format("memory")
      .queryName("hh_multibatch").start()
    try {
      q.processAllAvailable()
      val sink = spark.table("hh_multibatch")
      // at least one bucket saw two generations => genuinely multi-batch
      val gens = sink.groupBy(col("bucket")).count()
        .agg(max(col("count"))).collect()(0).getLong(0)
      assert(gens >= 2, "corpus arrived in a single micro-batch; split failed")
      val cands = sink.groupBy(col("bucket"))
        .agg(max_by(col("tokens"), col("n_total")).as("tokens"))
        .select(explode(col("tokens")).as("token"))
        .collect().map(_.getString(0)).toSet
      for ((t, _) <- batch)
        assert(cands.contains(t), s"heavy hitter '$t' missing from multi-batch candidates")
    } finally q.stop()
  }

  test("streaming hourly distinct users matches batch on full replay") {
    val replay = StreamOps.hourlyUsersReplay(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = graft.operators.EventOps.hourlyUsers(spark, sf)
      .select("hour_ts", "n_users")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(replay == batch)
    assert(batch.nonEmpty)
  }
}
