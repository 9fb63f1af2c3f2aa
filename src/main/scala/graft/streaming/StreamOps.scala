package graft.streaming

import graft.Engine
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming twins of graft.operators.EventOps: the same
  * logical pipelines expressed over an unbounded `events` stream.
  * The reference has no streaming at all (SURVEY §0) — this module is
  * part of the training-data-pipeline surface, built on watermarks +
  * windowed aggregation + flatMapGroupsWithState.
  *
  * At 100 TB/day the shapes hold: hash-partition by user_id/window,
  * state pruned by watermark, no driver materialization. Local tests
  * drive them with the parquet file source + memory sink.
  */
object StreamOps {

  /** events schema as the parquet file source needs it (ts read as raw
    * nanos — see Engine.table for the batch twin). */
  private val rawSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Unbounded events stream from a directory of parquet files.
    * The corpus has shipped as either TIMESTAMP(NANOS) or
    * TIMESTAMP(MICROS) parquet across testdata generations (see
    * Engine.table); read the footer's schema on the driver
    * (Engine.parquetSchema, no job) and declare the matching
    * file-source schema — both normalize to µs TimestampType. */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tsType = Engine.parquetSchema(spark, s"$dir/events.parquet")("ts").dataType
    if (tsType == LongType)
      spark.readStream.schema(rawSchema)
        .option("pathGlobFilter", "events.parquet") // file source wants a dir
        .parquet(dir)
        .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else {
      val sch = StructType(rawSchema.map(f =>
        if (f.name == "ts") f.copy(dataType = TimestampNTZType) else f))
      spark.readStream.schema(sch)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir)
        // session timezone is pinned to UTC → epoch-identical cast
        .withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Unbounded documents stream (continuous-ingest dedup regime). */
  def readDocuments(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(docSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)

  /** Streaming exact dedup — twin of DedupOps.exact for the
    * continuous-ingest regime: first-seen document per content hash
    * survives. State is keyed on the 128-bit hash (32 bytes/doc, the
    * same shuffle-payload argument as the batch op) and BOUNDED IN
    * TIME like every stateful op in this file: a watermark on ingest
    * time + `dropDuplicatesWithinWatermark` lets Spark evict hash
    * state once the watermark passes it — duplicates within the
    * dedup horizon are still dropped exactly, and state never grows
    * beyond one horizon of distinct hashes. If `docs` carries no
    * `ingest_ts`, arrival processing time is stamped (same convention
    * as [[minhashCandidates]]). */
  def dedupExact(docs: DataFrame,
      dedupHorizon: String = "24 hours"): DataFrame = {
    val stamped =
      if (docs.columns.contains("ingest_ts")) docs
      else docs.withColumn("ingest_ts", current_timestamp())
    stamped
      .select(col("doc_id"), md5(col("text").cast("binary")).as("text_hash"),
        col("ingest_ts"))
      .withWatermark("ingest_ts", dedupHorizon)
      .dropDuplicatesWithinWatermark("text_hash")
      .drop("ingest_ts")
  }

  // ---------------------------------------- streaming MinHash-LSH

  /** Bit-exact twin of Spark's `xxhash64` on a string column (seed 42
    * over the UTF-8 bytes) — the streaming signature must land in the
    * same LSH buckets as the batch op's. */
  private def xx64(s: String): Long = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
  }

  private val NumPerm = 64
  private val BandRows = 4

  /** Per-document MinHash signature, identical to the batch pipeline
    * (word-3-gram shingles → xxhash64 → splitmix permutations): a
    * document is bounded, so the signature is a cheap row-local map in
    * the streaming regime — no aggregation state needed. */
  private[streaming] def signature(text: String): Array[Long] = {
    val ws = text.split(" ", -1)
    val n = math.max(ws.length - 2, 1)
    val sig = Array.fill(NumPerm)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = xx64(ws.slice(i, i + 3).mkString(" "))
      var j = 0
      while (j < NumPerm) {
        val v = graft.functions.Hashing.mix(h + j * graft.functions.Hashing.Golden)
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    sig
  }

  /** Band-bucket key, identical to the batch `xxhash64(slice(sig, …))`
    * (Spark hashes arrays by folding hashLong with the running hash as
    * seed). */
  private[streaming] def bandHash(sig: Array[Long], band: Int): Long = {
    var h = 42L
    var i = band * BandRows
    while (i < (band + 1) * BandRows) {
      h = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(sig(i), h)
      i += 1
    }
    h
  }

  final case class BandEntry(band: Int, bh: Long, doc_id: Long,
      ingest_ts: java.sql.Timestamp)
  final case class CandPair(doc_a: Long, doc_b: Long, band: Int)

  /** Streaming near-duplicate CANDIDATE detection: continuous
    * MinHash-LSH. Each arriving document hashes into 16 band buckets;
    * per-bucket state remembers previously seen doc ids and every new
    * arrival emits candidate pairs against them. Downstream exact
    * verification (as in the batch op) would join back to the texts.
    *
    * Scale posture: state is per occupied bucket, capped at
    * [[MaxBucket]] ids (a bucket denser than that is a dup cluster —
    * pairing against the first K members already links the cluster),
    * and bounded in TIME by an ingest-time watermark + event-time
    * timeout: a bucket idle for `ttlMillis` is dropped, so state size
    * tracks the active working set instead of the full corpus history.
    * Within the TTL window the candidate set provably covers the batch
    * op's verified pairs — asserted on replay in StreamingSpec, which
    * also pins the expiry behavior.
    *
    * If `docs` has no `ingest_ts` column, arrival processing time is
    * stamped (tests inject explicit timestamps to replay history). */
  val MaxBucket = 64

  /** `watermarkDelay` trades reorder tolerance against state lifetime:
    * a row whose ingest_ts lags the watermark is dropped BEFORE the
    * stateful operator, so replays with out-of-order explicit
    * timestamps need a delay covering their disorder (the default
    * tolerates 10 minutes; in-order tests can pass "0 seconds"). */
  def minhashCandidates(spark: SparkSession, docs: DataFrame,
      ttlMillis: Long = 3600L * 1000,
      watermarkDelay: String = "10 minutes"): Dataset[CandPair] = {
    import spark.implicits._
    val stamped =
      if (docs.columns.contains("ingest_ts")) docs
      else docs.withColumn("ingest_ts", current_timestamp())
    val bandsUdf = udf { (text: String) =>
      val sig = signature(text)
      (0 until NumPerm / BandRows).map(b => (b, bandHash(sig, b)))
    }
    stamped
      .select(col("doc_id"), col("ingest_ts"),
        explode(bandsUdf(col("text"))).as("b"))
      .select(col("b._1").as("band"), col("b._2").as("bh"),
        col("doc_id"), col("ingest_ts"))
      .withWatermark("ingest_ts", watermarkDelay)
      .as[BandEntry]
      .groupByKey(e => (e.band, e.bh))
      .flatMapGroupsWithState[Array[Long], CandPair](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: (Int, Long), rows: Iterator[BandEntry], state: GroupState[Array[Long]]) =>
          if (state.hasTimedOut) {
            // idle bucket: the watermark passed last-arrival + TTL
            state.remove()
            Iterator.empty
          } else {
            val entries = rows.toSeq
            val seen = collection.mutable.ArrayBuffer(
              state.getOption.getOrElse(Array.empty[Long]).toSeq: _*)
            val out = Seq.newBuilder[CandPair]
            entries.map(_.doc_id).distinct.sorted.foreach { id =>
              if (!seen.contains(id)) {
                seen.foreach { other =>
                  out += CandPair(math.min(other, id), math.max(other, id), key._1)
                }
                if (seen.length < MaxBucket) seen += id
              }
            }
            state.update(seen.toArray)
            val lastMs = entries.map(_.ingest_ts.getTime).max
            state.setTimeoutTimestamp(
              math.max(lastMs, state.getCurrentWatermarkMs()) + ttlMillis)
            out.result().iterator
          }
      }
  }

  /** Tumbling 1-hour event-time windows per event_type with a
    * 2-hour watermark — streaming twin of EventOps.windowAgg. */
  def windowAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(unix_timestamp(col("window.start")).as("hour_ts"),
        col("event_type"), col("n"), col("total_value"))

  /** Stream-stream INTERVAL join — streaming twin of
    * EventOps.rangeJoin: every purchase paired with the same user's
    * clicks within ±15 minutes. This is Spark's native stream-stream
    * join with a time-range condition: both sides watermarked, the
    * range predicate bounds how long either side's rows stay in join
    * state, so state size is (rate × window), never corpus-sized —
    * the canonical Structured Streaming interval-join shape. */
  def intervalJoin(events: DataFrame): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "30 minutes")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "30 minutes")
    purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 15 MINUTES") &&
        col("c_ts") <= col("p_ts") + expr("INTERVAL 15 MINUTES"))
      .select(col("purchase_id"), col("click_id"),
        (unix_millis(col("c_ts")) - unix_millis(col("p_ts"))).as("delta_ms"))
  }

  // ------------------------------------------------- sessionization

  final case class Ev(user_id: Long, ts: java.sql.Timestamp, value: Double) {
    def ts_ms: Long = ts.getTime
  }
  final case class SessionState(start_ms: Long, last_ms: Long, n: Long, sum: Double)
  final case class Session(user_id: Long, session_start_ms: Long,
      n_events: Long, session_value: Double)

  private val GapMs = 30L * 60 * 1000

  /** Streaming sessionization: sessions close after a 30-minute
    * event-time silence (in-batch gaps close immediately; the open
    * tail session closes via event-time timeout once the watermark
    * passes). Twin of EventOps.sessionize. */
  def sessionize(spark: SparkSession, events: DataFrame): Dataset[Session] = {
    import spark.implicits._
    events
      .withWatermark("ts", "1 hour")
      // keep the watermarked ts column itself — event-time timeout
      // needs it visible to the stateful operator
      .select(col("user_id"), col("ts"), col("value"))
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[Ev], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(user, s.start_ms, s.n, s.sum))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts_ms)
            val out = Seq.newBuilder[Session]
            var cur = state.getOption
            for (e <- sorted) {
              cur match {
                case Some(s) if e.ts_ms - s.last_ms <= GapMs =>
                  cur = Some(SessionState(s.start_ms, e.ts_ms, s.n + 1, s.sum + e.value))
                case Some(s) =>
                  out += Session(user, s.start_ms, s.n, s.sum)
                  cur = Some(SessionState(e.ts_ms, e.ts_ms, 1, e.value))
                case None =>
                  cur = Some(SessionState(e.ts_ms, e.ts_ms, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last_ms + GapMs)
            }
            out.result().iterator
          }
      }
  }

  /** Streaming as-of enrichment: each click carries the latest
    * purchase value seen so far for that user (processing order within
    * a user is event-time sorted per micro-batch). Stateful twin of
    * EventOps.asofJoin for the streaming regime.
    *
    * State is one Double per user, but the KEY space grows with user
    * cardinality, so it is bounded in time like the MinHash-bucket op
    * ([[minhashCandidates]]): event-time timeout drops a user idle for
    * `ttlMillis` past the watermark — a returning user after that
    * simply re-warms from their next purchase, which is the correct
    * as-of semantics for a bounded-retention join anyway. */
  final case class Tagged(user_id: Long, ts: java.sql.Timestamp,
      is_purchase: Boolean, value: Double, event_id: Long) {
    def ts_ms: Long = ts.getTime
  }
  final case class Enriched(event_id: Long, user_id: Long,
      last_purchase_value: Option[Double])

  def asofEnrich(spark: SparkSession, events: DataFrame,
      ttlMillis: Long = 24L * 3600 * 1000): Dataset[Enriched] = {
    import spark.implicits._
    events
      .filter(col("event_type").isin("purchase", "click"))
      .withWatermark("ts", "1 hour")
      // keep the watermarked ts column itself — event-time timeout
      // needs it visible to the stateful operator
      .select(col("user_id"), col("ts"),
        (col("event_type") === "purchase").as("is_purchase"),
        col("value"), col("event_id"))
      .as[Tagged]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Double, Enriched](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[Tagged], state: GroupState[Double]) =>
          if (state.hasTimedOut) {
            // user idle past TTL: drop their last-purchase state
            state.remove()
            Iterator.empty
          } else {
            val sorted = rows.toSeq.sortBy(t => (t.ts_ms, !t.is_purchase))
            val out = Seq.newBuilder[Enriched]
            var last = state.getOption
            for (t <- sorted) {
              if (t.is_purchase) last = Some(t.value)
              else out += Enriched(t.event_id, user, last)
            }
            last.foreach { v =>
              state.update(v)
              val lastMs = sorted.map(_.ts_ms).max
              state.setTimeoutTimestamp(
                math.max(lastMs, state.getCurrentWatermarkMs()) + ttlMillis)
            }
            out.result().iterator
          }
      }
  }

  /** Streaming last-touch attribution — EventOps.attribution for the
    * unbounded regime (live campaign dashboards). State per user is
    * the LATEST touch (event_id, view?, ms): three numbers, dropped
    * by event-time timeout past `ttlMillis` — a touch is creditable
    * for only AttributionWindowMs, so any TTL ≥ window + watermark
    * delay loses nothing. Rows within a micro-batch are processed in
    * (ms, touch-before-purchase, event_id) order — the batch op's
    * exact tie discipline; across batches a late-arriving touch
    * cannot retro-credit purchases already emitted (append mode) —
    * the same bounded-disorder caveat as [[funnel]]'s conversion
    * count, bounded by the watermark. Single-batch replay sees
    * watermark 0 (nothing late, no timeout) → output is exactly the
    * batch op, sharing EventOps.attributionOracle. */
  final case class TouchRow(user_id: Long, ts: java.sql.Timestamp,
      is_touch: Boolean, is_view: Boolean, event_id: Long) {
    def ts_ms: Long = ts.getTime
  }
  final case class TouchState(t_id: Long, is_view: Boolean, t_ms: Long)
  final case class Attributed(purchase_id: Long, user_id: Long,
      touch_type: String, touch_id: Option[Long])

  def attributionStream(spark: SparkSession, events: DataFrame,
      ttlMillis: Long = 24L * 3600 * 1000): Dataset[Attributed] = {
    import spark.implicits._
    val window = graft.operators.EventOps.AttributionWindowMs
    events
      .filter(col("event_type").isin("click", "view", "purchase"))
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("ts"),
        (col("event_type") =!= "purchase").as("is_touch"),
        (col("event_type") === "view").as("is_view"),
        col("event_id"))
      .as[TouchRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TouchState, Attributed](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[TouchRow], state: GroupState[TouchState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = rows.toSeq
              .sortBy(r => (r.ts_ms, !r.is_touch, r.event_id))
            val out = Seq.newBuilder[Attributed]
            var last = state.getOption
            for (r <- sorted) {
              if (r.is_touch) {
                last = Some(TouchState(r.event_id, r.is_view, r.ts_ms))
              } else {
                val credited = last.filter(_.t_ms >= r.ts_ms - window)
                out += Attributed(r.event_id, user,
                  credited.map(t => if (t.is_view) "view" else "click")
                    .getOrElse("none"),
                  credited.map(_.t_id))
              }
            }
            last.foreach { t =>
              state.update(t)
              val lastMs = sorted.map(_.ts_ms).max
              state.setTimeoutTimestamp(
                math.max(lastMs, state.getCurrentWatermarkMs()) + ttlMillis)
            }
            out.result().iterator
          }
      }
  }

  /** Streaming attribution replay twin — one micro-batch, watermark
    * 0: nothing is late and no timeout fires, so the output equals
    * the batch op and shares its oracle. */
  def attributionReplay(spark: SparkSession, dir: String): DataFrame = {
    val q = attributionStream(spark, readEvents(spark, dir)).toDF().writeStream
      .outputMode("append").format("memory")
      .queryName("events_attribution_stream_sink").start()
    try q.processAllAvailable() finally q.stop()
    spark.table("events_attribution_stream_sink")
      .select(col("purchase_id"), col("user_id"), col("touch_type"),
        col("touch_id"))
  }

  /** Streaming two-step funnel: per user, the running count of
    * purchases landing within one hour of the FIRST click seen —
    * stateful twin of EventOps.funnel for the continuous regime
    * (live conversion dashboards). State is two numbers per user
    * (first-click ms, conversion count) and is TTL-bounded exactly
    * like [[asofEnrich]]: event-time timeout drops users idle past
    * `ttlMillis`. Rows within a micro-batch are processed in event-
    * time order; across batches the first-click floor only ratchets
    * down as earlier clicks arrive (same bounded-disorder caveat as
    * the other stateful ops — the watermark bounds how late). Note
    * that the CONVERSION COUNT is best-effort under cross-batch
    * disorder: when a later batch delivers an earlier click, purchases
    * already counted against the old (later) first click are retained
    * and purchases from earlier batches falling inside the new window
    * are not recounted — the count can diverge from the batch twin
    * until the watermark closes the disorder window. Single-batch
    * replay (the registered oracle twin) is unaffected: it emits one
    * UPDATED summary row per user per batch with activity, so the
    * replay yields exactly the batch funnel. */
  final case class FunnelRow(user_id: Long, ts: java.sql.Timestamp,
      is_purchase: Boolean) {
    def ts_ms: Long = ts.getTime
  }
  final case class FunnelState(firstClickMs: Long, n: Long)
  final case class FunnelOut(user_id: Long, n_conversions: Long,
      converted: Boolean)
  private val FunnelWindowMs = 3600L * 1000

  def funnel(spark: SparkSession, events: DataFrame,
      ttlMillis: Long = 24L * 3600 * 1000): Dataset[FunnelOut] = {
    import spark.implicits._
    events
      .filter(col("event_type").isin("purchase", "click"))
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("ts"),
        (col("event_type") === "purchase").as("is_purchase"))
      .as[FunnelRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelOut](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[FunnelRow], state: GroupState[FunnelState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // clicks before purchases at equal ts: a purchase at the
            // first click's own timestamp counts (ts >= fc)
            val sorted = rows.toSeq.sortBy(r => (r.ts_ms, r.is_purchase))
            var s = state.getOption.getOrElse(FunnelState(Long.MaxValue, 0L))
            for (r <- sorted) {
              if (!r.is_purchase) {
                if (r.ts_ms < s.firstClickMs) s = s.copy(firstClickMs = r.ts_ms)
              } else if (r.ts_ms >= s.firstClickMs &&
                  r.ts_ms <= s.firstClickMs + FunnelWindowMs)
                s = s.copy(n = s.n + 1)
            }
            if (s.firstClickMs == Long.MaxValue) {
              // purchases-only so far: nothing to report, keep no state
              Iterator.empty
            } else {
              state.update(s)
              val lastMs = sorted.map(_.ts_ms).max
              state.setTimeoutTimestamp(
                math.max(lastMs, state.getCurrentWatermarkMs()) + ttlMillis)
              Iterator.single(FunnelOut(user, s.n, s.n > 0))
            }
          }
      }
  }

  // --------------------------------------- correctness registration

  /** Batch-equivalence twin for the driver's oracle gate: runs the
    * REAL streaming interval join (parquet file source → stream-stream
    * range join → memory sink) to completion and returns the sink as a
    * batch DataFrame. The single replay micro-batch makes the result
    * deterministic (watermark starts at 0, nothing is dropped), so it
    * must hash-match EventOps.rangeJoin's oracle. The memory sink holds
    * only the join OUTPUT (same rows as the batch range join — bounded
    * by matches, not corpus size); this entry exists to put the
    * streaming code path under CORRECTNESS, not as a production path. */
  def intervalJoinReplay(spark: SparkSession, dir: String): DataFrame = {
    val q = intervalJoin(readEvents(spark, dir)).writeStream
      .outputMode("append").format("memory")
      .queryName("events_interval_stream_sink").start()
    try q.processAllAvailable() finally q.stop()
    spark.table("events_interval_stream_sink")
  }

  /** Streaming windowed-aggregation replay twin: complete-mode memory
    * sink, so every window is emitted and the result is exact. Only
    * the count column is kept — `total_value` is a float sum whose
    * accumulation order differs between the streaming state store and
    * a batch shuffle, so it has no bit-stable oracle form (the batch
    * `events_window_agg` covers it via exact-decimal summation).
    * Sessionize has no replay twin here: its open tail session stays
    * in state per user (subset, not equality — StreamingSpec pins
    * that containment instead). */
  def windowAggReplay(spark: SparkSession, dir: String): DataFrame = {
    val q = windowAgg(readEvents(spark, dir)).writeStream
      .outputMode("complete").format("memory")
      .queryName("events_window_stream_sink").start()
    try q.processAllAvailable() finally q.stop()
    spark.table("events_window_stream_sink")
      .select(col("hour_ts"), col("event_type"), col("n"))
  }

  /** Streaming as-of enrichment replay twin. A single replay
    * micro-batch sees the watermark at 0, so no row is late-dropped
    * and no TTL fires: the output is exactly the batch as-of join
    * (StreamingSpec asserts the same equality row-by-row), and it can
    * share EventOps.asofJoinOracle verbatim. */
  def asofEnrichReplay(spark: SparkSession, dir: String): DataFrame = {
    val q = asofEnrich(spark, readEvents(spark, dir)).toDF().writeStream
      .outputMode("append").format("memory")
      .queryName("events_asof_stream_sink").start()
    try q.processAllAvailable() finally q.stop()
    spark.table("events_asof_stream_sink")
      .select(col("event_id"), col("user_id"), col("last_purchase_value"))
  }

  /** Streaming CDC log compaction — the continuous twin of
    * [[graft.operators.EventOps.cdcCompact]]: per user, maintain the
    * LATEST event (by ms epoch, then event_id) and emit the updated
    * snapshot row each micro-batch the user is active. This is the
    * materialize-current-state read path of every upsert/CDC
    * pipeline; an Update-mode sink (e.g. a key-value store) keeps one
    * row per key.
    *
    * State posture: deliberately NO timeout — compaction state IS the
    * current-state table, so it must survive idle keys (bounded by
    * |keys| × one small row, not by stream length; evicting an idle
    * user would resurrect an older event as "current" if a late
    * duplicate arrived). The recency comparison is monotone, so
    * out-of-order and duplicate delivery converge to the same state
    * as the batch op — order within a batch doesn't matter either. */
  final case class CdcRow(user_id: Long, event_id: Long,
      event_type: String, value: Double, ts: java.sql.Timestamp) {
    def ts_ms: Long = ts.getTime
  }
  final case class CdcOut(user_id: Long, last_event_id: Long,
      last_ts_ms: Long, last_type: String, last_value: Double)

  def cdcCompact(spark: SparkSession, events: DataFrame): Dataset[CdcOut] = {
    import spark.implicits._
    events
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"), col("ts"))
      .as[CdcRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[CdcOut, CdcOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[CdcRow], state: GroupState[CdcOut]) =>
          var s = state.getOption.orNull
          for (r <- rows) {
            if (s == null || r.ts_ms > s.last_ts_ms ||
                (r.ts_ms == s.last_ts_ms && r.event_id > s.last_event_id))
              s = CdcOut(user, r.event_id, r.ts_ms, r.event_type, r.value)
          }
          state.update(s)
          Iterator.single(s)
      }
  }

  /** Streaming SCD2 — the continuous twin of
    * [[graft.operators.EventOps.scd2]]: per user, maintain the OPEN
    * validity interval of the event_type attribute and emit a CLOSED
    * interval row the moment a type change arrives (Append mode — a
    * closed interval is immutable, exactly what a temporal-table sink
    * wants). State is one small tuple per user, same no-timeout
    * posture as [[cdcCompact]] (the open interval IS the live
    * dimension row; an idle key must keep it).
    *
    * Emission is deterministic under in-order delivery (rows sorted
    * by (ms, event_id) within each batch); the open tail interval
    * stays in state, so a full replay emits exactly the batch op's
    * CLOSED rows — the registered oracle is the batch SCD2 SQL
    * filtered to `valid_to IS NOT NULL`. */
  final case class Scd2Row(user_id: Long, event_id: Long,
      event_type: String, ts: java.sql.Timestamp) {
    def ts_ms: Long = ts.getTime
  }
  final case class Scd2State(event_type: String, valid_from_ms: Long)
  final case class Scd2Out(user_id: Long, event_type: String,
      valid_from_ms: Long, valid_to_ms: Long)

  def scd2(spark: SparkSession, events: DataFrame): Dataset[Scd2Out] = {
    import spark.implicits._
    events
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .as[Scd2Row]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Scd2State, Scd2Out](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[Scd2Row], state: GroupState[Scd2State]) =>
          val sorted = rows.toSeq.sortBy(r => (r.ts_ms, r.event_id))
          val out = Seq.newBuilder[Scd2Out]
          var s = state.getOption.orNull
          for (r <- sorted) {
            if (s == null) {
              s = Scd2State(r.event_type, r.ts_ms)
            } else if (r.event_type != s.event_type) {
              out += Scd2Out(user, s.event_type, s.valid_from_ms, r.ts_ms)
              s = Scd2State(r.event_type, r.ts_ms)
            }
          }
          if (s != null) state.update(s)
          out.result().iterator
      }
  }

  /** SCD2 replay twin: full replay emits exactly the batch op's
    * closed intervals (open tails stay in state). */
  def scd2Replay(spark: SparkSession, dir: String): DataFrame = {
    val q = scd2(spark, readEvents(spark, dir)).toDF().writeStream
      .outputMode("append").format("memory")
      .queryName("events_scd2_stream_sink").start()
    try q.processAllAvailable() finally q.stop()
    spark.table("events_scd2_stream_sink")
  }

  /** CDC replay twin: one micro-batch in Update mode emits exactly one
    * snapshot row per user — the batch cdcCompact output, sharing its
    * oracle verbatim. */
  def cdcCompactReplay(spark: SparkSession, dir: String): DataFrame = {
    val q = cdcCompact(spark, readEvents(spark, dir)).toDF().writeStream
      .outputMode("update").format("memory")
      .queryName("events_cdc_stream_sink").start()
    try q.processAllAvailable() finally q.stop()
    spark.table("events_cdc_stream_sink")
  }

  /** Streaming 1-hour trailing moving average — the continuous twin
    * of [[graft.operators.EventOps.movingAvg]]: per user, a trailing
    * buffer of the last hour's (ms, event_id, µ-unit value) triples;
    * each event emits the count/exact-sum/average of its RANGE frame
    * [t−1h, t] — INCLUDING same-millisecond peers, which the batch
    * RANGE window also counts, so equal-ms runs are processed as one
    * group sharing one frame. Values are quantized with the
    * [[graft.operators.Exact]] discipline ([[graft.operators.Exact.q6]]
    * longs — mode-aware, so GRAFT_EXACT_SUM=decimal rounds HALF_UP
    * exactly like the batch twin's DECIMAL cast — ÷10⁶ on emit) so the
    * float sum is order-free and bit-equal to the batch window and the
    * DuckDB decimal oracle in EITHER mode. State is TTL'd by
    * event-time timeout (one idle hour past the watermark); under
    * cross-batch disorder a late event's frame sees only what the
    * watermark retained — the usual bounded-disorder caveat, and the
    * single-batch replay twin registered for the oracle is exact. */
  final case class MaRow(user_id: Long, event_id: Long,
      ts: java.sql.Timestamp, value: Double) {
    def ts_ms: Long = ts.getTime
  }
  final case class MaState(ms: Array[Long], ids: Array[Long], u6: Array[Long])
  final case class MaOut(event_id: Long, user_id: Long, ts_ms: Long,
      n_win: Long, sum_win: Double, avg_win: Double)

  def movingAvg(spark: SparkSession, events: DataFrame,
      ttlMillis: Long = 3600000L): Dataset[MaOut] = {
    import spark.implicits._
    val WinMs = 3600000L
    events
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .withWatermark("ts", "1 hour")
      .as[MaRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[MaState, MaOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[MaRow], state: GroupState[MaState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val arr = rows.toArray.sortBy(r => (r.ts_ms, r.event_id))
            var buf = state.getOption
              .map(s => s.ms.indices.map(i => (s.ms(i), s.ids(i), s.u6(i))).toList)
              .getOrElse(Nil)
            val out = Seq.newBuilder[MaOut]
            var i = 0
            while (i < arr.length) {
              var j = i
              while (j < arr.length && arr(j).ts_ms == arr(i).ts_ms) j += 1
              val t = arr(i).ts_ms
              for (k <- i until j)
                buf = (t, arr(k).event_id,
                  graft.operators.Exact.q6(arr(k).value)) :: buf
              buf = buf.filter(_._1 >= t - WinMs)
              val n = buf.size.toLong
              val sumWin = buf.map(_._3).sum.toDouble / 1e6
              for (k <- i until j)
                out += MaOut(arr(k).event_id, user, t, n, sumWin, sumWin / n)
              i = j
            }
            val b = buf.toArray
            state.update(MaState(b.map(_._1), b.map(_._2), b.map(_._3)))
            if (arr.nonEmpty)
              state.setTimeoutTimestamp(
                math.max(arr.last.ts_ms, state.getCurrentWatermarkMs()) +
                  ttlMillis)
            out.result().iterator
          }
      }
  }

  /** Moving-average replay twin: single-batch replay = the batch op,
    * sharing its oracle verbatim. */
  def movingAvgReplay(spark: SparkSession, dir: String): DataFrame = {
    val q = movingAvg(spark, readEvents(spark, dir)).toDF().writeStream
      .outputMode("append").format("memory")
      .queryName("events_moving_avg_stream_sink").start()
    try q.processAllAvailable() finally q.stop()
    spark.table("events_moving_avg_stream_sink")
  }

  /** Streaming cadence-regularity bot scoring — the LIVE twin of
    * [[graft.operators.EventOps.botScore]], and the state-size
    * counterpoint to the buffer-holding moving average: the whole
    * per-user state is FOUR numbers (last event position + exact
    * integer gap moments n, Σg, Σg²), so a billion-user firehose
    * carries ~32 B/user of state. Each micro-batch folds its sorted
    * events into the moments and emits the user's refreshed
    * (n_gaps, CV², is_bot) row in Update mode — the continuously
    * current bot verdict. Gap arithmetic and the CV² expression
    * mirror the batch op exactly (hour-capped second gaps, doubles
    * only after exact integer sums), so a single-batch replay IS the
    * batch output and shares its oracle. Cross-batch disorder folds a
    * late event against the wrong predecessor — the usual
    * watermark-bounded caveat; the replay twin is exact. */
  final case class BotRow(user_id: Long, ts: java.sql.Timestamp, event_id: Long) {
    def ts_ms: Long = ts.getTime
  }
  final case class BotState(last_ms: Long, last_id: Long,
      n: Long, sg: Long, sgg: Long)
  final case class BotOut(user_id: Long, n_gaps: Long,
      cv2: Option[Double], is_bot: Boolean)

  def botScore(spark: SparkSession, events: DataFrame): Dataset[BotOut] = {
    import spark.implicits._
    events
      .select(col("user_id"), col("ts"), col("event_id"))
      .withWatermark("ts", "1 hour")
      .as[BotRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[BotState, BotOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[BotRow], state: GroupState[BotState]) =>
          val sorted = rows.toSeq.sortBy(r => (r.ts_ms, r.event_id))
          var s = state.getOption.orNull
          for (r <- sorted) {
            if (s == null) s = BotState(r.ts_ms, r.event_id, 0L, 0L, 0L)
            else {
              val g = math.min((r.ts_ms - s.last_ms) / 1000L, 3600L)
              s = BotState(r.ts_ms, r.event_id,
                s.n + 1, s.sg + g, s.sgg + g * g)
            }
          }
          if (s == null) Iterator.empty
          else {
            state.update(s)
            // a single-event user has no gaps and no batch row yet —
            // emit only once a gap exists, like the batch aggregate
            if (s.n == 0) Iterator.empty
            else {
              val cv2 = if (s.sg > 0)
                Some((s.n * s.sgg.toDouble - s.sg.toDouble * s.sg.toDouble) /
                  (s.sg.toDouble * s.sg.toDouble))
              else None
              Iterator.single(BotOut(user, s.n,
                cv2, s.n >= 20 && cv2.exists(_ < 0.1)))
            }
          }
      }
  }

  /** Bot-score replay twin: one micro-batch in Update mode emits one
    * current row per user — the batch op, sharing its oracle. */
  def botScoreReplay(spark: SparkSession, dir: String): DataFrame = {
    val q = botScore(spark, readEvents(spark, dir)).toDF().writeStream
      .outputMode("update").format("memory")
      .queryName("events_bot_stream_sink").start()
    try q.processAllAvailable() finally q.stop()
    spark.table("events_bot_stream_sink")
  }

  /** Streaming cross-corpus Bloom membership — the continuous-ingest
    * twin of [[graft.operators.DedupOps.bloomFilterDedup]]: the
    * reference corpus's sketch is a STATIC broadcast artifact (built
    * batch-side once; in production, refreshed out-of-band) and the
    * incoming stream probes it statelessly — no state store, no
    * watermark, no corpus×corpus join ever, the exact posture a
    * 100 TB firehose needs. Bloom bits are build-order-free (bit-OR
    * merges, fixed seed), so the streaming probe's verdicts are
    * BIT-IDENTICAL to the batch op's — the replay twin is spec-pinned
    * to exact equality (StreamingSpec); the batch op's fp-rate gate
    * covers the sketch itself. */
  def bloomProbe(spark: SparkSession, docs: DataFrame,
      bloom: org.apache.spark.util.sketch.BloomFilter): DataFrame = {
    val bc = spark.sparkContext.broadcast(bloom)
    val might = udf((h: String) => bc.value.mightContainString(h))
    docs
      .filter(col("source") =!= graft.operators.DedupOps.BloomRefSource)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
      .select(col("doc_id"), might(col("h")).as("maybe_in_reference"))
  }

  /** Streaming quality scoring — the continuous-ingest twin of
    * [[graft.operators.MlOps.qualityClassifier]]: the weights are a
    * STATIC batch-trained artifact (fit once corpus-side; in
    * production, refreshed out-of-band exactly like [[bloomProbe]]'s
    * sketch) broadcast into a stateless per-row probe — no state
    * store, no watermark, the right posture for scoring a 100 TB
    * firehose at ingest. Featurization, dot product, and sigmoid are
    * the SAME JVM functions the batch op runs, so the stream's scores
    * are BIT-IDENTICAL to the batch query's — gated at 1.0 equality
    * in QualityGates and spec-pinned in StreamingSpec. */
  def qualityScore(spark: SparkSession, docs: DataFrame,
      w: Array[Double]): DataFrame = {
    val bc = spark.sparkContext.broadcast(w)
    val score = udf((nChars: Long, text: String) => {
      val x = graft.operators.MlOps.featurize(text)
      val ww = bc.value
      var z = 0.0; var j = 0
      while (j < ww.length) { z += ww(j) * x(j); j += 1 }
      (if (nChars >= graft.operators.MlOps.LrLabelChars) 1L else 0L,
        graft.operators.MlOps.sigmoid(z))
    })
    docs
      .select(col("doc_id"), score(col("n_chars"), col("text")).as("s"))
      .select(col("doc_id"), col("s._1").as("label"), col("s._2").as("score"))
  }

  def qualityScoreReplay(spark: SparkSession, dir: String): DataFrame = {
    val (w, _) = graft.operators.MlOps.logregFit(spark, dir)
    val q = qualityScore(spark, readDocuments(spark, dir), w).writeStream
      .outputMode("append").format("memory")
      .queryName("docs_quality_stream_sink").start()
    try q.processAllAvailable() finally q.stop()
    spark.table("docs_quality_stream_sink")
  }

  def bloomProbeReplay(spark: SparkSession, dir: String): DataFrame = {
    val bloom = graft.operators.DedupOps.refBloom(
      spark, graft.Engine.table(spark, dir, "documents"))
    val q = bloomProbe(spark, readDocuments(spark, dir), bloom).writeStream
      .outputMode("append").format("memory")
      .queryName("docs_bloom_stream_sink").start()
    try q.processAllAvailable() finally q.stop()
    spark.table("docs_bloom_stream_sink")
  }

  /** Streaming exact-dedup replay twin. WHICH doc_id survives per
    * content hash is micro-batch-arrival-order-dependent (all rows of
    * a replay land in one batch, so "first seen" is partition order —
    * not deterministic), but the SET of surviving hashes is exactly
    * the distinct content set — that is the projection registered
    * here. Survivor-choice policy is the batch op's job
    * (dedup_cluster_keep_best); the streaming guarantee under test is
    * "every distinct content survives exactly once". */
  def dedupExactReplay(spark: SparkSession, dir: String): DataFrame = {
    val q = dedupExact(readDocuments(spark, dir)).writeStream
      .outputMode("append").format("memory")
      .queryName("docs_dedup_stream_sink").start()
    try q.processAllAvailable() finally q.stop()
    spark.table("docs_dedup_stream_sink").select(col("text_hash"))
  }

  /** Streaming sessionization replay twin. Sessions closed by an
    * IN-batch 30-minute gap are emitted during the batch; each user's
    * tail session closes only via event-time TIMEOUT, which fires once
    * the watermark passes last_event + gap. The replay makes every
    * real session watermark-CLOSED deterministically by appending two
    * far-future sentinel events in separate follow-up micro-batches:
    * batch 0 processes the real corpus (watermark 0 — nothing late),
    * batch 1's sentinel advances the watermark past every real
    * timeout, and batch 2's second sentinel makes that watermark the
    * EVICTION watermark of a data batch, firing all tail-session
    * timeouts without relying on no-data micro-batch scheduling. The
    * result is the complete batch sessionize output and shares its
    * oracle SQL projected to the integer columns (user_id,
    * session_start_ms, n_events) — session_value is a float sum whose
    * accumulation order differs between the state store and a batch
    * shuffle, the same exclusion as [[windowAggReplay]]. */
  def sessionizeReplay(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, StandardCopyOption}
    val work = Files.createTempDirectory("graft_sess_replay")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // normalize the corpus copy to the raw int64-nanos layout
    // regardless of which parquet generation shipped (nanos or µs —
    // see Engine.table): the sentinel files written below then always
    // share the monitored directory's schema
    locally {
      val stage = Files.createTempDirectory("graft_sess_corpus")
      graft.Engine.table(spark, dir, "events")
        .withColumn("ts", expr("unix_micros(ts) * 1000"))
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = Files.list(stage).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.move(part, work.resolve("aa_corpus.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    // same reader shape as readEvents, minus the glob (sentinel files
    // land beside the copied corpus)
    val events = spark.readStream.schema(rawSchema)
      .option("pathGlobFilter", "*.parquet")
      .parquet(work.toString)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    val q = sessionize(spark, events).toDF().writeStream
      .outputMode("append").format("memory")
      .queryName("events_sessionize_stream_sink").start()
    try {
      q.processAllAvailable() // batch 0: the real corpus, watermark 0
      val maxNanos = graft.Engine.table(spark, dir, "events")
        .agg(max(expr("unix_micros(ts) * 1000"))).collect()(0).getLong(0)
      def sentinel(i: Int): Unit = {
        import spark.implicits._
        // +i years (in nanos), negative user_id — filtered from output.
        // Staged OUTSIDE the monitored directory, then moved in as one
        // atomic rename, so the running poller never sees a half write.
        val row = (-(1000L + i), maxNanos + i * 365L * 24 * 3600 * 1000000000L,
          -1L, "sentinel", 0.0, null.asInstanceOf[String])
        val stage = Files.createTempDirectory(s"graft_sess_stage$i")
        Seq(row).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
          .coalesce(1).write.mode("overwrite").parquet(stage.toString)
        val part = Files.list(stage).filter(_.toString.endsWith(".parquet"))
          .findFirst().get()
        Files.move(part, work.resolve(s"zz_sentinel$i.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
        q.processAllAvailable()
      }
      sentinel(1) // watermark := sentinel1 - delay (past all real data)
      sentinel(2) // a DATA batch under that watermark: tail sessions fire
    } finally q.stop()
    spark.table("events_sessionize_stream_sink")
      .filter(col("user_id") >= 0)
      .select(col("user_id"), col("session_start_ms"), col("n_events"))
  }

  /** Streaming k-step ORDERED funnel (click → view → purchase), the
    * stateful twin of EventOps.funnelK: three numbers of state per
    * user (first-click ms, first qualifying view ms, conversion
    * count), TTL'd by event-time timeout like [[funnel]]. Rows within
    * a micro-batch are processed in (event-time, stage) order with
    * clicks before views before purchases at equal ms — so inside one
    * batch the first click IS the global minimum by the time any view
    * is judged, and the first qualifying view is final by the time any
    * purchase is judged: a single-batch replay reproduces the batch
    * funnelK exactly. Across batches the anchors only ratchet down as
    * earlier events arrive, and (same caveat as [[funnel]], bounded by
    * the watermark) conversions already counted against a stale anchor
    * are retained — best-effort under cross-batch disorder. */
  final case class FunnelKRow(user_id: Long, ts: java.sql.Timestamp,
      stage: Int) {
    def ts_ms: Long = ts.getTime
  }
  final case class FunnelKState(fcMs: Long, fvMs: Long, n: Long)
  final case class FunnelKOut(user_id: Long, reached_view: Boolean,
      n_conversions: Long, converted: Boolean)

  def funnelK(spark: SparkSession, events: DataFrame,
      ttlMillis: Long = 24L * 3600 * 1000): Dataset[FunnelKOut] = {
    import spark.implicits._
    events
      .filter(col("event_type").isin("click", "view", "purchase"))
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("ts"),
        when(col("event_type") === "click", 0)
          .when(col("event_type") === "view", 1)
          .otherwise(2).as("stage"))
      .as[FunnelKRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelKState, FunnelKOut](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[FunnelKRow], state: GroupState[FunnelKState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val sorted = rows.toSeq.sortBy(r => (r.ts_ms, r.stage))
            var s = state.getOption.getOrElse(
              FunnelKState(Long.MaxValue, Long.MaxValue, 0L))
            for (r <- sorted) r.stage match {
              case 0 =>
                if (r.ts_ms < s.fcMs) s = s.copy(fcMs = r.ts_ms)
              case 1 =>
                // stage window vs the CURRENT first click; min view wins
                if (r.ts_ms >= s.fcMs && r.ts_ms <= s.fcMs + FunnelWindowMs &&
                    r.ts_ms < s.fvMs) s = s.copy(fvMs = r.ts_ms)
              case _ =>
                if (s.fvMs != Long.MaxValue && r.ts_ms >= s.fvMs &&
                    r.ts_ms <= s.fvMs + FunnelWindowMs) s = s.copy(n = s.n + 1)
            }
            if (s.fcMs == Long.MaxValue) Iterator.empty
            else {
              state.update(s)
              val lastMs = sorted.map(_.ts_ms).max
              state.setTimeoutTimestamp(
                math.max(lastMs, state.getCurrentWatermarkMs()) + ttlMillis)
              Iterator.single(FunnelKOut(user, s.fvMs != Long.MaxValue,
                s.n, s.n > 0))
            }
          }
      }
  }

  /** k-funnel replay twin: update-mode memory sink, one final row per
    * user after the single replay batch (= the batch funnelK, whose
    * oracle SQL it shares). */
  def funnelKReplay(spark: SparkSession, dir: String): DataFrame = {
    val q = funnelK(spark, readEvents(spark, dir)).toDF().writeStream
      .outputMode("update").format("memory")
      .queryName("events_funnel_k_stream_sink").start()
    try q.processAllAvailable() finally q.stop()
    spark.table("events_funnel_k_stream_sink")
  }

  /** Streaming funnel replay twin: update-mode memory sink — one
    * updated summary per user per batch, so the single replay batch
    * leaves exactly one final row per user (= the batch funnel). */
  def funnelReplay(spark: SparkSession, dir: String): DataFrame = {
    val q = funnel(spark, readEvents(spark, dir)).toDF().writeStream
      .outputMode("update").format("memory")
      .queryName("events_funnel_stream_sink").start()
    try q.processAllAvailable() finally q.stop()
    spark.table("events_funnel_stream_sink")
  }

  /** Hourly distinct users as CHAINED stateful operators — the
    * streaming twin of EventOps.hourlyUsers' n_users column:
    * event-time dedup on (window, user) feeding a windowed count.
    * Two state stores, both watermark-bounded: the dedup store holds
    * one entry per (hour, user) until the watermark passes the hour
    * (the exact-distinct state bound — active users per horizon), the
    * aggregation one counter per hour. Spark propagates event time
    * through the window() column, so both stages evict on the same
    * watermark — the multiple-stateful-operator pattern Structured
    * Streaming supports natively. Counts per window only ever GROW
    * (dedup emits each pair once), which is what lets the replay take
    * the max emission per window in update mode. */
  def hourlyUsersStream(events: DataFrame): DataFrame =
    events.withWatermark("ts", "2 hours")
      .select(window(col("ts"), "1 hour").as("w"), col("user_id"))
      .dropDuplicates("w", "user_id")
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n_users"))
      .select(unix_timestamp(col("w.start")).as("hour_ts"), col("n_users"))

  /** Replay twin: update-mode emissions are monotone per window (the
    * dedup stage never retracts), so the final value per hour is the
    * max — equal to the batch exact distinct count, sharing the
    * n_users projection of the batch oracle. */
  def hourlyUsersReplay(spark: SparkSession, dir: String): DataFrame = {
    val q = hourlyUsersStream(readEvents(spark, dir)).writeStream
      .outputMode("update").format("memory")
      .queryName("events_hourly_users_stream_sink").start()
    try q.processAllAvailable() finally q.stop()
    spark.table("events_hourly_users_stream_sink")
      .groupBy(col("hour_ts")).agg(max(col("n_users")).as("n_users"))
  }

  // ---------------------------------------- streaming heavy hitters

  final case class Tok(bucket: Int, token: String)
  final case class HhState(n: Long, counts: Map[String, Long])
  final case class HhSummary(bucket: Int, n_total: Long, tokens: Seq[String])

  /** Streaming pass 1 of the two-pass heavy hitter
    * (TextOps.heavyHitters): a Misra-Gries summary per hash bucket,
    * folded batch-by-batch in `mapGroupsWithState`. Unlike every other
    * stateful op here there is NO TTL and none is needed — the whole
    * point of the sketch is that state is ≤ k counters per bucket,
    * CONSTANT regardless of how much stream has passed. Each token
    * hashes to exactly one bucket, so a token's global count equals
    * its bucket count and the MG bound (undercount ≤ n_bucket/k under
    * any batch split) gives: every token with global count > n/k is
    * in its bucket's summary after ANY prefix-respecting sequence of
    * micro-batches. Each batch emits the bucket's refreshed summary
    * (update mode); n_total strictly grows, so the latest generation
    * per bucket is well-defined downstream. */
  def heavyHittersCandidates(spark: SparkSession,
      docs: DataFrame): Dataset[HhSummary] = {
    import spark.implicits._
    val B = 16
    val agg = new graft.functions.MisraGriesAgg(graft.operators.TextOps.HhK)
    docs.select(explode(split(col("text"), " ")).as("token"))
      .select(pmod(xxhash64(col("token")), lit(B)).cast("int").as("bucket"),
        col("token"))
      .as[Tok]
      .groupByKey(_.bucket)
      .mapGroupsWithState[HhState, HhSummary](GroupStateTimeout.NoTimeout) {
        (bucket: Int, it: Iterator[Tok], state: GroupState[HhState]) =>
          val prev = state.getOption.getOrElse(HhState(0L, Map.empty))
          var m = prev.counts
          var n = prev.n
          it.foreach { t => m = agg.reduce(m, t.token); n += 1 }
          state.update(HhState(n, m))
          HhSummary(bucket, n, m.keys.toSeq.sorted)
      }
  }

  /** Replay twin: stream the corpus through the MG pass, take each
    * bucket's latest summary, then run pass 2 — the batch exact
    * recount + n/k+1 threshold of TextOps.heavyHitters — over the
    * candidate union. The per-bucket guarantee makes the candidate
    * union a superset of every token with count ≥ n/k + 1, so the
    * recounted, thresholded result EQUALS the batch op's and shares
    * its oracle. (In production pass 2 is the periodic batch job over
    * the same lake the stream ingests into.) */
  def heavyHittersReplay(spark: SparkSession, dir: String): DataFrame = {
    val q = heavyHittersCandidates(spark, readDocuments(spark, dir))
      .writeStream.outputMode("update").format("memory")
      .queryName("docs_hh_stream_sink").start()
    try q.processAllAvailable() finally q.stop()
    val latest = spark.table("docs_hh_stream_sink")
      .groupBy(col("bucket"))
      .agg(max_by(col("tokens"), col("n_total")).as("tokens"))
    val cands = latest.select(explode(col("tokens")).as("token")).distinct()
    val toks = Engine.table(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("token"))
    val total = toks.agg(count(lit(1)).as("n"))
    toks.join(broadcast(cands), "token")
      .groupBy(col("token")).agg(count(lit(1)).as("n_occ"))
      .crossJoin(broadcast(total))
      .filter(col("n_occ") >= expr(s"n div ${graft.operators.TextOps.HhK} + 1"))
      .select(col("token"), col("n_occ"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_hourly_users_stream" -> (hourlyUsersReplay _),
    "docs_heavy_hitters_stream" -> (heavyHittersReplay _),
    "events_interval_stream" -> (intervalJoinReplay _),
    "events_window_stream" -> (windowAggReplay _),
    "events_asof_stream" -> (asofEnrichReplay _),
    "events_attribution_stream" -> (attributionReplay _),
    "events_funnel_stream" -> (funnelReplay _),
    "events_funnel_k_stream" -> (funnelKReplay _),
    "events_sessionize_stream" -> (sessionizeReplay _),
    "events_cdc_stream" -> (cdcCompactReplay _),
    "events_scd2_stream" -> (scd2Replay _),
    "events_moving_avg_stream" -> (movingAvgReplay _),
    "events_bot_stream" -> (botScoreReplay _),
    "docs_dedup_stream" -> (dedupExactReplay _),
    "docs_bloom_stream" -> (bloomProbeReplay _),
    "docs_quality_stream" -> (qualityScoreReplay _))

  /** Oracles: the interval join shares the batch range-join SQL
    * (purchase×click pairs of one user within ±15 minutes); the as-of
    * replay shares the batch as-of SQL; the window replay is the
    * count-only projection of the batch window-agg SQL; the dedup
    * replay is the distinct content-hash set. */
  val oracles: Map[String, String] = Map(
    "events_hourly_users_stream" -> """
      SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_ts,
        CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      FROM events
      GROUP BY date_trunc('hour', ts)""",
    "docs_heavy_hitters_stream" -> graft.operators.TextOps.heavyHittersOracle,
    "events_interval_stream" -> graft.operators.EventOps.rangeJoinOracle,
    "events_asof_stream" -> graft.operators.EventOps.asofJoinOracle,
    "events_attribution_stream" -> graft.operators.EventOps.attributionOracle,
    "events_funnel_stream" -> graft.operators.EventOps.funnelOracle,
    "events_funnel_k_stream" -> graft.operators.EventOps.funnelKOracle,
    "events_cdc_stream" -> graft.operators.EventOps.cdcCompactOracle,
    "events_moving_avg_stream" -> graft.operators.EventOps.movingAvgOracle,
    "events_bot_stream" -> graft.operators.EventOps.botScoreOracle,
    // the batch SCD2 restricted to closed intervals (the open tail
    // per user lives in streaming state, not the sink)
    "events_scd2_stream" -> """
      WITH e AS (
        SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms
        FROM events),
      ch AS (
        SELECT user_id, event_id, event_type, ts_ms,
          lag(event_type) OVER (PARTITION BY user_id
            ORDER BY ts_ms, event_id) AS prev_type
        FROM e),
      cp AS (
        SELECT user_id, event_id, event_type, ts_ms FROM ch
        WHERE prev_type IS NULL OR prev_type <> event_type)
      SELECT user_id, event_type, valid_from_ms, valid_to_ms FROM (
        SELECT user_id, event_type, ts_ms AS valid_from_ms,
          lead(ts_ms) OVER (PARTITION BY user_id
            ORDER BY ts_ms, event_id) AS valid_to_ms
        FROM cp)
      WHERE valid_to_ms IS NOT NULL""",
    "events_window_stream" -> """
      SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_ts,
        event_type, COUNT(*) AS n
      FROM events
      GROUP BY date_trunc('hour', ts), event_type""",
    // the batch sessionize SQL projected to its integer columns
    // ((user_id, session_start_ms) is a unique key: a user's sessions
    // are >30 min apart, so no two share a start)
    "events_sessionize_stream" -> """
      WITH flagged AS (
        SELECT user_id, ts,
          CASE WHEN lag(ts) OVER w IS NULL
            OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000
            THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
      ), numbered AS (
        SELECT user_id, ts,
          SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        FROM flagged
      )
      SELECT user_id, epoch_ms(MIN(ts)) AS session_start_ms,
        COUNT(*) AS n_events
      FROM numbered GROUP BY user_id, session_seq""",
    "docs_dedup_stream" ->
      "SELECT DISTINCT md5(text) AS text_hash FROM documents")
}
