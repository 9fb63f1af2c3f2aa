package graft

import graft.tools.Harness
import org.apache.spark.sql.SparkSession

/** Benchmark main: headline queries (TPC-H-shaped + operator
  * microbenches, mirroring the reference's benchmark/tpc-h and
  * benchmark/operators suites) on SPARK_GRAFT_SF_DIR.
  *
  * Prints ONE SHORT JSON line as its last stdout line. Each query is
  * fully materialized via the noop sink (count() would let Catalyst
  * prune the aggregate expressions away).
  *
  * Runs in the PRODUCTION session (`Engine.session`): the join-reorder
  * extension, AQE and the object-hash-agg threshold are part of what is
  * being measured.
  *
  * Measurement protocol: the shared one in [[Harness]] (idle
  * gate, sacrificial child, one fresh child JVM per group of
  * [[GroupSize]] queries with a contention record and one re-run when
  * contended, in-process fallback with its reason, cold runs). Per
  * group this child then adds:
  *   - one untimed pre-pass over every query of the group, then per
  *     query one more untimed run and 5 timed reps (round 9's two
  *     >2-spread queries were pure cold-JVM JIT ramp);
  *   - queries whose 5-rep median lands under 1 s OR whose 5-rep
  *     max/min spread exceeds 2 get 4 EXTRA reps (round 7 showed 5
  *     reps cannot pin a 0.2 s median), and variance is computed over
  *     the min/max-TRIMMED set once there are >= 7 samples, so one
  *     scheduler hiccup no longer brands a query noisy;
  *   - "queries" reports the MEDIAN (the stable central number to gate
  *     on), "queries_min" the best run, "variance" the per-query
  *     max/min ratio (trimmed where >= 7 samples); a query that failed
  *     every rep reports -1;
  *   - "driver_mem_mb" (Runtime.maxMemory) and "load_avg" (1-min system
  *     load at start/end) are echoed so runs on differently-sized heaps
  *     or busy hosts are not compared as if equal.
  * "value" (the headline total) is the sum of per-query medians.
  *
  * Artifact discipline (round 9 — rounds 6-8 lost their official bench
  * record to the driver's bounded tail capture because the "compact"
  * stdout line still carried 100 per-query numbers): stdout now carries
  * ONLY {"metric","value","unit","sf","detail"} as the last line — a
  * fixed ~100 bytes regardless of query count — and the FULL record
  * (medians, mins, variance, per-rep runs) is written to `BENCH.json`
  * at the repo root, committed every round.
  */
object Bench {
  val headline: Seq[String] = Seq(
    "q1_pricing_summary", "q3_shipping_priority", "q6_forecast_revenue",
    "q12_priority_count", "q14_promo_revenue",
    "join_pk_fk", "join_n2m", "join_5way_star",
    "group_by_single", "group_by_multi", "group_by_salted_skew",
    "agg_global", "order_by_topk",
    "dedup_exact", "dedup_minhash_lsh", "sim_knn_bruteforce",
    "text_quality_score", "events_sessionize", "events_asof_join",
    "dialect_q1",
    // round-5/6 pipeline operators — benched so a perf regression on
    // the newer surface is visible without a judge re-run
    "dedup_containment", "pipeline_pack_sequences", "pipeline_decontaminate",
    "embed_outlier_filter", "events_window_hopping", "doc_chunk_tokens",
    // round-7 additions: semantic dedup (heaviest new op), bloom
    // membership, sketch + exact stats, per-group top-k
    "dedup_semantic", "dedup_bloom_filter", "stats_length_quantiles",
    "stats_approx_distinct", "pipeline_topk_per_lang",
    "text_token_df", "events_funnel", "text_normalize",
    "pipeline_shuffle_shards", "dedup_substring",
    "events_retention", "events_hourly_spikes", "events_user_stats",
    "text_lang_confusion", "stats_source_profile",
    // round-8 additions
    "text_boilerplate", "text_boilerplate_strip", "events_funnel_k",
    "events_transitions", "dedup_cluster_lsh",
    "events_moving_avg", "pipeline_mix_sources", "sim_ann_ivf_pq",
    "events_attribution", "stats_value_corr", "media_image_dims",
    "events_json_extract", "stats_rollup_profile", "stats_lang_pivot",
    "text_bpe_pairs", "media_wav_meta", "orders_running_total",
    "pipeline_curriculum", "text_heavy_hitters",
    "events_hourly_users", "join_salted_skew", "text_doc_keywords",
    "pipeline_contamination_score", "orders_pareto",
    "stats_source_drift", "dedup_incremental", "text_bpe_train",
    "pipeline_shard_manifest",
    "search_tfidf_topk", "orders_basket_pairs", "events_session_paths",
    "events_cdc_compact", "join_bloom_prefilter",
    "events_scd2", "events_anomaly_mad", "pipeline_snapshot_diff",
    "text_collocations", "events_rfm", "search_phrase_hits",
    "events_user_streaks", "pipeline_quality_calibrate",
    "embed_dim_profile", "text_compression_ratio",
    "media_mp4_meta", "dedup_cluster_star", "embed_covariance",
    "stats_ks_drift", "stats_vocab_growth", "events_asof_nearest",
    "pipeline_split_leakage", "search_bm25_topk",
    "pipeline_mix_temperature", "events_interarrival", "sim_knn_graph",
    "orders_ship_latency", "media_crc_check",
    "text_charclass_profile", "events_bot_score", "embed_pca_project",
    // round-9 additions
    "sim_kmeans", "pipeline_weighted_sample", "stats_zipf_slope",
    "pipeline_quality_classifier", "pipeline_cluster_sample",
    "pipeline_end_to_end", "sim_graph_centrality",
    // round-10 additions
    "sim_knn_outliers",
    // round-11 additions
    "sim_ann_hnsw", "embed_quantize_int8", "embed_matryoshka_eval",
    // round-12 additions
    "sim_ann_binary", "text_perplexity_bucket",
    // round-13 additions
    "media_flac_meta", "media_mp3_meta")

  val Reps = 5
  /** Extra reps for queries whose 5-rep median is below [[SubSecond]]
    * or whose 5-rep spread exceeds [[SpreadGoal]] — short medians need
    * more samples before a variance is meaningful, and a wide spread
    * needs enough samples for the trimmed variance to discard the
    * outlier rep rather than average it in. */
  val ExtraReps = 4
  val SubSecond = 1.0
  val SpreadGoal = 2.0
  /** Queries measured per forked JVM. Small enough that accumulated
    * session state cannot contaminate late queries (round 8's 100-in-1
    * run inflated two mid-run queries 4x); large enough that the ~10 s
    * JVM+Spark startup amortizes over ~10 measurements. */
  val GroupSize = 10

  /** The contention thresholds of [[Harness]], under the names
    * perfbench's probe reads. */
  val ExternalCpuWarn: Double = Harness.ExternalCpuWarn
  val StealWarnPct: Double = Harness.StealWarnPct

  /** `load_warning`: the first timed group started above the idle
    * gate's threshold, i.e. the gate gave up waiting. Keyed on the
    * POST-gate load (what that group saw), not the arrival load. A
    * cores/5 rule sat below the gate's fixed 2.0 on hosts with fewer
    * than 10 cores and flagged every gated run there. */
  def loadWarning(loadAtFirstGroup: Double): Boolean =
    loadAtFirstGroup > Harness.IdleLoadMax

  private def sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** One cold run; None when the query fails. */
  private def runOnce(spark: SparkSession, name: String): Option[Harness.Timed] =
    try Some(Harness.coldRun(spark, name, sfDir))
    catch { case e: Throwable =>
      System.err.println(s"[bench] $name failed: ${e.getMessage}")
      None
    }

  /** Warm up, then adaptively sample one query in the given session;
    * one run of wall -1 when every timed run failed. */
  private def measure(spark: SparkSession, name: String): Seq[Harness.Timed] = {
    runOnce(spark, name) // untimed warm-up: codegen + parquet footers + JIT
    val base = (1 to Reps).flatMap(_ => runOnce(spark, name))
    val walls = base.map(_.wallS)
    val runs =
      if (base.nonEmpty &&
          (Harness.median(walls) < SubSecond || walls.max / walls.min > SpreadGoal))
        base ++ (1 to ExtraReps).flatMap(_ => runOnce(spark, name))
      else base
    if (runs.isEmpty) Seq(Harness.Timed(-1.0, Harness.Codegen(0, 0))) else runs
  }

  private def row(spark: SparkSession, name: String) =
    name -> Harness.Timed.encode(measure(spark, name))

  def main(args: Array[String]): Unit = {
    Harness.childArgs(args.toSeq).foreach { c =>
      // sacrificial child: each query once; timed child: one untimed
      // pre-pass over the whole group, then measure each query
      return Harness.runChild(c, "graft-bench")(runOnce) { (spark, names) =>
        names.foreach(runOnce(spark, _))
        names.map(row(spark, _))
      }
    }

    // dev loop only (never set by the driver): BENCH_ONLY=q1,q6 runs a
    // subset so harness changes can be smoke-tested in minutes
    val queriesToRun = sys.env.get("BENCH_ONLY")
      .map(s => headline.filter(s.split(',').map(_.trim).toSet))
      .getOrElse(headline)

    // lazily created only if a fork fails — the normal parent runs no
    // Spark, so children measure on an otherwise-idle host
    var fallback: Option[SparkSession] = None
    val sweep = Harness.sweep("bench", "graft.Bench", Nil, queriesToRun, GroupSize) { g =>
      val spark = fallback.getOrElse {
        val s = Engine.session("graft-bench"); fallback = Some(s); s
      }
      g.map(row(spark, _))
    }
    val timed = sweep.rows.map { case (n, v) => n -> Harness.Timed.decode(v) }
    val results = timed.map { case (n, v) => n -> v.map(_.wallS) }

    def fmt(v: Double) = f"$v%.4f"
    def obj(f: Seq[Double] => Double) =
      results.map { case (k, v) => "\"" + k + "\":" + fmt(f(v)) }
        .mkString("{", ",", "}")
    // variance over the min/max-trimmed set once there are >= 7 samples
    // (sub-second or wide-spread queries): a single outlier rep is run
    // state, not a property of the query
    def spread(v: Seq[Double]): Double = {
      if (v.min <= 0) return -1.0
      val s = if (v.length >= 7) v.sorted.slice(1, v.length - 1) else v
      s.max / s.min
    }
    val qs = obj(Harness.median)
    val qsMin = obj(_.min)
    val varc = obj(spread)
    val reps = results.map { case (k, v) => "\"" + k + "\":" + v.length }
      .mkString("{", ",", "}")
    val runs = results.map { case (k, v) =>
      "\"" + k + "\":[" + v.map(fmt).mkString(",") + "]"
    }.mkString("{", ",", "}")
    // per timed run, in the order of `runs`: the generated classes it
    // compiled (codegen class-cache misses) and their compile time
    val codegen = timed.map { case (k, v) => "\"" + k + "\":{" + Harness.Timed.json(v) + "}" }
      .mkString("{", ",", "}")
    val total = results.map(r => Harness.median(r._2)).filter(_ >= 0).sum
    val totalMin = results.map(_._2.min).filter(_ >= 0).sum
    val driverMb = Runtime.getRuntime.maxMemory / (1024 * 1024)
    // bench-under-load policy (README "Runner protocol"): a
    // gate-worthy run needs the host near-idle at START — round 6's
    // recorded minhash variance of 4.2 was entirely host load
    // (load_avg 3→9). The END load is echoed for reviewers but does
    // NOT flip the flag: a 32-thread local Spark legitimately drives
    // the 1-minute average past any idle cap with its own work
    // (which query runs last decides the final EMA), so end load
    // cannot distinguish external contention from the bench itself —
    // external load arriving mid-run shows up in the per-query
    // variance field instead.
    val loadEnd = Harness.loadAvg
    val loadWarn = loadWarning(sweep.loadAtFirstGroup)
    // measurement-semantics provenance a reviewer needs to read the
    // medians correctly — in the record itself, not only in scaladoc
    val notes =
      """"notes":{""" +
      """"sacrificial_group":"one untimed forked group (the first """ +
      GroupSize + """ queries) ran before any timed group — start-of-run """ +
      """contention and cold-page-cache absorption; in no number",""" +
      """"sim_graph_centrality":"median excludes the sharedKnnEdges build """ +
      """(priced separately under sim_knn_graph) — the edge list became """ +
      """session-shared in round 10, so r9-and-earlier medians for this """ +
      """query included the build and are not comparable",""" +
      """"sim_knn_outliers":"same: consumes the session-shared edge list, """ +
      """build excluded from its median"}"""
    // per-group contention records (see Harness.Group): queries
    // belong to group idx*GroupSize..; `contended` groups' medians
    // should be quarantined by anyone comparing records
    val groupsJson = sweep.groups.map(_.json).mkString("[", ",", "]")
    // per-query contention verdict for the FINAL number (post-retry)
    val contended = sweep.groups.flatMap(g => g.names.map(_ -> g.contended)).toMap
    val qContJson = results.map { case (k, _) =>
      "\"" + k + "\":" + contended.getOrElse(k, false)
    }.mkString("{", ",", "}")
    val full =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","total_min":${fmt(totalMin)},""" +
      s""""queries":$qs,"variance":$varc,"driver_mem_mb":$driverMb,""" +
      s""""load_avg":[${fmt(sweep.loadBefore)},${fmt(loadEnd)}],"load_warning":$loadWarn,""" +
      s""""idle_gate":{"threshold":${fmt(Harness.IdleLoadMax)},"waited_s":${fmt(sweep.idleWaitedS)},""" +
      s""""load_at_first_group":${fmt(sweep.loadAtFirstGroup)}},"groups":$groupsJson,""" +
      s""""queries_contended":$qContJson,$notes,""" +
      s""""group_size":$GroupSize,"sf":"$sfDir","queries_min":$qsMin,"reps":$reps,"runs":$runs,"codegen":$codegen}"""
    // artifact discipline (round 12): a loaded-host re-run once
    // overwrote the committed idle-gated record
    val fullPath = Harness.recordPath("BENCH.json")
    val compactPath = Harness.recordPath("BENCH_COMPACT.json")
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(fullPath), full + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $fullPath: ${e.getMessage}")
    }
    // the ONLY stdout line: fixed-size, inside any bounded tail capture.
    // build.sbt sets showSuccess := false + StdoutOutput so under
    // `sbt runMain graft.Bench` this IS the final stdout line, raw
    // (no [info] prefix, no [success] trailer — the round 6-9 record
    // losses). A copy also lands in BENCH_COMPACT.json[.new] so any
    // parser that reads files instead of stdout has a fixed location.
    val compact = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","sf":"$sfDir","detail":"$fullPath"}"""
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(compactPath), compact + "\n")
    catch { case _: Throwable => () }
    println(compact)
    fallback.foreach(_.stop())
  }
}
