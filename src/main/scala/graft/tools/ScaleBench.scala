package graft.tools

import graft.{Engine, SparkEntry}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-proof benchmark: derive a 10× (sf1-equivalent) corpus from
  * sf0.1 in a scratch directory and measure the heavy pipeline
  * operators at both scales — the empirical backing for the "would
  * this hold at 100 TB" design claims, which were previously
  * extrapolated from sf0.1 alone. Near-linear median growth (≤ ~12×
  * at 10× rows on a fixed 32-core box) is the pass shape; anything
  * superlinear is called out in README.
  *
  * The 10× corpus is NOT ten identical copies: identical copies would
  * give every document/vector 9 exact duplicates, growing near-dup
  * OUTPUT quadratically and making any dedup op look superlinear for
  * workload reasons rather than plan reasons. Each copy is
  * key-shifted and content-perturbed so per-copy duplicate structure
  * is preserved while cross-copy similarity stays background-level:
  *  - documents: doc_id shifted; text Caesar-shifted by the copy
  *    index (length/token structure preserved, shingles disjoint)
  *  - embeddings: vec_id shifted; embedding rotated by the copy index
  *    (norms preserved, cross-copy cosine at random-background level)
  *  - events: event_id and user_id shifted (10× users, same per-user
  *    timeline density; raw nanos `ts` kept as int64)
  *
  * Usage: `runMain graft.tools.ScaleBench [baseDir] [scratchDir] [out]`
  * Defaults: /root/testdata/sf0.1, /tmp/graft_scale/sf1,
  * SCALEBENCH.json. */
object ScaleBench {

  val DefaultCopies = 10
  val Ops: Seq[String] = Seq(
    "dedup_minhash_lsh", "dedup_containment", "dedup_cluster",
    "dedup_cluster_lsh",
    "pipeline_pack_sequences", "events_sessionize",
    "sim_neardup_lsh", "sim_ann_ivf", "sim_ann_ivf_pq", "dedup_semantic",
    "dedup_substring",
    // round 8: the two corpus-explode text ops — vocabulary-table
    // expansion (BPE pairs) and the constant-state MG sketch must both
    // grow near-linearly with rows
    "text_bpe_pairs", "text_heavy_hitters",
    // the continuous-ingest dedup cadence: batch × corpus band join —
    // candidate volume must scale with the batch, not the corpus
    "dedup_incremental",
    // round 8 (cont.): tf-idf search (corpus-explode scan pruned by a
    // broadcast vocabulary — postings stay query-sized while the scan
    // grows), collocations (bigram window + unigram joins; disjoint
    // per-copy vocab grows the candidate table linearly), session
    // paths (two window passes, one exchange), CDC compaction
    // (WindowGroupLimit pre-shuffle) and SCD2 (change-bounded output)
    "search_tfidf_topk", "text_collocations", "events_session_paths",
    "events_cdc_compact", "events_scd2",
    // round 8 (cont.): star-rewired CC (the O(log n)-round alternative
    // to propagation — must track dedup_cluster's growth), the two
    // embedding-matrix profiles (explode + partial-agg: time ∝ rows,
    // state ∝ Dim²), distribution-aggregated percent_rank calibration,
    // user streaks (distinct-day aggregate before any window), and the
    // row-local deflate scan
    "dedup_cluster_star", "embed_dim_profile", "embed_covariance",
    "pipeline_quality_calibrate", "events_user_streaks",
    "text_compression_ratio",
    // round 8 (cont.): the multi-probe kNN graph (candidate volume ∝
    // corpus × tables × probes, bucket-local), the distribution-
    // aggregated inter-arrival quantiles, and the √-temperature epoch
    // manifest (tiny agg + broadcast thresholds)
    "sim_knn_graph", "events_interarrival", "pipeline_mix_temperature",
    // round 8 (cont.): BM25 (broadcast-pruned postings ∝ corpus), bot
    // scoring (lag window + constant-width moments), the row-local
    // charclass scan, and the PCA projection (distributed covariance
    // + driver eigensolve + row-local projection)
    "search_bm25_topk", "events_bot_score", "text_charclass_profile",
    "embed_pca_project",
    // round 9: full-corpus distributed Lloyd (per-sweep scan +
    // fixed-size accumulator — must grow ∝ rows), PPS weighted
    // sampling (two-phase WindowGroupLimit prune — near-flat), and
    // the rank-head Zipf fit (vocabulary-sized aggregate)
    "sim_kmeans", "pipeline_weighted_sample", "stats_zipf_slope",
    // round 9 (cont.): logreg training (30 sweeps over a cached D=7
    // feature table — per-sweep cost ∝ rows, accumulator fixed-size)
    // and the per-centroid prototype sample (assignment scan +
    // WindowGroupLimit top-m)
    "pipeline_quality_classifier", "pipeline_cluster_sample",
    // round 9 (cont.): the one-query curation DAG (dedup window +
    // filter + mix cut + prefix-sum pack — every stage ∝ rows) and
    // kNN-graph centrality (edge list ∝ k·n, two exchanges per sweep)
    "pipeline_end_to_end", "sim_graph_centrality",
    // round 10: kNN-distance outliers (second consumer of the shared
    // materialized edge list; bounded-domain quantile cut)
    "sim_knn_outliers",
    // round 11: full BPE training — the corpus-scale pass is the word
    // count; the merge loop runs on the Heaps-bounded vocabulary
    // (driver-local under the 2M cap, the production path this sweep
    // exercises — the suffixed per-copy vocab grows ∝ copies, far
    // under the cap)
    "text_bpe_train",
    // round 11: partition-sharded HNSW — per-shard graph build is
    // n_p·efC·M similarity folds (the sweep's shards are ~100× the
    // oracle-SF ones, so this is where the graph actually works);
    // search visits ef·log n_p nodes per shard vs the shard scan
    "sim_ann_hnsw",
    // round 12: the int8 pre-serving pass (two corpus passes, both
    // partial-aggregated to ≤ Dim rows before any exchange — must be
    // ~linear) and the RFM report whose round-11 distributed-window
    // rework (range-partition + per-partition offset ranks) was a
    // scale fix that had no scale measurement
    "embed_quantize_int8", "events_rfm",
    // round 12: binary-quantization ANN (code build = two canonical
    // passes like quantize_int8; the Hamming scan is the 16 B/vector
    // serving path and must stay ∝ corpus) and the CCNet perplexity
    // filter (two corpus passes + a broadcast vocabulary — the same
    // ~linear contract as search_tfidf_topk)
    "sim_ann_binary", "text_perplexity_bucket")

  /** Ops measured against a DEDICATED derived corpus instead of the
    * shared perturbed one (directory = scratch + suffix). The shared
    * corpus salts every word per copy so dedup output structure scales
    * exactly; that same salting makes cross-copy token frequencies
    * disjoint, so at 100× no token reaches the Misra-Gries n/64+1
    * threshold and `text_heavy_hitters` emitted 0 rows — an honest but
    * VACUOUS scale row (the broadcast-candidate recount join never
    * ran). The `_hh` fixture is documents-only, identical copies at
    * shifted doc_ids: relative token frequencies are preserved
    * exactly, so the base corpus's heavy hitters survive at any copy
    * count and both MG passes are exercised for real. Dedup ops never
    * read it. */
  val OpScratchSuffix: Map[String, String] =
    Map("text_heavy_hitters" -> "_hh")

  /** ANN ops re-scored for recall@5 at the big corpus: the round-7 PQ
    * shortlist regression (recall 0.64 → 0.48 before the ∝-corpus fix)
    * showed ANN recall can decay silently with corpus growth while the
    * oracle-SF gates stay green. All three gate at 0.8 here — HIGHER
    * than the small-SF QualityGates thresholds — because each op's
    * capacity now scales with the corpus (PQ shortlist ∝ corpus, IVF
    * lists ∝ √N with probes ∝ lists), so recall at 10× must hold, not
    * merely not-collapse. Measured on the deterministic derived
    * corpus: LSH 0.90, IVF 0.88, PQ 0.94. */
  val RecallOps: Seq[(String, Double)] = Seq(
    ("sim_ann_lsh", 0.8), ("sim_ann_ivf", 0.8), ("sim_ann_pq", 0.8),
    ("sim_ann_ivf_pq", 0.8),
    // gated at the committed HNSW_CURVE.json operating point: ef=128
    // measures 0.96 at the 100× corpus (0.86 at the old ef=64 — the
    // round-11 low-margin gate), and search cost is build-dominated
    // so the higher beam is free at this scale
    ("sim_ann_hnsw", 0.9),
    // binary quantization's shortlist is ∝ corpus (the pqShortlist
    // argument), so recall RISES with scale (0.66 at 500 vectors,
    // 0.82 at 5 000); gated at the family floor
    ("sim_ann_binary", 0.8))

  /** Build the N× corpus (idempotent: skipped if the directory
    * already holds all three tables). The perturbations are exact at
    * ANY copy count:
    *  - documents: every word of copy i > 0 gets the suffix `⁅i⁆` —
    *    a bijection on word shingles, so within-copy Jaccard /
    *    containment / MinHash dup structure is EXACTLY preserved
    *    while cross-copy shingle sets are fully disjoint (a Caesar
    *    shift would collide at copies ≥ 26).
    *  - embeddings: copy i multiplies each dimension d by the sign of
    *    hash(d, i) — within-copy dot products are bit-preserved
    *    (s_d² = 1), cross-copy dots become sign-noise at random-
    *    background level (a rotation would collide at copies ≥ 64).
    *  - events: event_id and user_id shifted (N× users, same
    *    per-user timeline density; raw nanos `ts` kept as int64). */
  def derive(spark: SparkSession, baseDir: String, outDir: String,
      copies: Int): Unit = {
    val done = Seq("documents", "embeddings", "events").forall(t =>
      java.nio.file.Files.exists(java.nio.file.Paths.get(s"$outDir/$t.parquet")))
    if (done) return
    new java.io.File(outDir).mkdirs()
    val Off = 10_000_000L

    def nfold(name: String, copy: (DataFrame, Int) => DataFrame): Unit = {
      val base = name match {
        // raw read keeps events.ts in its on-disk form (int64 nanos →
        // derived plain INT64, or µs timestamp → derived µs
        // timestamp); Engine.table normalizes either at read time.
        // The legacy-nanos flag is needed for the nanos generation and
        // harmless for µs (sessions not built by Engine.session
        // reject TIMESTAMP(NANOS) otherwise)
        case "events" =>
          if (spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
              .forall(_ != "true"))
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
          Engine.parquet(spark, s"$baseDir/events.parquet")
        case _ => Engine.parquet(spark, s"$baseDir/$name.parquet")
      }
      (0 until copies).map(i => copy(base, i))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    }

    nfold("documents", (df, i) => {
      val text =
        if (i == 0) col("text")
        else regexp_replace(col("text"), "(\\S+)", "$1⁅" + i + "⁆")
      df.select(
        (col("doc_id") + i * Off).as("doc_id"),
        text.as("text"),
        col("lang"), col("source"),
        // the perturbation grows every word: recompute n_chars so the
        // derived corpus keeps the n_chars = length(text) invariant
        // (any n_chars-consuming op added to Ops would otherwise run
        // on silently inconsistent data)
        (if (i == 0) col("n_chars") else length(text).cast("long"))
          .as("n_chars"))
    })
    nfold("embeddings", (df, i) => df.select(
      (col("vec_id") + i * Off).as("vec_id"),
      (if (i == 0) col("embedding")
       else zip_with(col("embedding"),
         sequence(lit(0), lit(63)),
         (x, d) => when(pmod(xxhash64(d, lit(i)), lit(2)) === 0, x)
           .otherwise(-x))).as("embedding"),
      col("label")))
    nfold("events", (df, i) => df.select(
      (col("event_id") + i * Off).as("event_id"),
      col("ts"),
      (col("user_id") + i * Off).as("user_id"),
      col("event_type"), col("value"), col("props")))
  }

  /** Build the dedicated heavy-hitters corpus (see [[OpScratchSuffix]]):
    * documents only, IDENTICAL copies at shifted doc_ids — token
    * frequencies scale exactly with the copy count, so relative
    * frequencies (and therefore the MG survivor set) are invariant and
    * the 100× row measures both the sketch pass and the recount join
    * on real output. Idempotent like [[derive]]. */
  def deriveHh(spark: SparkSession, baseDir: String, outDir: String,
      copies: Int): Unit = {
    if (java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$outDir/documents.parquet"))) return
    new java.io.File(outDir).mkdirs()
    val Off = 10_000_000L
    val base = Engine.parquet(spark, s"$baseDir/documents.parquet")
    (0 until copies).map(i => base.select(
        (col("doc_id") + i * Off).as("doc_id"), col("text"),
        col("lang"), col("source"), col("n_chars")))
      .reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
  }

  private def runOnce(spark: SparkSession, name: String, dir: String): Double = {
    val t0 = System.nanoTime
    SparkEntry.queries(name)(spark, dir)
      .write.format("noop").mode("overwrite").save()
    val s = (System.nanoTime - t0) / 1e9
    spark.sharedState.cacheManager.clearCache()
    s
  }

  /** Output row count at `dir` — measured AFTER the timed reps (a
    * separate count() execution, never inside a timed window). The
    * record needs this because several exact-pair oracle twins emit
    * quadratically more rows on the planted-duplicate corpus at N×
    * by construction: a wall ratio of ~20× at 100× rows is only
    * readable against output growth. wall/out_rows ~flat = output-
    * bound; rising = a real plan residue to chase. */
  private def outRows(spark: SparkSession, name: String, dir: String): Long = {
    val n = SparkEntry.queries(name)(spark, dir).count()
    spark.sharedState.cacheManager.clearCache()
    n
  }

  /** Minimal JSON string escape (quotes/backslashes/control chars) —
    * fork-failure reasons quote raw JVM stderr. */
  private def escapeJson(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }

  /** Child mode: measure `names` (base then N×) in THIS fresh JVM and
    * write one `op\tbase\txN` line each. Same isolation rationale as
    * [[graft.Bench]]'s per-group forks: round 9 caught the first op
    * measured after the in-JVM 10×-corpus derivation at 7× its
    * fresh-JVM time — a single long-lived session contaminates
    * whatever runs behind the heaviest stage. */
  private def groupRun(outFile: String, baseDir: String, scratch: String,
      reps: Int, namesCsv: String): Unit = {
    val names = namesCsv.split(",").toSeq.filter(_.nonEmpty)
    val spark = Engine.session("graft-scalebench")
    // reps == 0: the parent's SACRIFICIAL child — run each op once per
    // scale to absorb the start-of-run transient, report nothing real
    val lines = names.map { op =>
      val opScratch = scratch + OpScratchSuffix.getOrElse(op, "")
      runOnce(spark, op, baseDir) // warm-up at base
      val base =
        if (reps == 0) 0.0
        else median((1 to reps).map(_ => runOnce(spark, op, baseDir)))
      val outB = if (reps == 0) 0L else outRows(spark, op, baseDir)
      runOnce(spark, op, opScratch) // warm-up at Nx
      val xN =
        if (reps == 0) 0.0
        else median((1 to reps).map(_ => runOnce(spark, op, opScratch)))
      val outN = if (reps == 0) 0L else outRows(spark, op, opScratch)
      f"$op\t$base%.4f\t$xN%.4f\t$outB\t$outN"
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outFile), lines.mkString("", "\n", "\n"))
    spark.stop()
  }

  /** Ops measured per forked JVM (the [[graft.Bench.GroupSize]]
    * trade-off at scale-bench rep counts). */
  val GroupSize = 4

  /** Child JVM heap. The parent (under sbt) defaults to 8g — round
    * 10's heaviest group (the four big dedup shuffles, 226M+ pair rows
    * at 100×) killed its 8g child and silently degraded to in-process
    * parent measurement. The children get their own, larger budget:
    * they are the ONLY JVM doing work while they run (the parent sits
    * idle), so there is no reason to starve them of a 125 GiB host. */
  val ChildMem: String = sys.env.getOrElse("SCALEBENCH_CHILD_MEM", "24g")

  /** One timed measurement group in a fresh child JVM.
    * Left(reason) on any failure — the reason goes into the record's
    * `fork_failures` field so an in-process fallback row is never
    * unexplained (round 10 left the cause on stderr only). */
  private def forkGroup(names: Seq[String], idx: Int, baseDir: String,
      scratch: String, reps: Int): Either[String, Seq[(String, Double, Double, Long, Long)]] = {
    import scala.jdk.CollectionConverters._
    val tmp = java.nio.file.Files.createTempFile(s"graft-scale-g$idx-", ".tsv")
    val errF = java.nio.file.Files.createTempFile(s"graft-scale-g$idx-", ".err")
    try {
      val javaBin = java.nio.file.Paths.get(
        sys.props("java.home"), "bin", "java").toString
      val jvmArgs = java.lang.management.ManagementFactory
        .getRuntimeMXBean.getInputArguments.asScala.toSeq
        .filterNot(_.startsWith("-Xmx")) // replaced by the child budget
      val cmd = Seq(javaBin) ++ jvmArgs ++ Seq(s"-Xmx$ChildMem") ++
        Seq("-cp", sys.props("java.class.path"), "graft.tools.ScaleBench",
          "--group", tmp.toString, baseDir, scratch, reps.toString,
          names.mkString(","))
      val pb = new ProcessBuilder(cmd.asJava)
      pb.redirectOutput(ProcessBuilder.Redirect.DISCARD)
      // child stderr goes to a file so a dead child's last words can be
      // quoted in the record; echoed back to our stderr afterwards so
      // live progress stays visible in the parent log
      pb.redirectError(errF.toFile)
      val p = pb.start()
      val rc = p.waitFor()
      val errLines = scala.util.Try(
        java.nio.file.Files.readAllLines(errF).asScala.toSeq)
        .getOrElse(Seq.empty)
      errLines.foreach(System.err.println)
      def lastWords: String = errLines.reverseIterator
        .find(l => l.contains("Error") || l.contains("Exception") ||
          l.contains("Killed") || l.contains("insufficient memory"))
        .orElse(errLines.lastOption).getOrElse("no stderr").take(300)
      if (rc != 0)
        return Left(s"child exited $rc (heap $ChildMem): $lastWords")
      val lines = java.nio.file.Files.readAllLines(tmp).asScala
      val parsed = lines.map { l =>
        val parts = l.split("\t")
        (parts(0), parts(1).toDouble, parts(2).toDouble,
          parts(3).toLong, parts(4).toLong)
      }.toSeq
      if (parsed.map(_._1) == names) Right(parsed)
      else Left(s"child exited 0 but wrote ${parsed.length}/${names.length} rows: $lastWords")
    } catch { case e: Throwable =>
      System.err.println(s"[scalebench] group $idx fork failed: ${e.getMessage}")
      Left(s"fork machinery: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
    } finally {
      java.nio.file.Files.deleteIfExists(tmp)
      java.nio.file.Files.deleteIfExists(errF)
    }
  }

  /** Idle gate, same rationale and thresholds as [[graft.Bench]]'s:
    * the first 10× regen of round 11 started one minute after the
    * full test suite exited and its first child's first-op base
    * median came out 2.4× the 100×-run measurement of the same op —
    * start-of-run load tails land on whichever group runs first.
    * Block (bounded) until the 1-min loadAvg clears
    * [[graft.Bench.IdleLoadMax]] (a fixed 2.0 since round 12 — the
    * old nproc/8 = 4.0 released round 11's driver bench into visible
    * contention) before the first forked group. */
  // hypervisor-steal measurement: shared [[graft.ProcStat]] reader
  // (one copy for both harnesses — the round-12 duplicate drifted on
  // the guest-jiffy double-count). Steal is the one contention source
  // neither the idle gate (loadAvg sees only runnable LOCAL threads)
  // nor per-group external-CPU fractions can see, and this host
  // measurably suffers it in bursts (a sweep window with ~1.7 cores
  // stolen on average inflated shuffle-heavy rows 1.5-3× against the
  // same code profiled minutes later). -1 = unavailable.

  private def awaitIdle(): Double = {
    val max = graft.Bench.IdleLoadMax
    val t0 = System.nanoTime
    var l = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    while (l > max && (System.nanoTime - t0) / 1e9 < graft.Bench.IdleWaitMaxS) {
      System.err.println(f"[scalebench] host busy (load $l%.1f > $max%.1f) — waiting 10 s")
      Thread.sleep(10000)
      l = java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
    }
    (System.nanoTime - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    if (args.length >= 6 && args(0) == "--group")
      return groupRun(args(1), args(2), args(3), args(4).toInt, args(5))
    val baseDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val scratch = args.lift(1).getOrElse("/tmp/graft_scale/sf1")
    val outPath = args.lift(2).getOrElse("SCALEBENCH.json")
    val copies = args.lift(3).map(_.toInt).getOrElse(DefaultCopies)
    val reps = args.lift(4).map(_.toInt).getOrElse(3)
    val spark = Engine.session("graft-scalebench")
    derive(spark, baseDir, scratch, copies)
    deriveHh(spark, baseDir, scratch + "_hh", copies)

    val rows = Seq("documents", "embeddings", "events").map { t =>
      t -> (Engine.table(spark, baseDir, t).count(),
        Engine.table(spark, scratch, t).count())
    }
    rows.foreach { case (t, (b, x)) =>
      System.err.println(s"[scalebench] $t: $b rows -> $x rows") }

    // dev loop: SCALEBENCH_RECALL_ONLY=1 skips the timing sweep so ANN
    // parameter changes can be recall-scored in ~a minute; the driver
    // and the committed SCALEBENCH.json always run the full sweep.
    // Timings come from forked fresh-JVM groups (fallback: in-process)
    // while the parent session sits idle.
    val recallOnly = sys.env.contains("SCALEBENCH_RECALL_ONLY")
    // explicit (never silent) op skip list for a constrained sweep —
    // anything excluded is named on stderr so the record's coverage
    // is auditable
    val skip = sys.env.get("SCALEBENCH_SKIP")
      .map(_.split(',').map(_.trim).toSet).getOrElse(Set.empty)
    if (skip.nonEmpty)
      System.err.println(s"[scalebench] EXPLICITLY SKIPPED: ${
        skip.toSeq.sorted.mkString(", ")}")
    // skips are recorded IN the JSON (not just stderr): the committed
    // record must carry its own coverage statement
    val skipped = scala.collection.mutable.ListBuffer.empty[(String, String)]
    skip.toSeq.sorted.foreach(op => skipped += ((op, "env:SCALEBENCH_SKIP")))
    // a fork that fails leaves WHY in the record (group, ops, reason),
    // not just an in_process tag whose cause lives on stderr
    val forkFailures = scala.collection.mutable.ListBuffer.empty[(Int, Seq[String], String)]
    val idleWaitedS = awaitIdle()
    System.err.println(f"[scalebench] idle gate: waited $idleWaitedS%.0f s before first timed group")
    // Sacrificial untimed child (the graft.Bench sacrificial-group
    // rationale, observed here too): in back-to-back full sweeps the
    // FIRST forked child's leading ops measured 4-8× their settled
    // medians (dedup_minhash_lsh 13-15 s vs a settled 1.7-2.0 s base)
    // while an identical group re-forked manually minutes later
    // measured normally — a start-of-run transient that follows the
    // first child of the run, not any op. One throwaway child runs
    // the first group's ops once per scale with results discarded;
    // the record carries whether it ran so a sweep without it is
    // visibly un-warmed.
    val sacrificed =
      if (recallOnly) false
      else Ops.filterNot(skip).headOption.exists { _ =>
        val first = Ops.filterNot(skip).take(GroupSize)
        System.err.println(
          s"[scalebench] sacrificial child: ${first.mkString(", ")} (untimed)")
        forkGroup(first, -1, baseDir, scratch, 0).isRight
      }
    // per-group hypervisor-steal percentage, recorded so a contended
    // group is visible IN the record (see graft.ProcStat)
    val groupSteal = scala.collection.mutable.ListBuffer.empty[(Int, Double)]
    val stealRun0 = graft.ProcStat.snapshot()
    val results = (if (recallOnly) Seq.empty[String] else Ops.filterNot(skip))
      .grouped(GroupSize).zipWithIndex.flatMap { case (g, i) =>
        val st0 = graft.ProcStat.snapshot()
        val out = forkGroup(g, i, baseDir, scratch, reps)
        val stp = graft.ProcStat.stealPctBetween(st0, graft.ProcStat.snapshot())
        groupSteal += ((i, stp))
        if (stp > 2.0) System.err.println(
          f"[scalebench] group $i: hypervisor steal $stp%.1f%% of cpu time")
        out match {
          case Right(rows) =>
            rows.map { case (op, b, x, ob, ox) => (op, b, x, ob, ox, false) }
          case Left(reason) =>
          forkFailures += ((i, g, reason))
          System.err.println(
            s"[scalebench] group $i: in-process fallback ($reason)")
          // per-op Try: one op that cannot run at this scale (e.g. an
          // OOM that already killed its child JVM) must not take the
          // whole sweep's record with it — skip it, keep the rest.
          // Fallback timings run in the long-lived parent JVM — the
          // exact contamination the fork isolates against (see the
          // groupRun scaladoc) — so each is tagged "in_process":true
          // in the JSON: mixed-isolation timings stay auditable.
          g.flatMap { op =>
            try {
              val opScratch = scratch + OpScratchSuffix.getOrElse(op, "")
              runOnce(spark, op, baseDir)
              val base = median((1 to reps).map(_ => runOnce(spark, op, baseDir)))
              val outB = outRows(spark, op, baseDir)
              runOnce(spark, op, opScratch)
              val xN = median((1 to reps).map(_ => runOnce(spark, op, opScratch)))
              val outN = outRows(spark, op, opScratch)
              Some((op, base, xN, outB, outN, true))
            } catch { case e: Throwable =>
              System.err.println(
                s"[scalebench] $op skipped (fallback failed): ${e.getMessage}")
              skipped += ((op, s"fallback_failed: ${e.getClass.getSimpleName}"))
              None
            }
          }
        }
      }.map { case (op, base, xN, outB, outN, inProc) =>
        val ratio = xN / base
        System.err.println(
          f"[scalebench] $op%-26s base $base%7.2f s   ${copies}x $xN%7.2f s   ratio $ratio%5.2f   out $outB%,d -> $outN%,d" +
            (if (inProc) "   [in-process]" else ""))
        (op, base, xN, ratio, outB, outN, inProc)
      }.toSeq

    // recall@5 at the big corpus vs brute force over the same queries
    // (query ids < 10 live in copy 0, unperturbed). Driver-side sets
    // are 10 queries × 5 neighbors — measurement, not a data path.
    def pairs(name: String, d: String): Set[(Long, Long)] =
      SparkEntry.queries(name)(spark, d).select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bf = pairs("sim_knn_bruteforce", scratch)
    val recalls = RecallOps.map { case (op, th) =>
      val r = if (bf.isEmpty) 1.0
        else (pairs(op, scratch) & bf).size.toDouble / bf.size
      spark.sharedState.cacheManager.clearCache()
      System.err.println(
        f"[scalebench] $op%-26s recall@5 $r%.3f >= $th%.2f " +
          (if (r + 1e-12 >= th) "PASS" else "FAIL"))
      (op, r, th)
    }

    // VACUOUS-row guard (round 12): an op that emits rows at base but
    // ZERO at N× is measuring a sweep-corpus artifact, not the op —
    // round 11's text_heavy_hitters row timed only the MG pass because
    // the salted derivation starved it of survivors. Named loudly in
    // the record (and on stderr) so a vacuous row can never read as
    // coverage.
    val vacuous = results.collect {
      case (op, _, _, _, outB, outN, _) if outB > 0 && outN == 0 => op
    }
    vacuous.foreach(op => System.err.println(
      s"[scalebench] VACUOUS SCALE ROW: $op emits 0 rows at ${copies}x " +
        "(nonzero at base) — the N-x measurement exercises no output path"))

    def fmt(d: Double) = f"$d%.4f"
    val stealRunPct = graft.ProcStat.stealPctBetween(stealRun0, graft.ProcStat.snapshot())
    val json = s"""{"copies":$copies,"reps":$reps,"base":"$baseDir","child_mem":"$ChildMem","sacrificial_child":$sacrificed,"idle_waited_s":${fmt(idleWaitedS)},"steal_pct":${fmt(stealRunPct)},"group_steal_pct":[${groupSteal.map(g => fmt(g._2)).mkString(",")}],"rows":{""" +
      rows.map { case (t, (b, x)) => s""""$t":[$b,$x]""" }.mkString(",") +
      s"""},"ops":{""" +
      results.map { case (op, b, x, r, outB, outN, inProc) =>
        // ratio_out: output growth at N× — read the wall ratio against
        // it (wall/out ~flat = output-bound, not a plan residue)
        val ratioOut = if (outB > 0) outN.toDouble / outB else 0.0
        s""""$op":{"base_s":${fmt(b)},"x${copies}_s":${fmt(x)},"ratio":${fmt(r)},""" +
          s""""out_rows":[$outB,$outN],"ratio_out":${fmt(ratioOut)}""" +
          OpScratchSuffix.get(op).map(s => s""","corpus":"scratch$s"""").getOrElse("") +
          (if (inProc) ""","in_process":true}""" else "}")
      }.mkString(",") + s"""},"vacuous":[""" +
      vacuous.map(op => s""""$op"""").mkString(",") +
      s"""],"fork_failures":[""" +
      forkFailures.map { case (i, g, reason) =>
        s"""{"group":$i,"ops":[${g.map(o => s""""$o"""").mkString(",")}],""" +
          s""""reason":${escapeJson(reason)}}"""
      }.mkString(",") + s"""],"skipped":[""" +
      skipped.map { case (op, why) =>
        s"""{"op":"$op","reason":"$why"}"""
      }.mkString(",") + s"""],"recall_at_5":{""" +
      recalls.map { case (op, r, th) =>
        s""""$op":{"recall":${fmt(r)},"threshold":${fmt(th)},"pass":${r + 1e-12 >= th}}"""
      }.mkString(",") + "}}"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json)
    println(json)
    spark.stop()
  }
}
