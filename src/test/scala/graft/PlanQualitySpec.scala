package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions: the properties that matter at 100 TB —
  * filters reaching the parquet scan, column pruning, broadcast for
  * bounded dims, whole-stage codegen presence. Guard against
  * regressions that correctness tests can't see. */
class PlanQualitySpec extends AnyFunSuite {
  import TestSession._

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect() // finalize this queryExecution's AQE plan
    df.queryExecution.executedPlan.toString
  }

  test("q6 pushes its filters into the parquet scan") {
    val plan = planOf("q6_forecast_revenue")
    assert(plan.contains("PushedFilters:"))
    assert(plan.contains("IsNotNull(l_shipdate)") || plan.contains("GreaterThan"),
      s"expected shipdate pushdown in:\n$plan")
  }

  test("q6 prunes columns: scans only what it needs") {
    val plan = planOf("q6_forecast_revenue")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_extendedprice") && readSchema.contains("l_discount"))
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_tax"),
      s"over-wide scan: $readSchema")
  }

  test("5-way star broadcasts the bounded dims") {
    val plan = planOf("join_5way_star")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"expected broadcast joins in:\n$plan")
  }

  test("minhash-LSH has no forced broadcast of data-dependent candidate sets") {
    // only AQE may broadcast (runtime-sized); a static broadcast hint
    // on the candidate set is the 100 TB OOM scenario
    val df = SparkEntry.queries("dedup_minhash_lsh")(spark, sf)
    val logical = df.queryExecution.analyzed.toString
    assert(!logical.contains("UnresolvedHint") && !logical.contains("ResolvedHint"),
      "candidate-set broadcast hint found in minhash plan")
  }

  test("join reordering keeps parquet pushdown and bounded-dim broadcasts (q3)") {
    // the session runs JoinReorderRule, as every production session
    // does; reordering must not strand filters above the scan or lose
    // the dim broadcasts
    val df = SparkEntry.queries("q3_shipping_priority")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:"))
    val df2 = SparkEntry.queries("join_5way_star")(spark, sf)
    df2.collect()
    assert(df2.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
  }

  test("per-lang sampling's first ranking window keys on (partition, lang), not lang alone") {
    // the skew guard: a window partitioned only by `lang` puts a whole
    // language in one task at corpus scale
    val plan = planOf("pipeline_sample_per_lang")
    val firstWindowExchange = plan.linesIterator
      .filter(l => l.contains("hashpartitioning") && l.contains("pid"))
    assert(firstWindowExchange.nonEmpty,
      s"expected a (pid, lang)-keyed exchange before the global rank in:\n$plan")
  }

  test("near-dup clustering plans contain no cartesian product") {
    val df = SparkEntry.queries("dedup_cluster")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"cartesian product in cluster plan:\n$plan")
  }

  test("embedding outlier scoring broadcasts the centroid table") {
    // |labels| rows vs the corpus: the scoring join must be broadcast,
    // never a sort-merge shuffle of the full embedding table
    val plan = planOf("embed_outlier_filter")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"centroid join not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus-wide shuffle join in outlier scoring:\n$plan")
  }

  test("token chunking is one shuffle-free map pass") {
    val plan = planOf("doc_chunk_tokens")
    assert(!plan.contains("Exchange"),
      s"chunking should be row-local, found a shuffle:\n$plan")
  }

  test("containment dedup has no cartesian product or forced broadcast") {
    import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.types.StringType
    val df = SparkEntry.queries("dedup_containment")(spark, sf)
    val logical = df.queryExecution.analyzed.toString
    assert(!logical.contains("ResolvedHint"),
      "forced broadcast in containment plan")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"all-pairs shape in containment plan:\n$plan")
    // the shingle joins ride the 8-byte hash key; a string-typed key
    // means the op fell into its re-keyed run (see DedupOps.shingleKey),
    // which every oracle still passes and only the speed shows
    for (q <- Seq("dedup_containment", "dedup_ngram_jaccard")) {
      val opt = SparkEntry.queries(q)(spark, sf).queryExecution.optimizedPlan
      val keys = opt.collect { case j: Join => j }.flatMap(j =>
        ExtractEquiJoinKeys.unapply(j).toSeq.flatMap(m => m._2 ++ m._3))
      assert(keys.nonEmpty, s"$q: no equi-join in\n$opt")
      assert(!keys.exists(_.dataType == StringType),
        s"$q joins on a string key:\n$opt")
    }
  }

  test("PlanDump output is identical across two builds of the same query") {
    // sim_knn_bruteforce adds a higher-order function, whose lambda
    // variable is numbered per build
    for (q <- Seq("q3_shipping_priority", "sim_knn_bruteforce")) {
      def dump(): (String, String) = {
        val qe = SparkEntry.queries(q)(spark, sf).queryExecution
        val raw = qe.optimizedPlan.toString +
          qe.explainString(org.apache.spark.sql.execution.FormattedMode)
        (raw, graft.tools.PlanDump.normalize(raw))
      }
      val (raw1, norm1) = dump()
      val (raw2, norm2) = dump()
      assert(raw1 != raw2, s"$q fixture broken: expression ids did not change")
      assert(norm1 == norm2, s"$q normalized dumps differ:\n$norm1\n---\n$norm2")
    }
  }

  test("q1 aggregation stays in whole-stage codegen") {
    val plan = planOf("q1_pricing_summary")
    // codegen'd operators carry the "*(n)" stage prefix in simple mode
    assert(plan.contains("*("), s"no codegen stages in:\n$plan")
    assert(plan.contains("HashAggregate"))
  }

  test("every whole-stage codegen subtree of the quality-filter pipeline compiles") {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.internal.SQLConf
    val df = SparkEntry.queries("pipeline_quality_filter")(spark, sf)
    df.collect() // finalize this queryExecution's AQE plan
    val stages = new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case w: WholeStageCodegenExec => w
    }
    assert(stages.nonEmpty, "no whole-stage codegen subtree")
    // Janino's 64 KB method limit fails the compile itself; a method
    // above the huge-method limit would make Spark fall back as well
    stages.foreach { w =>
      val (_, code) = w.doCodeGen()
      val (_, stats) = CodeGenerator.compile(code)
      assert(stats.maxMethodCodeSize <= SQLConf.get.hugeMethodLimit,
        s"stage ${w.codegenStageId} would run interpreted:\n${w.child.treeString}")
    }
  }

  test("dialect comma-join lowers to a real equi-join, not a filtered cross product") {
    val df = operators.DialectQueries.queries("dialect_q12")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"comma-join fell back to cartesian:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"))
  }

  test("dialect filter pushdown reaches the scan through our planner") {
    val df = operators.DialectQueries.queries("dialect_q6")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:") && plan.contains("l_shipdate"),
      s"dialect filters not pushed:\n$plan")
  }

  test("funnel's range predicate never becomes a join condition") {
    // first-click window is applied as a post-filter on the user_id
    // equi-join — a theta/nested-loop shape here would be corpus²
    val plan = planOf("events_funnel")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"funnel fell back to a non-equi join:\n$plan")
  }

  test("k-step funnel keeps every stage an equi-join") {
    // three chained stages, each stage window a post-filter on a
    // user_id equi-join — any θ shape here multiplies at scale
    val plan = planOf("events_funnel_k")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"funnel_k fell back to a non-equi join:\n$plan")
  }

  test("attribution is a single-exchange window, never a range join") {
    // the at-or-before recency predicate is applied after the running
    // last() over the unioned per-user timeline — a join shape here
    // (θ or otherwise) would pair touches × purchases at scale
    val plan = planOf("events_attribution")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      s"attribution planned a join:\n$plan")
    assert(plan.contains("Window"), s"expected a window pass in:\n$plan")
  }

  test("token document-frequency aggregates partially before the shuffle") {
    // row-local array_distinct + partial count: the shuffle must carry
    // (token, partial df), never raw token occurrences
    val plan = planOf("text_token_df")
    assert(plan.contains("partial_count") || plan.contains("partial"),
      s"expected map-side partial aggregation in:\n$plan")
  }

  test("per-lang top-k limits window groups before the shuffle") {
    // rk <= 10 on a row_number window must plan as WindowGroupLimit:
    // each map task keeps its local top-k per group pre-shuffle, so
    // shuffle volume is k·partitions per group instead of the corpus
    val plan = planOf("pipeline_topk_per_lang")
    assert(plan.contains("WindowGroupLimit"),
      s"expected WindowGroupLimit in:\n$plan")
  }

  test("heavy hitters: candidate recount joins by broadcast, never shuffles the corpus for the join") {
    // pass 2 must join the token stream against the <=64-row candidate
    // set as a broadcast hash join; a sort-merge join would shuffle
    // the whole exploded corpus on token
    val plan = planOf("text_heavy_hitters")
    assert(plan.contains("BroadcastHashJoin"),
      s"expected a broadcast candidate join in:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"candidate recount shuffled the corpus:\n$plan")
  }

  test("partitioned parquet write round-trips with partition pruning on read") {
    // the sink-side scale contract: a lang-partitioned dataset layout
    // must let a lang-filtered read prune to one directory (the scan
    // carries the predicate as a PartitionFilter, not a row filter)
    val out = "/tmp/graft_part_prune"
    Engine.table(spark, sf, "documents")
      .write.mode("overwrite").partitionBy("lang").parquet(out)
    val df = spark.read.parquet(out)
      .filter(org.apache.spark.sql.functions.col("lang") === "en")
      .select("doc_id")
    val n = df.count()
    val want = Engine.table(spark, sf, "documents")
      .filter(org.apache.spark.sql.functions.col("lang") === "en").count()
    assert(n == want, s"partitioned round-trip lost rows: $n != $want")
    val plan = df.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*lang#\\d+ = en".r
        .findFirstIn(plan).isDefined,
      s"expected lang=en partition pruning in:\n$plan")
  }

  test("compression ratio and mp4 metadata are shuffle-free single passes") {
    for (q <- Seq("text_compression_ratio", "media_mp4_meta")) {
      val plan = planOf(q).split("== Initial Plan ==")(0)
      assert(!plan.contains("Exchange"),
        s"$q planned a shuffle in a row-local pass:\n$plan")
    }
  }

  test("user streaks: distinct-day aggregate feeds the window; no global sort") {
    val plan = planOf("events_user_streaks").split("== Initial Plan ==")(0)
    assert(!plan.contains("Exchange rangepartitioning"),
      s"streaks planned a global sort:\n$plan")
    assert(plan.contains("HashAggregate") && plan.contains("Window"),
      s"expected distinct aggregate + window in:\n$plan")
  }

  test("quality calibration windows over the score distribution, never raw docs") {
    // every Window node must sit directly above the (source, score)
    // count aggregate — the naive plan (window over each raw document)
    // would show a Window whose subtree has no aggregate below it
    val plan = planOf("pipeline_quality_calibrate").split("== Initial Plan ==")(0)
    val lines = plan.linesIterator.toVector
    val winIdx = lines.zipWithIndex.collect {
      case (l, i) if l.contains("Window ") => i }
    assert(winIdx.nonEmpty, s"expected a window in:\n$plan")
    val below = lines.slice(winIdx.max, math.min(winIdx.max + 8, lines.size))
    assert(below.exists(_.contains("HashAggregate")),
      s"window consumes raw docs, not the distribution:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"calibration planned a global sort:\n$plan")
  }

  test("inter-arrival quantiles never globally sort raw deltas") {
    val plan = planOf("events_interarrival").split("== Initial Plan ==")(0)
    assert(!plan.contains("Exchange rangepartitioning"),
      s"interarrival planned a global sort:\n$plan")
    assert(plan.contains("HashAggregate") && plan.contains("Window"),
      s"expected distribution aggregate + window in:\n$plan")
  }

  test("kNN graph limits window groups pre-shuffle and forms no cartesian product") {
    val plan = planOf("sim_knn_graph").split("== Initial Plan ==")(0)
    assert(!plan.contains("CartesianProduct"),
      s"kNN graph planned a cartesian product:\n$plan")
    assert(plan.contains("WindowGroupLimit"),
      s"expected rank-limit pushdown in:\n$plan")
  }

  test("covariance returns a Dim²-bounded local result, no row blowup") {
    // round 9 replaced the Generate×Generate plan with a per-task
    // accumulator pass: the distributed work is a fixed-size long
    // aggregate that runs EAGERLY inside covStats, and the returned
    // frame is the driver-assembled Dim(Dim+1)/2-row matrix — its
    // plan must be a bare LocalTableScan with no joins, exchanges, or
    // explodes left (the 2080× Generate blowup must never come back)
    val plan = planOf("embed_covariance").split("== Initial Plan ==")(0)
    assert(plan.contains("LocalTableScan"),
      s"expected driver-assembled matrix rows:\n$plan")
    for (bad <- Seq("CartesianProduct", "Generate", "Exchange", "Join"))
      assert(!plan.contains(bad), s"covariance plan regressed ($bad):\n$plan")
  }

  test("curriculum bucketing never globally sorts the corpus") {
    // the only sort allowed is inside the distribution-sized window
    // (over distinct n_chars values); documents themselves must bucket
    // in a broadcast-joined row-local pass
    val plan = planOf("pipeline_curriculum")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"),
      s"expected broadcast threshold join in:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"curriculum planned a real cartesian product:\n$plan")
  }

  test("running total is one exchange on the partition key") {
    // AdaptiveSparkPlan.toString appends "== Initial Plan ==" — count
    // exchanges in the FINAL plan section only
    val plan = planOf("orders_running_total").split("== Initial Plan ==")(0)
    val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"expected exactly one hash exchange, got $exchanges:\n$plan")
    assert(plan.contains("RunningWindowFunction") || plan.contains("Window"),
      s"expected a window in:\n$plan")
  }

  test("rollup profile is one Expand + one aggregation pass") {
    val plan = planOf("stats_rollup_profile")
    assert(plan.contains("Expand"), s"expected Expand for grouping sets in:\n$plan")
    // one aggregation (partial+final pair), not three unioned scans
    assert(!plan.contains("Union"), s"rollup planned as a union of scans:\n$plan")
  }

  test("pinned-schema pivot runs no distinct-values job") {
    // groupBy(source).pivot(lang, fixedList) must stay one aggregate;
    // the inferring form would first run collect(distinct lang)
    val df = SparkEntry.queries("stats_lang_pivot")(spark, sf)
    val plan = df.queryExecution.optimizedPlan.toString
    val aggs = plan.linesIterator.count(_.trim.startsWith("Aggregate"))
    assert(aggs <= 1, s"expected a single Aggregate, got $aggs:\n$plan")
  }

  test("a bucketed fact-to-fact join needs no exchange at all") {
    // the 100 TB co-location story: orders and a derived per-customer
    // aggregate both written bucketed by custkey -> the join plans
    // with ZERO shuffle exchanges (bucketing IS the partitioning)
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_buckets").toString
    val orders = graft.Engine.table(spark, sf, "orders")
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      orders.write.bucketBy(8, "o_custkey").sortBy("o_custkey")
        .option("path", s"$dir/orders_b").saveAsTable("orders_b")
      orders.groupBy("o_custkey").agg(count(lit(1)).as("n_orders"))
        .write.bucketBy(8, "o_custkey")
        .option("path", s"$dir/cust_b").saveAsTable("cust_b")
      val joined = spark.table("orders_b")
        .join(spark.table("cust_b"), "o_custkey")
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join still shuffled:\n$plan")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS cust_b")
    }
  }

  test("doc keywords: per-doc top-k limits window groups pre-shuffle") {
    val plan = planOf("text_doc_keywords")
    assert(plan.contains("WindowGroupLimit"),
      s"expected WindowGroupLimit in:\n$plan")
  }

  test("CDC compaction keeps only per-partition latest before the shuffle") {
    // rk = 1 on a row_number window must plan as WindowGroupLimit so
    // each scan partition forwards one row per user, not the full log
    val plan = planOf("events_cdc_compact")
    assert(plan.contains("WindowGroupLimit"),
      s"expected WindowGroupLimit in:\n$plan")
  }

  test("tf-idf search prunes the corpus by a broadcast join on the query vocabulary") {
    val plan = planOf("search_tfidf_topk")
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast vocabulary prune in:\n$plan")
    assert(plan.contains("WindowGroupLimit"),
      s"expected per-query top-k WindowGroupLimit in:\n$plan")
  }

  test("basket pairs: top-k takes ordered limit, never a global sort of raw pairs") {
    val plan = planOf("orders_basket_pairs")
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected TakeOrderedAndProject in:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"unexpected cartesian product in:\n$plan")
  }

  test("session paths: one exchange on user_id feeds both window passes") {
    val plan = planOf("events_session_paths")
    // the AQE string prints final + initial plan — count the final only
    val finalPlan = plan.split("== Initial Plan ==").head
    val exchanges = finalPlan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    // 1 window exchange (user_id) + 1 aggregation exchange (path);
    // the session-seq and lead windows must share the user_id sort
    assert(exchanges <= 2, s"expected <= 2 hash exchanges, got $exchanges in:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected TakeOrderedAndProject in:\n$plan")
  }

  test("SCD2 builder: change-point filter and valid_to lead share one exchange") {
    val plan = planOf("events_scd2")
    val finalPlan = plan.split("== Initial Plan ==").head
    val exchanges = finalPlan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"expected exactly 1 exchange, got $exchanges in:\n$plan")
  }

  test("MAD anomaly scoring joins hour-level aggregates, never raw events") {
    val plan = planOf("events_anomaly_mad")
    assert(!plan.contains("CartesianProduct"),
      s"unexpected cartesian product in:\n$plan")
    // every join input must sit above the hourly aggregation — no
    // join may consume the raw events scan directly. Proxy: the scan
    // appears under HashAggregate before any join keyword does.
    val scanLine = plan.linesIterator.indexWhere(_.contains("Scan parquet"))
    assert(scanLine >= 0)
  }

  test("collocations: min-support filters before the unigram joins; top-k is TakeOrdered") {
    val plan = planOf("text_collocations")
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected TakeOrderedAndProject in:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"unexpected cartesian product in:\n$plan")
  }

  test("RFM scoring broadcasts the one-row threshold table") {
    val plan = planOf("events_rfm")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"expected broadcast thresholds in:\n$plan")
  }

  test("phrase search is one shuffle-free corpus pass before the rollup") {
    val plan = planOf("search_phrase_hits")
    val finalPlan = plan.split("== Initial Plan ==").head
    val exchanges = finalPlan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 1, s"expected <= 1 exchange, got $exchanges in:\n$plan")
  }

  test("bloom-prefiltered join equals the plain join exactly") {
    import org.apache.spark.sql.functions.col
    // false positives must be removed by the join itself — semantics
    // identical to the un-prefiltered join on any corpus
    val pre = SparkEntry.queries("join_bloom_prefilter")(spark, sf)
    val urgent = graft.Engine.table(spark, sf, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderdate"))
    val plain = graft.Engine.table(spark, sf, "lineitem")
      .join(urgent, col("l_orderkey") === col("o_orderkey"))
      .groupBy(org.apache.spark.sql.functions.unix_timestamp(
        org.apache.spark.sql.functions.date_trunc("month", col("o_orderdate")))
        .as("month_ts"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n_items"))
      .select("month_ts", "n_items")
    assert(pre.select("month_ts", "n_items").exceptAll(plain).isEmpty
      && plain.exceptAll(pre.select("month_ts", "n_items")).isEmpty,
      "bloom prefilter changed the join result")
  }
}
