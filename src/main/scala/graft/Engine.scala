package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFooterShim
import org.apache.spark.sql.types.StructType

/** Shared session construction + table access for the graft engine.
  *
  * Design notes (100 TB posture):
  *  - All table access goes through parquet scans so Catalyst can push
  *    filters/projections into the file source (verify via
  *    `PushedFilters`/`ReadSchema` in `.explain("formatted")`).
  *  - Shuffle partitions default to the local core count; on a real
  *    cluster this is superseded by AQE coalescing
  *    (`spark.sql.adaptive.coalescePartitions.enabled`, on by default).
  */
object Engine {

  /** TPC-H-ish tables the driver materializes per scale factor. */
  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Dimension tables that are always safe to broadcast: their size is
    * bounded (region=5, nation=25) regardless of scale factor. */
  val alwaysBroadcast: Set[String] = Set("region", "nation")

  /** Entries of Spark's per-JVM cache of compiled generated classes
    * (`spark.sql.codegen.cache.maxEntries`, Spark's default 100); see
    * [[session]] for how it was sized. No environment override: the
    * value must be the same in every JVM that shares a measurement. */
  val CodegenCacheEntries: Int = 4096

  /** Local cores a session runs on: `SPARK_GRAFT_CPUS` if set, else
    * the JVM's available processors. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The one session builder in `src`: the shell, the runners, Verify,
    * the benchmark and the tests all run this configuration. `cpus`
    * sets both the local master and the shuffle partition count. */
  def session(appName: String = "graft", cpus: Int = Engine.cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      // the join-order research surface (DPsize/GOO/heuristic search,
      // ref SIGMOD'23) runs in every session
      .config("spark.sql.extensions", "graft.optimizer.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // java.time collect types: proleptic Gregorian end-to-end, so
      // negative-year DATEs survive the driver boundary unrebased
      .config("spark.sql.datetime.java8API.enabled", "true")
      // events.parquet is TIMESTAMP(NANOS); set at build time so
      // Engine.table needs no session-conf mutation on the hot path
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // sketch Aggregators (MinHash/SimHash) keep one object buffer per
      // group; the default 128-group fallback would switch them to
      // sort-based aggregation (set here once — operators must not
      // mutate shared-session conf per call)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      // allow the planner to pick a shuffled-hash join when its size
      // conditions hold instead of defaulting to sort-merge (round 13):
      // the hot dedup joins are fixed-width hash-keyed streams where
      // SHJ skips two sorts; the build side stays bounded (df caps,
      // candidate caps). The AQE threshold additionally converts an
      // SMJ to SHJ at runtime when every post-shuffle build partition
      // is under 64 MB — bounded memory at any scale since partition
      // counts grow with input under AQE.
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
      // NEGATIVE RESULT (round 14): size-first AQE coalescing
      // (parallelismFirst=false, advisory 8m or 64m) was hypothesized
      // to fix the 8-core-beats-32-core inversion (tiny stages
      // scheduling 32 near-empty tasks) and measured WORSE on a clean
      // paired A/B over 16 representative queries: size-first at 8m
      // lost 28% overall (17.9 s vs 14.0 s), with CPU-bound mid-size
      // stages starved of parallelism (dedup_cluster_lsh 1.93 → 2.84,
      // orders_basket_pairs 1.50 → 2.29, pipeline_contamination_score
      // 0.78 → 1.24); its only wins were a few milliseconds on
      // kilobyte-sized stages. Local stages are CPU-bound, not
      // byte-bound, so bytes are the wrong coalescing signal here.
      // Spark defaults kept. On a REAL cluster (guide §2.2: 100 MB-1 GB
      // reduce partitions) size-first with a large advisory is the
      // right posture — that decision tracks per-node memory/network,
      // not one host; both are runtime SQL confs, so `spark.conf.set`
      // overrides them per session.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
      // CODEGEN CLASS CACHE. Spark compiles each whole-stage and
      // expression class with Janino (about 11-13 ms a class) and keeps
      // the compiled classes in one per-JVM cache, 100 entries by
      // default. One benchmark curation cycle (seven operators) needs
      // about 290, so the operators evicted each other: at sf0.01 a
      // repeat run recompiled 13-55 classes per operator, 297 a cycle,
      // about 3 s of compile in a 14-18 s sf0.1 cycle.
      // Sizing (every registered query once per pass in one session,
      // name order, an unbounded cache, 4 vCPU): a first pass at
      // sf0.001 compiles 2,250 classes (29.5 s of compile, 118 s wall);
      // a repeat pass 252, nearly all from the streaming queries, whose
      // generated code differed per run and never hit (the two confs
      // below remove most of those misses); a first pass at sf0.01
      // adds 299 and at sf0.1 309 (the same stream churn plus about 50
      // scale-specific literals each). Two passes at each of the three
      // scales compile 3,626 distinct classes in all, the union this
      // bound covers with headroom. It stays finite because a
      // long-lived shell keeps compiling literal-specific classes.
      // Metaspace (used, after each pass, sf0.001 then sf0.01, two
      // passes each): 212-223 MB at 4,096 entries, 204-240 MB at 100
      // (that cache recompiles about 3,100 classes a pass, 35-50 s of
      // compile, and the evicted ones wait for class unloading), and
      // 229 MB unbounded after all 3,626. The cache costs no more than
      // about 20 MB of metaspace at the full working set.
      // TRAP: Spark reads the value once per JVM, in CodeGenerator's
      // static initializer, from the conf active at the JVM's first
      // compile. This builder is the only one, so every JVM's first
      // session carries it.
      // Effect on the benchmark's curation cycle (seven operators at
      // sf0.1, 15 s windows, ten alternating pairs, 4 vCPU): ops/s
      // 0.359 -> 0.544, p50 2,802 -> 1,907 ms, p90 3,642 -> 2,751 ms,
      // the same plans. At sf0.01 the repeat run of each operator
      // compiles 0 classes (4 for dedup_containment and
      // search_tfidf_topk), 8 a cycle.
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // WARM RE-RUNS HIT THE CACHE. Spark 4.1 keys a cached class on
      // the context class loader as well as its code, and with artifact
      // isolation each streaming query compiled under its own loader,
      // so every run of it missed. AQE numbers whole-stage classes in
      // the order stages materialize, so the same code also missed
      // under another class name. With both off, a second pass over
      // every registered query compiles nothing but the exceptions
      // `WorkCountSpec` names. Artifact isolation is read when the
      // session is built.
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The schema `spark.read.parquet(path)` would infer, read from the
    * parquet footer on the driver: no Spark job runs, where Spark's own
    * inference runs one per path even for a single file (about 0.1 s
    * each). The footer is the one Spark's inference would pick; a path
    * with no readable footer fails with Spark's
    * `UNABLE_TO_INFER_SCHEMA`. */
  def parquetSchema(spark: SparkSession, path: String): StructType =
    ParquetFooterShim.schema(spark, path)

  /** The one parquet reader in `src/main`: a scan whose schema comes
    * from [[parquetSchema]] instead of a schema-inference job. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(parquetSchema(spark, path)).parquet(path)

  /** Memoized per (session, dir, table): building a parquet DataFrame
    * pays directory listing + a footer read every time, and hot
    * operators call `table` for the same inputs on every invocation —
    * a pure fixed tax (round 13; the same round's registerViews skip,
    * for the SQL-shaped queries, measured ~0.2 s/query from the same
    * cause). The schema comes from [[parquetSchema]], a driver-side
    * footer read, so resolving a table runs no Spark job. The cached
    * value is a LOGICAL PLAN, not data — every action still reads the
    * parquet files — so bench/oracle runs keep computing from the
    * inputs. Input dirs are write-once in every harness (testdata is
    * immutable; spec fixtures build fresh temp dirs; ScaleBench's
    * derive is create-if-absent), which is what makes reusing the file
    * listing sound. */
  private val tableCache =
    collection.mutable.LinkedHashMap.empty[(String, String, String), DataFrame]
  /** Bound on memoized table plans (round 14 hygiene): test suites
    * spin up many short-lived sessions and each leaked a few entries
    * forever. Insertion-order eviction is enough — the hot path (one
    * long-lived session × 10 tables × a couple of dirs) never comes
    * near the cap, so production behavior is unchanged. */
  private val TableCacheMax = 256
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    tableCache.synchronized {
      val df = tableCache.getOrElseUpdate(
        (org.apache.spark.sql.GraftShim.sessionUUID(spark), dir, name),
        buildTable(spark, dir, name))
      while (tableCache.size > TableCacheMax)
        tableCache.remove(tableCache.head._1)
      df
    }

  /** Read one table from a scale-factor directory.
    *
    * `events.ts` has shipped as either TIMESTAMP(NANOS) or
    * TIMESTAMP(MICROS) parquet across testdata generations — branch on
    * the footer type so both load to the same microsecond
    * TimestampType:
    *  - NANOS: Spark's reader rejects it; read as raw nanos (the
    *    legacy flag [[session]] sets) and convert with integer `div`
    *    (floor — matching DuckDB's truncation of ns towards earlier
    *    time);
    *  - MICROS without UTC adjustment arrives as TIMESTAMP_NTZ; the
    *    session timezone is pinned to UTC, so a cast to TimestampType
    *    is epoch-identical (no wall-clock shift). */
  private def buildTable(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
      import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
      val raw = parquet(spark, s"$dir/$name.parquet")
      raw.schema("ts").dataType match {
        case LongType =>
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampNTZType =>
          raw.withColumn("ts", col("ts").cast(TimestampType))
        case _ => raw
      }
    } else {
      parquet(spark, s"$dir/$name.parquet")
    }

  /** Register every table as a temp view (idempotent) and return the
    * session, so SQL-shaped queries (subqueries, window functions) can
    * run through `spark.sql`.
    *
    * Skips the re-registration when this session's views already point
    * at `dir` (round 13): every `Engine.sql` query paid 10 fresh
    * parquet reads (file listing + footer/schema per table) per
    * invocation just to recreate identical views — a fixed ~0.2 s tax
    * on each of the three SQL-shaped queries at any scale. Keyed by
    * session UUID; a dir switch (tests drive several SFs through one
    * session) re-registers. */
  private val registeredDir =
    collection.mutable.LinkedHashMap.empty[String, String]
  def registerViews(spark: SparkSession, dir: String): SparkSession =
    registeredDir.synchronized {
      val key = org.apache.spark.sql.GraftShim.sessionUUID(spark)
      if (!registeredDir.get(key).contains(dir)) {
        tableNames.foreach { n =>
          table(spark, dir, n).createOrReplaceTempView(n)
        }
        registeredDir(key) = dir
        while (registeredDir.size > TableCacheMax)
          registeredDir.remove(registeredDir.head._1)
      }
      spark
    }

  /** Run a SQL text after registering the per-SF views. */
  def sql(spark: SparkSession, dir: String, text: String): DataFrame = {
    registerViews(spark, dir)
    spark.sql(text)
  }
}
