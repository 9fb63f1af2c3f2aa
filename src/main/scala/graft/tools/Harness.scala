package graft.tools

import graft.{Engine, ProcStat, SparkEntry}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The one measurement protocol behind every runner ([[graft.Bench]],
  * [[ScaleBench]], [[SoloProfile]]):
  *
  *  - IDLE GATE: refuse to start while the 1-min load exceeds
  *    [[IdleLoadMax]], for at most [[IdleWaitMaxS]] (an eternally busy
  *    host must not hang a runner). Round 10's first timed group
  *    carried TPC-H medians ~2× round 9's from start-of-run contention
  *    alone; round 11's official run released at load 3.96 against the
  *    old cores/8 threshold with 2-6× inflated groups, so the gate is a
  *    fixed 2.0, independent of core count.
  *  - COLD RUNS: every timed run builds and executes the query and
  *    clears the cache manager after the clock stops. Every build gives
  *    a canonically equal plan, so an op's internal `.cache()` filled by
  *    a warm-up was reused by every warm rep: round 13's medians for
  *    ~10 cache-pinning ops measured post-cache work.
  *  - PROCESS ISOLATION: each group of names is measured in a fresh
  *    child JVM ([[fork]]) while the parent sits idle. A single
  *    long-lived session contaminates whatever runs behind its heaviest
  *    stage (round 8's 100-in-1 run inflated mid-run queries 4×).
  *  - SACRIFICIAL CHILD: one untimed child over the first group runs
  *    before any timed group, so the build's tail, the JVM page-in and
  *    the first parquet reads land outside every timed run (the first
  *    child of a sweep measured 4-8× its settled medians without it).
  *  - CONTENTION per child ([[Group]]): the 1-min load at fork, the
  *    share of machine CPU spent on work other than the child
  *    (`/proc/stat` busy time around the fork minus the child's own CPU
  *    time — immune to the child's own load, unlike any loadavg
  *    heuristic), and hypervisor steal, which neither of the others can
  *    see. A contended group gets exactly one forked re-run; the re-run
  *    replaces it only when the re-run itself ran clean.
  *  - FALLBACK: a group whose child cannot run is measured in the
  *    parent instead, and the record says so and why.
  *  - COMPILE COUNTS: every timed run carries the generated classes it
  *    compiled and their compile time ([[Timed]]); a compile is a miss
  *    in Spark's per-JVM class cache, so a run that paid the codegen
  *    layer shows it beside its wall. */
object Harness {

  val IdleLoadMax: Double = 2.0
  val IdleWaitMaxS = 600
  /** Share of machine CPU spent outside the measuring child above which
    * a group is contended: 10% absorbs the parent's bookkeeping and
    * kernel noise; a competing build or Spark job shows up at 30%+. */
  val ExternalCpuWarn = 0.10
  /** Hypervisor steal (% of the window's CPU time) above which a group
    * is contended: a sweep window averaging ~5% steal inflated
    * shuffle-heavy medians 1.5-3× against the same code minutes later. */
  val StealWarnPct = 5.0

  def loadAvg: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Where a runner writes a committed record: `path` itself only in a
    * deliberate BENCH_COMMIT=1 run (the one recorded after agreeing
    * idle runs), `path.new` otherwise, so no other run dirties the
    * committed file. */
  def recordPath(path: String): String =
    if (sys.env.get("BENCH_COMMIT").contains("1")) path else s"$path.new"

  /** Block until the host is near-idle or the wait budget is spent;
    * returns the seconds waited. */
  def awaitIdle(tag: String): Double = {
    val t0 = System.nanoTime
    var l = loadAvg
    while (l > IdleLoadMax && (System.nanoTime - t0) / 1e9 < IdleWaitMaxS) {
      System.err.println(f"[$tag] host busy (1-min load $l%.1f > $IdleLoadMax%.1f) — waiting 10 s")
      Thread.sleep(10000)
      l = loadAvg
    }
    (System.nanoTime - t0) / 1e9
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** `s` as a quoted JSON string: backslash, quote and every control
    * character escaped — a tab in hand-written SQL or a raw JVM
    * stderr line would otherwise break the reader's `json.load`. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The JVM's two exact counters of the codegen compile layer: the
    * generated classes Janino compiled (each one a miss in Spark's
    * per-JVM class cache) and their total compile time. Both only
    * grow; a run's share is the difference of two readings. */
  final case class Codegen(compiles: Long, compileNs: Long) {
    def -(o: Codegen): Codegen = Codegen(compiles - o.compiles, compileNs - o.compileNs)
    def ms: Double = compileNs / 1e6
  }

  def codegen(): Codegen =
    Codegen(CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  /** One timed run: wall seconds and the compiles it paid. */
  final case class Timed(wallS: Double, codegen: Codegen)

  object Timed {
    /** Runs as one tab- and newline-free field of a child's row. */
    def encode(runs: Seq[Timed]): String =
      runs.map(r => f"${r.wallS}%.4f/${r.codegen.compiles}/${r.codegen.compileNs}").mkString(",")
    def decode(s: String): Seq[Timed] = s.split(',').toSeq.filter(_.nonEmpty).map { r =>
      val Array(w, c, ns) = r.split('/')
      Timed(w.toDouble, Codegen(c.toLong, ns.toLong))
    }
    /** The record's per-run compile fields, without braces. */
    def json(runs: Seq[Timed]): String =
      s""""codegen_compiles":[${runs.map(_.codegen.compiles).mkString(",")}],""" +
        s""""codegen_compile_ms":[${runs.map(r => f"${r.codegen.ms}%.1f").mkString(",")}]"""
  }

  /** One cold run of a registered query: build it, execute it through
    * the noop sink (`count()` would let Catalyst prune the aggregates),
    * and clear every cache after the clock stops, whether or not the
    * run failed. */
  def coldRun(spark: SparkSession, name: String, dir: String): Timed = {
    val (c0, t0) = (codegen(), System.nanoTime)
    try {
      SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
      Timed((System.nanoTime - t0) / 1e9, codegen() - c0)
    } finally spark.sharedState.cacheManager.clearCache()
  }

  /** Strategy-relevant plan features, matched on the names Spark
    * prints. Node names (`Exchange` alone is the shuffle; a reused one
    * prints `ReusedExchange [..], Exchange ..` on one line) count only
    * where a node starts: after the tree prefix and an optional
    * whole-stage-codegen tag `*(n)`. */
  private val PlanMarkers: Seq[(String, scala.util.matching.Regex)] = {
    def node(n: String) = n -> s"(?m)^[ :+\\-]*(?:\\*\\(\\d+\\) )?$n\\b".r
    Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
      "BroadcastNestedLoopJoin", "CartesianProduct", "AQEShuffleRead",
      "skewed=true", "coalesced").map(m => m -> m.r) ++
      Seq("Exchange", "BroadcastExchange", "InMemoryTableScan").map(node)
  }

  /** Marker counts over the FINAL plan only: a stringified
    * AdaptiveSparkPlan carries the initial plan too, which would double
    * every marker and hide a flip where final and initial differ the
    * same way across runs. */
  def fingerprint(plan: String): Map[String, Int] = {
    val finalOnly = plan.split("== Initial Plan ==")(0)
    PlanMarkers.map { case (m, r) => m -> r.findAllIn(finalOnly).length }.toMap
  }

  private def sunOs: Option[com.sun.management.OperatingSystemMXBean] =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => Some(os)
      case _ => None
    }

  /** Child heap in GiB for a host with `totalBytes` of memory: half of
    * it, clamped to 2-24 GiB. Children are the only JVM working while
    * they run, so they get the host (round 10's heaviest 100× group
    * killed an 8g child); the other half stays for the parent, the OS
    * page cache and anyone else on the machine. */
  def childHeapGb(totalBytes: Long): Long =
    math.min(24L, math.max(2L, totalBytes / 2 / (1L << 30)))

  lazy val ChildHeapGb: Long = childHeapGb(sunOs.map(_.getTotalMemorySize).getOrElse(0L))

  /** The child's command line: this JVM's own flags (add-opens, `-D`
    * conf) with its `-Xmx` replaced by exactly one `-Xmx` of `heapGb`. */
  def childCommand(main: String, args: Seq[String],
      jvmArgs: Seq[String] = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
      heapGb: Long = ChildHeapGb): Seq[String] =
    Seq(Paths.get(sys.props("java.home"), "bin", "java").toString) ++
      jvmArgs.filterNot(_.startsWith("-Xmx")) ++
      Seq(s"-Xmx${heapGb}g", "-cp", sys.props("java.class.path"), main) ++ args

  /** One child's contention record, with how its rows were obtained
    * (`fallback` = why the rows were measured in the parent). */
  final case class Group(idx: Int, names: Seq[String], loadStart: Double,
      externalCpuFrac: Double = -1.0, stealPct: Double = -1.0,
      retried: Boolean = false, retryClean: Boolean = false,
      fallback: Option[String] = None) {
    /** External CPU above [[ExternalCpuWarn]] or steal above
      * [[StealWarnPct]]; an unavailable measurement (< 0) never flips
      * the flag, except that an unavailable external share falls back
      * to a start load above twice [[IdleLoadMax]]. */
    def contended: Boolean =
      externalCpuFrac > ExternalCpuWarn ||
        (externalCpuFrac < 0 && loadStart > IdleLoadMax * 2) ||
        stealPct > StealWarnPct
    def json: String = {
      def f(d: Double) = f"$d%.4f"
      s"""{"idx":$idx,"load_start":${f(loadStart)},"external_cpu_frac":${f(externalCpuFrac)},""" +
        s""""steal_pct":${f(stealPct)},"contended":$contended,"retried":$retried,""" +
        s""""retry_clean":$retryClean""" +
        fallback.map(r => s""","in_process":true,"reason":${jsonString(r)}""").getOrElse("") + "}"
    }
  }

  private val ChildFlag = "--child"
  private val CpuRow = "__cpu"

  /** What a child was asked to do, parsed from its command line. */
  final case class ChildArgs(out: String, sacrificial: Boolean,
      names: Seq[String], extra: Seq[String])

  def childArgs(args: Seq[String]): Option[ChildArgs] = args match {
    case Seq(ChildFlag, out, sacrificial, names, extra @ _*) =>
      Some(ChildArgs(out, sacrificial.toBoolean, names.split(',').toSeq.filter(_.nonEmpty), extra))
    case _ => None
  }

  /** Child side of [[fork]]: one fresh session. A sacrificial child
    * runs `warm` once per name; a timed one hands all names to
    * `measure`. Either writes one `name\tvalue` row per name plus its
    * own CPU seconds (the parent cannot read a reaped child's CPU). */
  def runChild(c: ChildArgs, app: String)(warm: (SparkSession, String) => Unit)(
      measure: (SparkSession, Seq[String]) => Seq[(String, String)]): Unit = {
    val spark = Engine.session(app)
    val rows =
      if (c.sacrificial) c.names.map { n => warm(spark, n); n -> "" }
      else measure(spark, c.names)
    val cpuS = sunOs.map(_.getProcessCpuTime / 1e9).getOrElse(-1.0)
    Files.writeString(Paths.get(c.out),
      (rows :+ (CpuRow -> f"$cpuS%.2f")).map { case (n, v) => s"$n\t$v" }.mkString("", "\n", "\n"))
    spark.stop()
  }

  /** Fork `main` as a child over `names` and measure the host around
    * it. Right(name -> value rows) only when the child exited 0 and
    * wrote a row for every name; otherwise Left(reason), quoting the
    * child's last words from its stderr (echoed live to ours). */
  def fork(main: String, idx: Int, names: Seq[String], extra: Seq[String],
      sacrificial: Boolean = false): (Either[String, Seq[(String, String)]], Group) = {
    val out = Files.createTempFile(s"graft-g$idx-", ".tsv")
    val group = Group(idx, names, loadAvg)
    try {
      val pb = new ProcessBuilder(childCommand(main,
        Seq(ChildFlag, out.toString, sacrificial.toString, names.mkString(",")) ++ extra).asJava)
      pb.redirectOutput(ProcessBuilder.Redirect.DISCARD)
      val (busy0, steal0, t0) = (ProcStat.busySeconds(), ProcStat.snapshot(), System.nanoTime)
      val p = pb.start()
      val tail = scala.collection.mutable.Queue.empty[String]
      scala.io.Source.fromInputStream(p.getErrorStream).getLines().foreach { l =>
        System.err.println(l)
        tail += l
        if (tail.size > 200) tail.dequeue()
      }
      val rc = p.waitFor()
      val elapsedS = (System.nanoTime - t0) / 1e9
      val (busy1, stealPct) = (ProcStat.busySeconds(), ProcStat.stealPctBetween(steal0, ProcStat.snapshot()))
      val rows = Files.readAllLines(out).asScala.toSeq.map(_.split("\t", 2)).collect {
        case Array(n, v) => n -> v
      }
      val childCpuS = rows.collectFirst { case (CpuRow, v) => v.toDouble }.getOrElse(-1.0)
      val ext = (busy0, busy1) match {
        case (Some(b0), Some(b1)) if childCpuS >= 0 && elapsedS > 0 =>
          math.max(0.0, b1 - b0 - childCpuS) / (elapsedS * Runtime.getRuntime.availableProcessors)
        case _ => -1.0
      }
      val got = rows.filterNot(_._1 == CpuRow)
      def lastWords: String = tail.reverseIterator
        .find(l => Seq("Error", "Exception", "Killed", "insufficient memory").exists(l.contains))
        .orElse(tail.lastOption).getOrElse("no stderr").take(300)
      val res =
        if (rc != 0) Left(s"child exited $rc (heap ${ChildHeapGb}g): $lastWords")
        else if (got.map(_._1).toSet != names.toSet)
          Left(s"child exited 0 but wrote ${got.length}/${names.length} rows: $lastWords")
        else Right(got)
      (res, group.copy(externalCpuFrac = ext, stealPct = stealPct))
    } catch { case e: Throwable =>
      (Left(s"fork machinery: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"), group)
    } finally Files.deleteIfExists(out)
  }

  /** A whole measured sweep: the loads around the idle gate, whether
    * the sacrificial child ran, and each group's record and rows. */
  final case class Sweep(loadBefore: Double, idleWaitedS: Double,
      loadAtFirstGroup: Double, sacrificed: Boolean, groups: Seq[Group],
      rows: Seq[(String, String)])

  /** The protocol over `names` in groups of `groupSize`: idle gate,
    * sacrificial child, one child per group (one re-run when
    * contended), and `inProcess` for a group whose child failed. */
  def sweep(tag: String, main: String, extra: Seq[String], names: Seq[String],
      groupSize: Int)(inProcess: Seq[String] => Seq[(String, String)]): Sweep = {
    val loadBefore = loadAvg
    val waited = awaitIdle(tag)
    val loadFirst = loadAvg
    System.err.println(f"[$tag] idle gate: waited $waited%.0f s, load $loadBefore%.2f -> $loadFirst%.2f")
    val groups = names.grouped(groupSize).toSeq
    val sacrificed = groups.headOption.exists { g =>
      System.err.println(s"[$tag] sacrificial child: ${g.mkString(", ")} (untimed)")
      fork(main, -1, g, extra, sacrificial = true)._1.isRight
    }
    val measured = groups.zipWithIndex.map { case (g, i) =>
      val (res, group) = fork(main, i, g, extra) match {
        case (Right(rows), first) if first.contended =>
          System.err.println(f"[$tag] group $i CONTENDED (ext ${first.externalCpuFrac}%.3f, " +
            f"steal ${first.stealPct}%.1f%%, load ${first.loadStart}%.2f) — one forked re-run")
          fork(main, i, g, extra) match {
            case (Right(again), second) if !second.contended =>
              (Right(again), second.copy(retried = true, retryClean = true))
            case _ => (Right(rows), first.copy(retried = true))
          }
        case other => other
      }
      res match {
        case Right(rows) => (group, rows)
        case Left(reason) =>
          System.err.println(s"[$tag] group $i: in-process fallback ($reason)")
          (group.copy(fallback = Some(reason)), inProcess(g))
      }
    }
    Sweep(loadBefore, waited, loadFirst, sacrificed, measured.map(_._1), measured.flatMap(_._2))
  }
}
