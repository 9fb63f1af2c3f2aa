package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region of an op: the benchmark wraps each call into a
  * layer's public function in a span. Spans of one op share `op`. */
final case class Span(op: Int, id: Int, parent: Int, name: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder; a no-op when tracing is off, so the
  * end-to-end run executes the same calls without recording. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var stack = List.empty[Int]
  private var op = -1
  /** Innermost span an exception left, for per-layer failure counts. */
  var failedIn: String = ""

  def inOp[T](opId: Int)(f: => T): T = { op = opId; failedIn = ""; span("op")(f) }

  /** Time `f` as a child of the innermost open span; jobs it starts are
    * attributed to "op/name" through the Spark job group. */
  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      if (name != "op") sc.setJobGroup(s"$op/$name", name, interruptOnCancel = false)
      val t0 = System.nanoTime
      try f
      catch { case e: Throwable => if (failedIn.isEmpty) failedIn = name; throw e }
      finally {
        spans += Span(op, id, parent, name, t0, System.nanoTime)
        stack = stack.tail
        if (name != "op") sc.clearJobGroup()
      }
    }

  /** Layer self-times of one op: each direct child span's duration, plus
    * the op time no child covers. */
  def selfTimes(opId: Int): (Map[String, Double], Double, Double) = {
    val mine = spans.filter(_.op == opId)
    val root = mine.find(_.name == "op").get
    val kids = mine.filter(_.parent == root.id)
    val byName = kids.groupMapReduce(_.name)(_.ms)(_ + _)
    (byName, root.ms, root.ms - kids.map(_.ms).sum)
  }
}

/** Task-level execution metrics per job group ("op/span"), from a
  * SparkListener. Local mode: driver and executor share the JVM. */
final class TaskListener extends SparkListener {
  final class Acc {
    var jobs, stages, tasks = 0L
    var wallMs, runMs, cpuMs, gcMs = 0.0
    var shuffleWrite, shuffleRead, spill, input = 0L
    var peakExecMem = 0L
  }
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  val byGroup = new ConcurrentHashMap[String, Acc]()

  private def acc(g: String): Acc = byGroup.computeIfAbsent(g, _ => new Acc)
  private def group(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = group(e.properties)
    e.stageIds.foreach(s => stageGroup.put(s, g))
    jobStart.put(e.jobId, (g, e.time))
    acc(g).synchronized(acc(g).jobs += 1)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (g, t0) =>
      val a = acc(g); a.synchronized(a.wallMs += e.time - t0)
    }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val a = acc(stageGroup.getOrDefault(e.stageInfo.stageId, "none"))
    a.synchronized(a.stages += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val a = acc(stageGroup.getOrDefault(e.stageId, "none"))
    if (m != null) a.synchronized {
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuMs += m.executorCpuTime / 1e6
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.input += m.inputMetrics.bytesRead
      a.peakExecMem = math.max(a.peakExecMem, m.peakExecutionMemory)
    }
  }

  /** Sum of the groups of one op whose span name satisfies `keep`. */
  def forOp(op: Int, keep: String => Boolean = _ => true): Map[String, Double] = {
    val gs = byGroup.asScala.collect {
      case (g, a) if g.startsWith(s"$op/") && keep(g.drop(s"$op/".length)) => a
    }
    val mb = 1024.0 * 1024.0
    Map(
      "jobs" -> gs.map(_.jobs).sum.toDouble, "stages" -> gs.map(_.stages).sum.toDouble,
      "count" -> gs.map(_.tasks).sum.toDouble, "wall_ms" -> gs.map(_.wallMs).sum,
      "run_ms" -> gs.map(_.runMs).sum, "cpu_ms" -> gs.map(_.cpuMs).sum,
      "gc_ms" -> gs.map(_.gcMs).sum,
      "shuffle_write_mb" -> gs.map(_.shuffleWrite).sum / mb,
      "shuffle_read_mb" -> gs.map(_.shuffleRead).sum / mb,
      "spill_mb" -> gs.map(_.spill).sum / mb, "input_mb" -> gs.map(_.input).sum / mb,
      "peak_exec_mem_mb" -> gs.map(_.peakExecMem).foldLeft(0L)(math.max) / mb)
  }
}

/** Every query execution that completes, with its planning tracker; the
  * traced run drains the bus after each op and takes what arrived. */
final class QueryListener extends QueryExecutionListener {
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    done.add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    done.add(qe)
  def drain(): Seq[QueryExecution] = {
    val out = Seq.newBuilder[QueryExecution]
    var q = done.poll()
    while (q != null) { out += q; q = done.poll() }
    out.result()
  }
}

/** Layer numbers read off finished query executions: Catalyst phase
  * times, JoinReorderRule's share, and the final adaptive plan's shape. */
object PlanProbe {
  val ShapeKeys: Seq[String] = Seq("nodes", "scans", "exchanges", "reused_exchanges",
    "sorts", "smj", "shj", "bhj", "windows", "generates", "in_memory_scans")

  /** Node counts of the final physical plan: AQE wrappers and query
    * stages are unwrapped, subqueries included, reused exchanges and
    * cached relations counted but not entered. */
  def shape(plan: SparkPlan): Map[String, Int] = {
    val c = mutable.Map.empty[String, Int].withDefaultValue(0)
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case _ =>
        val n = p.getClass.getSimpleName
        c("nodes") += 1
        n match {
          case "InMemoryTableScanExec" => c("in_memory_scans") += 1
          case s if s.endsWith("ScanExec") => c("scans") += 1
          case "ShuffleExchangeExec" | "BroadcastExchangeExec" => c("exchanges") += 1
          case "ReusedExchangeExec" => c("reused_exchanges") += 1
          case "SortExec" => c("sorts") += 1
          case "SortMergeJoinExec" => c("smj") += 1
          case "ShuffledHashJoinExec" => c("shj") += 1
          case "BroadcastHashJoinExec" => c("bhj") += 1
          case "WindowExec" | "WindowGroupLimitExec" => c("windows") += 1
          case "GenerateExec" => c("generates") += 1
          case _ =>
        }
        if (n != "ReusedExchangeExec" && n != "InMemoryTableScanExec")
          p.children.foreach(walk)
        p.subqueries.foreach(walk)
    }
    walk(plan)
    ShapeKeys.map(k => k -> c(k)).toMap
  }

  /** Phase ms (analysis/optimization/planning), JoinReorderRule ms and
    * effective invocations, summed over `qes`, plus their plan shape. */
  def layers(qes: Seq[QueryExecution]): Map[String, Double] = {
    val phases = Seq("analysis", "optimization", "planning").map { ph =>
      s"catalyst.${ph}_ms" -> qes.map(q =>
        q.tracker.phases.get(ph).map(s => (s.endTimeMs - s.startTimeMs).toDouble).getOrElse(0.0)).sum
    }
    val jr = qes.flatMap(_.tracker.rules.collect {
      case (n, r) if n.endsWith("JoinReorderRule") => r
    })
    val shapes = qes.map(q => shape(q.executedPlan))
    phases.toMap ++ Map(
      "optimizer.join_reorder_ms" -> jr.map(_.totalTimeNs).sum / 1e6,
      "optimizer.reorder_effective" -> jr.map(_.numEffectiveInvocations).sum.toDouble) ++
      ShapeKeys.map(k => s"plan.$k" -> shapes.map(_(k)).sum.toDouble)
  }
}

/** Host and JVM readings around the timed window: contention through
  * the repo's own ProcStat readers, GC and heap through the JVM's beans. */
final class Window(cores: Int) {
  private def gcMs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.toDouble).sum
  private def ownCpuS: Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => 0.0
  }
  private val heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType.name == "HEAP")

  val loadAtStart: Double = scala.util.Try(
    scala.io.Source.fromFile("/proc/loadavg").mkString.split("\\s+")(0).toDouble).getOrElse(-1.0)
  heapPools.foreach(_.resetPeakUsage())
  private val t0 = System.nanoTime
  private val gc0 = gcMs
  private val cpu0 = ownCpuS
  private val busy0 = graft.ProcStat.busySeconds()
  private val steal0 = graft.ProcStat.snapshot()

  /** Close the window and report it. External CPU share is the busy
    * CPU of the whole host minus this process's own, over wall × cores. */
  def close(): Map[String, Any] = {
    val wallS = (System.nanoTime - t0) / 1e9
    val ext = graft.ProcStat.busySeconds().zip(busy0).headOption.map { case (b1, b0) =>
      math.max(0.0, (b1 - b0) - (ownCpuS - cpu0)) / (wallS * cores)
    }.getOrElse(-1.0)
    val steal = graft.ProcStat.stealPctBetween(steal0, graft.ProcStat.snapshot())
    val gc = gcMs - gc0
    Map(
      "window_s" -> wallS,
      "jvm.gc_ms" -> gc, "jvm.gc_frac" -> gc / (wallS * 1000.0),
      "jvm.heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0,
      "external_cpu_share" -> ext, "steal_pct" -> steal,
      "load_at_start" -> loadAtStart, "cores" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "contended" -> (ext > graft.Bench.ExternalCpuWarn || steal > graft.Bench.StealWarnPct))
  }
}

object Proc {
  /** VmHWM of this process in MB (peak resident set). */
  def peakRssMb: Double = scala.util.Try {
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).get.split("\\s+")(1).toDouble / 1024.0
  }.getOrElse(-1.0)
}
