package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.{CommandOk, Engine, EngineSession, QueryResult, SparkEntry}
import graft.exec.ResultPrinter
import graft.parser.Parser
import org.apache.spark.PerfbenchShim
import org.apache.spark.sql.{Row, SparkSession}

/** The measured side of perfbench: one JVM per run. It sets up the
  * production session several times (the last one is kept), replays the
  * workload's generated op script as a closed loop with one client until
  * `--seconds` have passed, and writes one record per op (latency,
  * result rows for the checker, and — traced runs only — spans and
  * per-layer numbers) plus a run record. Checking happens afterwards,
  * outside the JVM, in perfbench/checks.py.
  *
  * Usage: Main --workload W --script script.json --out DIR --seconds S
  *             --trace 0|1 --setups K */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val script = Json.read(opt("script"))
    val workload = opt("workload")
    val out = opt("out")
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val dataDir = script.get("data_dir").asText
    // setup 1 is timed from JVM start; later ones from their own start
    val jvmStartNs = System.nanoTime -
      (System.currentTimeMillis - ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L

    val setups = (0 until opt("setups").toInt).map { k =>
      val t0 = if (k == 0) jvmStartNs else System.nanoTime
      SparkSession.getActiveSession.foreach { s =>
        s.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      }
      val s0 = System.nanoTime
      val spark = Engine.session("perfbench")
      val s1 = System.nanoTime
      val es = register(workload, spark, dataDir)
      val s2 = System.nanoTime
      if (script.has("warmup")) replay(spark, es, script.get("warmup"))
      val s3 = System.nanoTime
      (spark, es, Map("setup_s" -> (s3 - t0) / 1e9, "engine.session_start_ms" -> (s1 - s0) / 1e6,
        "engine.register_ms" -> (s2 - s1) / 1e6, "warmup_ms" -> (s3 - s2) / 1e6))
    }
    val (spark, es, _) = setups.last
    val sc = spark.sparkContext
    // priming pass after set-up, so the window measures a warm JVM: one
    // untimed cycle of every dialect op template, or every curation op
    // once over a miniature corpus of the same shape
    val p0 = System.nanoTime
    if (script.has("prime")) replay(spark, es, script.get("prime"))
    if (script.has("prime_dir")) {
      val mini = script.get("prime_dir").asText
      script.get("cycles").get(0).elements.asScala.foreach { n =>
        SparkEntry.queries(n.asText)(spark, mini).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        sc.getPersistentRDDs.values.foreach(_.unpersist())
      }
    }
    val primeS = (System.nanoTime - p0) / 1e9
    val cycles = script.get("cycles").elements.asScala.zipWithIndex

    /** One closed-loop window: whole cycles until `seconds` have passed,
      * so every window measures complete op mixes. */
    def window(tracer: Tracer, listeners: Option[(TaskListener, QueryListener)]): Map[String, Any] = {
      val run = new Run(spark, es, tracer, listeners, out)
      val w = new Window(cores)
      val routed0 = graft.storage.Indexes.rangeScans.get
      val deadline = System.nanoTime + (seconds * 1e9).toLong
      val ops = cycles.takeWhile(_ => System.nanoTime < deadline).flatMap { case (cyc, c) =>
        workload match {
          case "sql_interactive" =>
            cyc.elements.asScala.zipWithIndex.map { case (op, i) => run.dialect(c, i, op) }.toVector
          case "ingest_lookup" => run.ingestCycle(c, cyc)
          case "curation_batch" => run.curationCycle(c, cyc, dataDir)
        }
      }.toVector
      Map("window" -> w.close(), "ops" -> ops.map(_.toMap),
        "storage.routed_reads" -> (graft.storage.Indexes.rangeScans.get - routed0),
        "spans" -> tracer.spans.map(s => Map("op" -> s.op, "id" -> s.id, "parent" -> s.parent,
          "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)).toSeq)
    }

    // the end-to-end window runs untraced; a traced run adds a traced
    // window and then a second untraced one over the following cycles of
    // the same script, so the tracing overhead compares the traced window
    // with the untraced windows on both sides of it
    val windows = window(new Tracer(false, sc), None) +: (if (!trace) Nil else {
      val tasks = new TaskListener
      val queries = new QueryListener
      sc.addSparkListener(tasks); spark.listenerManager.register(queries)
      val traced = window(new Tracer(true, sc), Some((tasks, queries)))
      sc.removeSparkListener(tasks); spark.listenerManager.unregister(queries)
      Seq(traced, window(new Tracer(false, sc), None))
    })
    val kinds = windows.flatMap(_("ops").asInstanceOf[Seq[Map[String, Any]]]).map(_("kind"))
    if (workload == "curation_batch")
      Json.write(s"$out/oracles.json", SparkEntry.oracleSql.filter { case (k, _) =>
        kinds.contains(k) || k == "dedup_ngram_jaccard" })
    Json.write(s"$out/run.json", Map(
      "workload" -> workload, "setups" -> setups.map(_._3), "prime_s" -> primeS,
      "windows" -> windows,
      "storage_capacity_mb" -> sc.getExecutorMemoryStatus.values.map(_._1).sum / 1048576.0,
      "peak_rss_mb" -> Proc.peakRssMb))
    spark.stop()
  }

  /** Table registration, the part of set-up the workload needs before
    * its first op: the dialect catalog over the parquet tables, or the
    * memoized table plans the curation operators read. */
  private def register(workload: String, spark: SparkSession, dir: String): EngineSession =
    workload match {
      case "sql_interactive" =>
        val es = new EngineSession(spark)
        es.execute("CREATE DATABASE tpch; USE tpch;")
        Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
          .foreach(n => es.registerExternal(n, Engine.table(spark, dir, n)))
        es
      case "ingest_lookup" => new EngineSession(spark)
      case _ =>
        Engine.tableNames.foreach(n => Engine.table(spark, dir, n).schema)
        null
    }

  /** The warm-up that ends each set-up of the dialect workloads (curation
    * set-up ends with registration): run dialect ops untimed, as the
    * shell would, then drop index pins. */
  private def replay(spark: SparkSession, es: EngineSession, ops: JsonNode): Unit = {
    ops.elements.asScala.foreach { op =>
      Parser.parse(op.get("sql").asText).map(es.executeStmt).foreach {
        case QueryResult(df) => df.collect().map(ResultPrinter.format)
        case _ =>
      }
    }
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist())
  }
}

/** One op's outcome. `result` holds what the checker compares: rows, or
  * the path of the parquet output. `layers` is filled in traced runs. */
final case class OpRecord(id: Int, cycle: Int, pos: Int, kind: String, latMs: Double,
    error: String, failedIn: String, result: Any, layers: Map[String, Double]) {
  def toMap: Map[String, Any] = Map("id" -> id, "cycle" -> cycle, "pos" -> pos, "kind" -> kind,
    "lat_ms" -> latMs, "error" -> error, "failed_in" -> failedIn, "result" -> result,
    "layers" -> layers)
}

/** Executes ops through the layers' public entry points, one span per
  * layer call. */
final class Run(spark: SparkSession, es: EngineSession, tracer: Tracer,
    listeners: Option[(TaskListener, QueryListener)], out: String) {
  private val sc = spark.sparkContext

  /** Time one op; in traced runs drain the listeners afterwards (outside
    * the op's latency) and attach its per-layer numbers. */
  private def timed(cycle: Int, pos: Int, kind: String)(
      body: Int => (Any, Map[String, Double])): OpRecord = {
    val id = Run.nextId; Run.nextId += 1
    val reorders0 = graft.optimizer.JoinReorderRule.reorderCount
    val t0 = System.nanoTime
    val (result, extra, err) =
      try { val (r, e) = tracer.inOp(id)(body(id)); (r, e, null) }
      catch { case NonFatal(e) => (null, Map.empty[String, Double], s"${e.getClass.getName}: ${e.getMessage}") }
    val latMs = (System.nanoTime - t0) / 1e6
    val checked = result match {
      case rows: Array[Row] => rows.toSeq.map(r => r.toSeq.map(Json.cell))
      case other => other
    }
    val layers = if (!tracer.enabled) Map.empty[String, Double] else {
      PerfbenchShim.drainListenerBus(sc)
      val (self, wall, unattributed) = tracer.selfTimes(id)
      listeners.map { case (t, q) =>
        PlanProbe.layers(q.drain()) ++ t.forOp(id).map { case (k, v) => s"tasks.$k" -> v } ++
          t.forOp(id, _ == "operators.build").collect {
            case ("jobs", v) => "operators.eager_jobs" -> v
            case ("run_ms", v) => "operators.eager_task_ms" -> v
          }
      }.getOrElse(Map.empty) ++
        self.map { case (k, v) => s"span.$k" -> v } ++ extra ++ Map(
          "op_wall_ms" -> wall, "unattributed_ms" -> unattributed,
          "optimizer.reorders" -> (graft.optimizer.JoinReorderRule.reorderCount - reorders0).toDouble)
    }
    OpRecord(id, cycle, pos, kind, latMs, err, tracer.failedIn, checked, layers)
  }

  /** One dialect statement text end to end, as the shell runs it:
    * parse, execute the statement (sema, AST→plan, Spark analysis, or the
    * write), optimize, plan, collect, render. */
  private def statement(sql: String, writeSpan: String): (Any, Map[String, Double]) = {
    val stmts = tracer.span("parser")(Parser.parse(sql))
    var last: Any = null
    stmts.foreach { st =>
      tracer.span(if (st.isInstanceOf[graft.parser.Ast.SelectStmt]) "planner" else writeSpan)(
        es.executeStmt(st)) match {
        case QueryResult(df) =>
          if (tracer.enabled) {
            tracer.span("catalyst.optimize")(df.queryExecution.optimizedPlan)
            tracer.span("catalyst.physical")(df.queryExecution.executedPlan)
          }
          val rows = tracer.span("tasks.action")(df.collect())
          tracer.span("exec.render")(rows.map(ResultPrinter.format))
          last = rows
        case CommandOk(m) => last = m
      }
    }
    (last, Map("parser.calls" -> 1.0, "planner.calls" -> stmts.size.toDouble))
  }

  def dialect(cycle: Int, pos: Int, op: JsonNode): OpRecord =
    timed(cycle, pos, op.get("kind").asText)(_ => statement(op.get("sql").asText, "session.command"))

  /** One ingest cycle: DDL for a fresh database (not an op), then the
    * generated writes and reads. Index structures of the cycle are
    * released afterwards. */
  def ingestCycle(c: Int, ops: JsonNode): Seq[OpRecord] = {
    val all = ops.elements.asScala.toSeq
    es.execute(all.head.get("sql").asText)
    val recs = all.zipWithIndex.tail.map { case (op, i) =>
      val kind = op.get("kind").asText
      val rec = timed(c, i, kind)(_ => statement(op.get("sql").asText, s"session.$kind"))
      if (tracer.enabled && (kind == "insert" || kind == "import")) {
        val nodes = es.query("SELECT * FROM acct;").queryExecution.analyzed.collect { case p => p }.size
        rec.copy(layers = rec.layers + ("session.table_plan_nodes" -> nodes.toDouble))
      } else rec
    }
    sc.getPersistentRDDs.values.foreach(_.unpersist())
    recs
  }

  /** One curation cycle: each op is built through SparkEntry.queries and
    * its rows written as parquet (the checked output). Cache pins left
    * behind are counted, then released so the next op starts cold. */
  def curationCycle(c: Int, names: JsonNode, dir: String): Seq[OpRecord] =
    names.elements.asScala.toSeq.zipWithIndex.map { case (n, i) =>
      val name = n.asText
      val rec = timed(c, i, name) { id =>
        val df = tracer.span("operators.build")(SparkEntry.queries(name)(spark, dir))
        val path = s"$out/res/op$id"
        tracer.span("tasks.action")(df.write.mode("overwrite").parquet(path))
        (path, Map.empty[String, Double])
      }
      val pins = sc.getRDDStorageInfo
      val storedMb = pins.map(p => p.memSize + p.diskSize).sum / 1048576.0
      val storageUsedMb = sc.getExecutorMemoryStatus.values.map { case (m, r) => m - r }.sum / 1048576.0
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist())
      rec.copy(layers = rec.layers ++ Map("operators.pins_left" -> pins.length.toDouble,
        "operators.pinned_mb" -> storedMb, "storage_used_mb" -> storageUsedMb))
    }
}

object Run {
  /** Op ids, unique across the windows of one JVM. */
  private var nextId = 0
}

object Json {
  private val mapper = new ObjectMapper()

  def cell(v: Any): Any = v match {
    case i: java.time.Instant => i.getEpochSecond * 1000000L + i.getNano / 1000
    case t: java.time.LocalDateTime =>
      val i = t.toInstant(java.time.ZoneOffset.UTC); i.getEpochSecond * 1000000L + i.getNano / 1000
    case d: java.time.LocalDate => d.toString
    case b: java.math.BigDecimal => b.doubleValue
    case b: scala.math.BigDecimal => b.toDouble
    case x => x
  }

  private def toJava(v: Any): Any = v match {
    case m: Map[_, _] => m.map { case (k, x) => k.toString -> toJava(x) }.asJava
    case s: Seq[_] => s.map(toJava).asJava
    case x => x
  }

  def read(path: String): JsonNode = mapper.readTree(new File(path))
  def write(path: String, v: Any): Unit = mapper.writeValue(new File(path), toJava(v))
}
