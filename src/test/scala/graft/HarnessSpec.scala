package graft

import graft.tools.Harness
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** A child for [[Harness.fork]] that runs no Spark: `exit3` dies with
  * a last stderr line, `half` writes a row for only the first name,
  * `all` writes every row plus the CPU row, as [[Harness.runChild]]
  * does. */
object HarnessSpecChild {
  def main(args: Array[String]): Unit = {
    val c = Harness.childArgs(args.toSeq).get
    def write(names: Seq[String]) = Files.writeString(Paths.get(c.out),
      (names.map(n => s"$n\t1.0") :+ "__cpu\t0.01").mkString("", "\n", "\n"))
    c.extra match {
      case Seq("exit3") =>
        System.err.println("starting")
        System.err.println("boom: child gave up")
        sys.exit(3)
      case Seq("half") => write(c.names.take(1))
      case Seq("all") => write(c.names)
    }
  }
}

/** The shared measurement core: the child command line and heap rule,
  * the contention rule, fork failure reasons, the per-run compile
  * record, the plan fingerprint, and the lint that keeps forking and load reads in the core. */
class HarnessSpec extends AnyFunSuite {

  private val GiB = 1L << 30

  test("the child command carries exactly one -Xmx, the derived heap") {
    val own = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala
    assert(own.exists(_.startsWith("-Xmx")), "the test JVM should carry its own -Xmx")
    val cmd = Harness.childCommand("x.Main", Seq("a", "b"))
    assert(cmd.filter(_.startsWith("-Xmx")) == Seq(s"-Xmx${Harness.ChildHeapGb}g"))
    assert(cmd.takeRight(3) == Seq("x.Main", "a", "b"))
    val explicit = Harness.childCommand("x.Main", Nil,
      jvmArgs = Seq("-Xmx3g", "-Dk=v", "-Xmx9g"), heapGb = 5)
    assert(explicit.filter(_.startsWith("-Xmx")) == Seq("-Xmx5g"))
    assert(explicit.contains("-Dk=v"))
  }

  test("child heap is half of physical memory, clamped to 2-24 GiB") {
    assert(Seq(4L, 15L, 64L, 256L).map(g => Harness.childHeapGb(g * GiB)) ==
      Seq(2L, 7L, 24L, 24L))
    assert(Harness.childHeapGb(0L) == 2L)
  }

  test("contended: external CPU, steal, or load when external CPU is unavailable") {
    val table = Seq(
      // (external cpu frac, steal %, load at start) -> contended
      (0.11, 0.0, 0.5) -> true,
      (0.05, 5.1, 0.5) -> true,
      (-1.0, -1.0, 4.1) -> true,
      (-1.0, -1.0, 1.0) -> false,
      (0.05, 1.0, 4.1) -> false)
    table.foreach { case ((ext, steal, load), want) =>
      assert(Harness.Group(0, Nil, load, ext, steal).contended == want,
        s"ext $ext steal $steal load $load")
    }
  }

  test("load_warning flags a first group above the idle gate, whatever the core count") {
    val table = Seq(
      // load at the first timed group -> load_warning
      0.5 -> false,
      1.64 -> false, // released by the gate; above a 4-core cores/5 of 0.8
      Harness.IdleLoadMax -> false,
      2.01 -> true,
      4.1 -> true)
    table.foreach { case (load, want) =>
      assert(Bench.loadWarning(load) == want, s"load $load")
    }
  }

  private def forkChild(mode: String, names: Seq[String]) =
    Harness.fork("graft.HarnessSpecChild", 0, names, Seq(mode))

  test("a child that exits nonzero is Left, naming the code and its last stderr line") {
    val (res, _) = forkChild("exit3", Seq("a", "b"))
    val reason = res.swap.getOrElse(fail(s"expected Left, got $res"))
    assert(reason.contains("exited 3"), reason)
    assert(reason.contains("boom: child gave up"), reason)
  }

  test("a child that writes too few rows is Left, naming the count") {
    val (res, _) = forkChild("half", Seq("a", "b"))
    val reason = res.swap.getOrElse(fail(s"expected Left, got $res"))
    assert(reason.contains("1/2"), reason)
  }

  test("a child that writes every row is Right, with its contention record") {
    val (res, group) = forkChild("all", Seq("a", "b"))
    assert(res == Right(Seq("a" -> "1.0", "b" -> "1.0")))
    assert(group.idx == 0 && group.names == Seq("a", "b"))
    val json = group.copy(fallback = Some("x\ty")).json
    Seq("\"idx\":0", "\"load_start\":", "\"external_cpu_frac\":", "\"steal_pct\":",
      "\"contended\":", "\"retried\":false", "\"retry_clean\":false",
      "\"in_process\":true", "\"reason\":\"x\\ty\"").foreach(f => assert(json.contains(f), json))
  }

  test("timed runs survive a child's row field and print one compile entry per run") {
    import Harness.{Codegen, Timed}
    val runs = Seq(Timed(1.5, Codegen(3, 12500000L)), Timed(0.25, Codegen(0, 0)))
    val field = Timed.encode(runs)
    assert(!field.exists(c => c == '\t' || c == '\n'), field)
    assert(Timed.decode(field) == runs)
    assert(Timed.json(runs) == "\"codegen_compiles\":[3,0],\"codegen_compile_ms\":[12.5,0.0]")
    assert(Codegen(5, 9) - Codegen(2, 4) == Codegen(3, 5))
  }

  test("the plan fingerprint counts the final plan's nodes by the names Spark prints") {
    val plan =
      """AdaptiveSparkPlan isFinalPlan=true
        |+- == Final Plan ==
        |   ResultQueryStage 3
        |   +- *(5) SortMergeJoin [k#1L], [k#2L], Inner
        |      :- *(2) Sort [k#1L ASC NULLS FIRST], false, 0
        |      :  +- AQEShuffleRead coalesced
        |      :     +- ShuffleQueryStage 0
        |      :        +- Exchange hashpartitioning(k#1L, 8), ENSURE_REQUIREMENTS, [plan_id=10]
        |      :           +- *(1) BroadcastHashJoin [d#3L], [d#4L], Inner, BuildRight, false
        |      :              :- *(1) ColumnarToRow
        |      :              :  +- FileScan parquet [k#1L,d#3L] Batched: true
        |      :              +- BroadcastQueryStage 1
        |      :                 +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, false]),false), [plan_id=20]
        |      :                    +- InMemoryTableScan [d#4L]
        |      :                          +- InMemoryRelation [d#4L], StorageLevel(disk, memory, deserialized, 1 replicas)
        |      +- *(4) Sort [k#2L ASC NULLS FIRST], false, 0
        |         +- AQEShuffleRead coalesced
        |            +- ShuffleQueryStage 2
        |               +- ReusedExchange [k#2L], Exchange hashpartitioning(k#1L, 8), ENSURE_REQUIREMENTS, [plan_id=10]
        |+- == Initial Plan ==
        |   SortMergeJoin [k#1L], [k#2L], Inner
        |   :- Sort [k#1L ASC NULLS FIRST], false, 0
        |   :  +- Exchange hashpartitioning(k#1L, 8), ENSURE_REQUIREMENTS, [plan_id=10]
        |   :     +- BroadcastHashJoin [d#3L], [d#4L], Inner, BuildRight, false
        |   +- Sort [k#2L ASC NULLS FIRST], false, 0
        |      +- Exchange hashpartitioning(k#2L, 8), ENSURE_REQUIREMENTS, [plan_id=11]
        |""".stripMargin
    val fp = Harness.fingerprint(plan)
    assert(fp == Map(
      "Exchange" -> 1, "BroadcastExchange" -> 1, "InMemoryTableScan" -> 1,
      "SortMergeJoin" -> 1, "BroadcastHashJoin" -> 1, "ShuffledHashJoin" -> 0,
      "BroadcastNestedLoopJoin" -> 0, "CartesianProduct" -> 0,
      "AQEShuffleRead" -> 2, "coalesced" -> 2, "skewed=true" -> 0))
  }

  test("src/main forks and reads the load average only through Harness") {
    val core = "graft/tools/Harness.scala"
    val banned = Seq("new ProcessBuilder", "getSystemLoadAverage")
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.exists(_.endsWith(core)), s"$core not found under $root")
    val offenders = files.filter { f =>
      !f.endsWith(core) && banned.exists(Files.readString(f).contains)
    }
    assert(offenders.isEmpty, s"forking or load reads outside Harness: ${offenders.mkString(", ")}")
  }
}
