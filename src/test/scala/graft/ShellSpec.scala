package graft

import java.io.{ByteArrayOutputStream, PrintStream}

import graft.exec.Shell
import org.scalatest.funsuite.AnyFunSuite

/** Shell diagnostic flags — parity with the reference shell's option
  * table (ref src/shell.cpp:256-316: --ast, --plan, --physplan,
  * --dryrun, -t/--times, -q/--quiet, --echo) and the clean
  * error-and-exit behavior for invalid component-selection options. */
class ShellSpec extends AnyFunSuite {
  import TestSession._

  private val setup = Seq(
    "CREATE DATABASE shelldb;",
    "USE shelldb;",
    "CREATE TABLE pts (id INT(4), x INT(4));",
    "INSERT INTO pts VALUES (1, 10), (2, 20), (3, 30);")

  /** Run the shell core over `setup ++ stmts`; returns (code, out, err). */
  private def shell(args: Array[String], stmts: Seq[String]): (Int, String, String) = {
    val outB = new ByteArrayOutputStream; val errB = new ByteArrayOutputStream
    val out = new PrintStream(outB, true, "UTF-8")
    val err = new PrintStream(errB, true, "UTF-8")
    val session = new EngineSession(spark)
    val code = Shell.run(args, session, (setup ++ stmts).iterator, out, err)
    (code, outB.toString("UTF-8"), errB.toString("UTF-8"))
  }

  test("plain run prints golden-format rows") {
    val (code, out, _) = shell(Array.empty, Seq("SELECT x FROM pts;"))
    assert(code == 0)
    assert(out.linesIterator.toSeq == Seq("10", "20", "30"))
  }

  test("--ast prints the statement AST before results") {
    val (code, out, _) = shell(Array("--ast"), Seq("SELECT x FROM pts;"))
    assert(code == 0)
    assert(out.contains("SELECT"), s"no AST dump in: $out")
    assert(out.contains("FROM"), s"no AST dump in: $out")
  }

  test("--plan emits the optimized logical plan") {
    val (code, out, _) = shell(Array("--plan", "--dryrun"),
      Seq("SELECT x FROM pts WHERE x > 15;"))
    assert(code == 0)
    assert(out.contains("Project") || out.contains("LocalRelation"),
      s"no logical plan in: $out")
  }

  test("--physplan emits the physical plan") {
    val (code, out, _) = shell(Array("--physplan", "--dryrun"),
      Seq("SELECT x FROM pts;"))
    assert(code == 0)
    assert(out.toLowerCase.contains("scan") || out.contains("Project"),
      s"no physical plan in: $out")
  }

  test("--dryrun plans but prints no result rows") {
    val (code, out, _) = shell(Array("--dryrun"), Seq("SELECT x FROM pts;"))
    assert(code == 0)
    assert(out.trim.isEmpty, s"dryrun printed rows: $out")
  }

  test("--times reports a timing line per statement") {
    val (code, out, _) = shell(Array("--times"), Seq("SELECT x FROM pts;"))
    assert(code == 0)
    for (line <- Seq("Parse:", "Sema and plan:", "Optimize and physical plan:",
        "Execute and render:", "Execute query:"))
      assert(out.linesIterator.count(_.startsWith(line)) == setup.length + 1,
        s"want one '$line' per statement in:\n$out")
    assert(out.linesIterator.contains("30"), s"no result rows in:\n$out")
  }

  test("--quiet suppresses command confirmations, keeps results") {
    val (_, outLoud, errLoud) = shell(Array.empty, Seq("SELECT x FROM pts;"))
    val (_, outQ, errQ) = shell(Array("--quiet"), Seq("SELECT x FROM pts;"))
    assert(errLoud.contains("inserted"))
    assert(!errQ.contains("inserted"), s"quiet leaked: $errQ")
    assert(outQ == outLoud)
  }

  test("--echo echoes statements before running them") {
    val (code, out, _) = shell(Array("--echo"), Seq("SELECT x FROM pts;"))
    assert(code == 0)
    assert(out.contains("SELECT x FROM pts;"))
  }

  test("invalid --plan-enumerator exits nonzero with a clean diagnostic") {
    val (code, _, err) = shell(Array("--plan-enumerator", "bogus"), Seq.empty)
    assert(code == 1)
    assert(err.contains("there is no plan enumerator with the name \"bogus\""))
  }

  test("invalid --cardinality-estimator exits nonzero with a clean diagnostic") {
    val (code, _, err) = shell(Array("--cardinality-estimator", "bogus"), Seq.empty)
    assert(code == 1)
    assert(err.contains("no cardinality estimator"))
  }

  test("statement errors inside the loop are printed, loop continues") {
    val (code, out, err) = shell(Array.empty,
      Seq("SELECT nosuch FROM pts;", "SELECT x FROM pts WHERE x = 20;"))
    assert(code == 0)
    assert(err.contains("error"))
    assert(out.linesIterator.toSeq == Seq("20"))
  }
}
