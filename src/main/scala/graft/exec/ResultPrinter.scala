package graft.exec

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import scala.jdk.CollectionConverters._

/** Golden-output printer matching the reference's result formatting
  * (ref src/backend/V8Engine.cpp:360-420 print of typed values, golden
  * blocks in test/ours YAML `out:`):
  *  - comma-separated values, strings double-quoted, NULL for nulls,
  *    booleans as TRUE/FALSE
  *  - FLOAT printed with ostream precision max_digits10-1 = 8
  *    significant digits, DOUBLE with 16, default (%g-style) format
  *    with trailing zeros stripped
  *  - DATE as [-]YYYY-MM-DD (year zero-padded to 4, sign kept),
  *    DATETIME as [-]YYYY-MM-DD HH:MM:SS in UTC. */
object ResultPrinter {

  /** C-faithful `%.{prec}g`: round the EXACT binary value of the
    * double to `prec` significant decimal digits (ties-to-even, like
    * printf's correctly-rounded conversion — Java's Formatter rounds
    * HALF_UP on the shortest repr and diverges on exact ties), strip
    * trailing zeros, switch to scientific for exponent < -4 or
    * ≥ prec. */
  def fmtG(v: Double, prec: Int): String = {
    if (v.isNaN) return "nan"
    if (v.isInfinite) return if (v > 0) "inf" else "-inf"
    if (v == 0.0) return if (1.0 / v < 0) "-0" else "0"
    val bd = new java.math.BigDecimal(v).round(
      new java.math.MathContext(prec, java.math.RoundingMode.HALF_EVEN))
    val exp = bd.precision - bd.scale - 1
    if (exp < -4 || exp >= prec) {
      val mant = bd.movePointLeft(exp).stripTrailingZeros
      val es = (if (exp < 0) "-" else "+") + f"${math.abs(exp)}%02d"
      s"${mant.toPlainString}e$es"
    } else bd.stripTrailingZeros.toPlainString
  }

  private def fmtYear(y: Int): String = {
    val a = math.abs(y)
    val pad = if (a < 1000) f"$a%04d" else a.toString
    if (y < 0) s"-$pad" else pad
  }

  def fmtDate(d: java.time.LocalDate): String =
    f"${fmtYear(d.getYear)}-${d.getMonthValue}%02d-${d.getDayOfMonth}%02d"

  def fmtDateTime(t: java.time.LocalDateTime): String =
    f"${fmtDate(t.toLocalDate)} ${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d"

  def format(row: org.apache.spark.sql.Row): String =
    (0 until row.length).map { i =>
      if (row.isNullAt(i)) "NULL"
      else row.get(i) match {
        case s: String => "\"" + s + "\""
        case b: Boolean => if (b) "TRUE" else "FALSE"
        case f: Float => fmtG(f.toDouble, 8)
        case d: Double => fmtG(d, 16)
        case d: java.time.LocalDate => fmtDate(d)
        case t: java.time.Instant =>
          fmtDateTime(java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC))
        case b: java.math.BigDecimal => b.toPlainString
        case b: scala.math.BigDecimal => b.underlying.toPlainString
        case other => other.toString
      }
    }.mkString(",")

  /** Print (driver-side) — only for the REPL/debug path, never inside
    * a distributed operator. A result that is already on the driver (an
    * optimized plan of one `LocalRelation`: a routed index read, a
    * folded dialect table) prints from `collect`, which runs no job
    * there; anything else streams through `toLocalIterator`, which
    * schedules one job per partition but never holds the whole result. */
  def print(df: DataFrame, out: java.io.PrintStream = System.out): Long = {
    var n = 0L
    val rows = df.queryExecution.optimizedPlan match {
      case _: LocalRelation => df.collect().iterator
      case _ => df.toLocalIterator().asScala
    }
    rows.foreach { r => out.println(format(r)); n += 1 }
    n
  }

  /** Collect formatted lines (test/golden harness path; the corpus
    * fixtures are ≤100 rows). */
  def lines(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(format)
}

/** Minimal REPL over EngineSession — the E1 entry point shape of the
  * reference (ref src/shell.cpp). Reads ;-terminated statements from
  * stdin, prints results in golden format.
  *
  * Diagnostic flags mirror the reference shell's option table
  * (ref src/shell.cpp:256-316):
  *  - `--ast`            print the AST of statements (AstPrinter)
  *  - `--plan`           emit the chosen (optimized logical) plan
  *  - `--physplan`       emit the chosen physical execution plan
  *  - `--dryrun`         parse/plan but don't execute the query
  *                       (ref mutable.cpp:187 — only result
  *                       materialization is skipped; DDL/INSERT run)
  *  - `-t`/`--times`     report exact timings (ms, ref mutable.cpp:82):
  *                       one line per phase — `Parse`, `Sema and plan`,
  *                       `Optimize and physical plan`, `Execute and
  *                       render` — then the `Execute query` total
  *  - `-q`/`--quiet`     work in quiet mode (suppress command
  *                       confirmations, ref shell.cpp:55)
  *  - `--echo`           echo statements before running them */
object Shell {
  private final class Opts {
    var ast = false; var plan = false; var physplan = false
    var dryrun = false; var times = false; var quiet = false
    var echo = false
  }

  /** Testable core: consume `args` + `in`, write to `out`/`err`.
    * Returns the exit code — nonzero when a component-selection
    * option is invalid (clean error-and-exit like the reference
    * shell, instead of an uncaught stack trace). */
  def run(args: Array[String], session: graft.EngineSession,
      in: Iterator[String], out: java.io.PrintStream,
      err: java.io.PrintStream): Int = {
    val o = new Opts
    // catalog component selection flags, same names as the reference
    // shell (ref Catalog.cpp:100-125, shell.cpp:338-351); they route
    // through the matching \instructions so validation is shared
    def option(stmt: String): Boolean =
      try { session.execute(stmt); true } catch {
        case e: graft.analyzer.SemaError => err.println(e.getMessage); false
        case e: Exception => err.println(s"error: ${e.getMessage}"); false
      }
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--ast" => o.ast = true; i += 1
        case "--plan" => o.plan = true; i += 1
        case "--physplan" => o.physplan = true; i += 1
        case "--dryrun" => o.dryrun = true; i += 1
        case "-t" | "--times" => o.times = true; i += 1
        case "-q" | "--quiet" => o.quiet = true; i += 1
        case "--echo" => o.echo = true; i += 1
        case "--plan-enumerator" if i + 1 < args.length =>
          if (!option(s"\\plan_enumerator ${args(i + 1)};")) return 1
          i += 2
        case "--cardinality-estimator" if i + 1 < args.length =>
          if (!option(s"\\cardinality_estimator ${args(i + 1)};")) return 1
          i += 2
        case "--list-plan-enumerators" =>
          session.execute("\\list_plan_enumerators;") match {
            case graft.CommandOk(m) => err.println(m)
            case _ => ()
          }
          i += 1
        case "--list-cardinality-estimators" =>
          session.execute("\\list_cardinality_estimators;") match {
            case graft.CommandOk(m) => err.println(m)
            case _ => ()
          }
          i += 1
        case other =>
          err.println(s"unknown option: $other"); i += 1
      }
    }
    val buf = new StringBuilder
    for (line <- in) {
      buf.append(line).append('\n')
      if (line.trim.endsWith(";")) {
        val sql = buf.toString; buf.clear()
        if (o.echo) out.println(sql.trim)
        val t0 = System.nanoTime
        def phase[A](name: String)(body: => A): A = {
          val t = System.nanoTime
          val r = body
          if (o.times) out.println(f"$name: ${(System.nanoTime - t) / 1e6}%.3f")
          r
        }
        try {
          val stmts = phase("Parse")(graft.parser.Parser.parse(sql))
          if (o.ast) stmts.foreach(st => out.println(graft.parser.AstPrinter.stmt(st)))
          // a command does its work here; only a query has later phases
          val query = phase("Sema and plan") {
            if (stmts.isEmpty) throw new graft.analyzer.SemaError("empty input")
            stmts.map(session.executeStmt).last
          } match {
            case graft.QueryResult(df) => Some(df)
            case graft.CommandOk(msg) => if (!o.quiet) err.println(msg); None
          }
          phase("Optimize and physical plan")(query.foreach { df =>
            val qe = df.queryExecution
            qe.executedPlan // forces the optimized plan too
            if (o.plan) out.println(qe.optimizedPlan.treeString)
            if (o.physplan) out.println(qe.executedPlan.treeString)
          })
          // dryrun (ref mutable.cpp:187): the plan above is still
          // computed; only result materialization is skipped
          phase("Execute and render")(query.foreach(df =>
            if (!o.dryrun) ResultPrinter.print(df, out)))
          if (o.times)
            out.println(f"Execute query: ${(System.nanoTime - t0) / 1e6}%.3f")
        } catch {
          // positioned diagnostics already render as `-:l:c: error: …`
          // (ref shell output shape) — don't double-prefix them
          case e: graft.analyzer.SemaError => err.println(e.getMessage)
          case e: Exception => err.println(s"error: ${e.getMessage}")
        }
      }
    }
    0
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.Engine.session("graft-shell")
    val session = new graft.EngineSession(spark)
    val code = run(args, session, scala.io.Source.stdin.getLines(),
      System.out, System.err)
    spark.stop()
    if (code != 0) sys.exit(code)
  }
}
