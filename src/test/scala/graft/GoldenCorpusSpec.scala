package graft

import graft.analyzer.SemaError
import graft.exec.ResultPrinter
import graft.parser.{LexError, Lexer, ParseError, Parser}
import graft.parser.Ast._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Minimal parser for the reference's integration-test YAML subset
  * (ref /root/reference/test/_schema.yml): top-level scalars
  * description/db/query/required plus a `stages:` map of
  * lexer/parser/sema/end2end, each with out/err (possibly `|` blocks
  * or NULL), num_err, returncode. */
object CorpusYaml {
  final case class Stage(out: Option[String], err: Option[String],
      numErr: Option[Int], returncode: Option[Int]) {
    /** Does this stage expect the engine to report an error? */
    def expectsError: Boolean = numErr.exists(_ > 0) || returncode.exists(_ != 0)
  }
  final case class SpecFile(name: String, db: String, query: String,
      required: Boolean, stages: Map[String, Stage])

  private def stripComment(s: String): String = {
    val i = s.indexOf('#')
    if (i >= 0) s.substring(0, i).trim else s.trim
  }

  private def unquote(v0: String): String = {
    val v = v0.trim
    if (v.length >= 2 && v.startsWith("'") && v.endsWith("'"))
      v.substring(1, v.length - 1).replace("''", "'")
    else if (v.length >= 2 && v.startsWith("\"") && v.endsWith("\""))
      v.substring(1, v.length - 1)
    else v
  }

  def parse(path: Path): SpecFile = {
    val lines = Files.readAllLines(path).asScala.toVector
    var i = 0
    var db = ""; var query = ""; var required = true
    val stages = scala.collection.mutable.Map[String, Stage]()

    def indentOf(s: String): Int = s.takeWhile(_ == ' ').length

    /** Read a `|` block: all following lines indented > `parentIndent`,
      * stripped to the indentation of the first content line. */
    def readBlock(parentIndent: Int): String = {
      val buf = Vector.newBuilder[String]
      var blockIndent = -1
      var done = false
      while (i < lines.length && !done) {
        val l = lines(i)
        if (l.trim.isEmpty) { buf += ""; i += 1 }
        else if (indentOf(l) > parentIndent) {
          if (blockIndent < 0) blockIndent = indentOf(l)
          buf += l.drop(blockIndent)
          i += 1
        } else done = true
      }
      // drop trailing blank lines
      val all = buf.result().reverse.dropWhile(_.isEmpty).reverse
      all.mkString("\n") + (if (all.nonEmpty) "\n" else "")
    }

    def readStage(parentIndent: Int): Stage = {
      var out: Option[String] = None
      var err: Option[String] = None
      var numErr: Option[Int] = None
      var rc: Option[Int] = None
      var done = false
      while (i < lines.length && !done) {
        val l = lines(i)
        if (l.trim.isEmpty || l.trim.startsWith("#")) i += 1
        else if (indentOf(l) <= parentIndent) done = true
        else {
          val t = l.trim
          val k = t.takeWhile(_ != ':')
          val v = stripComment(t.drop(k.length + 1))
          i += 1
          k match {
            case "out" =>
              if (v == "|" || v == "|-") out = Some(readBlock(indentOf(l)))
              else if (v != "NULL" && v.nonEmpty) out = Some(unquote(v))
            case "err" =>
              if (v == "|" || v == "|-") err = Some(readBlock(indentOf(l)))
              else if (v != "NULL" && v.nonEmpty) err = Some(unquote(v))
            case "num_err" => if (v != "NULL") numErr = Some(v.toInt)
            case "returncode" => if (v != "NULL") rc = Some(v.toInt)
            case _ => if (v == "|" || v == "|-") readBlock(indentOf(l))
          }
        }
      }
      Stage(out, err, numErr, rc)
    }

    while (i < lines.length) {
      val l = lines(i)
      if (l.trim.isEmpty || l.trim.startsWith("#")) i += 1
      else if (indentOf(l) == 0) {
        val t = l.trim
        val k = t.takeWhile(_ != ':')
        val v = stripComment(t.drop(k.length + 1))
        i += 1
        k match {
          case "db" => db = v
          case "query" =>
            if (v == "|" || v == "|-") query = readBlock(0)
            else query = unquote(v)
          case "required" => required = v.equalsIgnoreCase("YES")
          case "stages" =>
            var done = false
            while (i < lines.length && !done) {
              val sl = lines(i)
              if (sl.trim.isEmpty || sl.trim.startsWith("#")) i += 1
              else if (indentOf(sl) == 0) done = true
              else {
                val name = sl.trim.stripSuffix(":")
                i += 1
                stages(name) = readStage(indentOf(sl))
              }
            }
          case _ =>
            if (v == "|" || v == "|-") readBlock(0)
        }
      } else i += 1
    }
    SpecFile(path.getFileName.toString, db, query, required, stages.toMap)
  }
}

/** Drives the reference's full integration-test corpus
  * (/root/reference/test/{ours,ddl,tpc-h}) through our lexer → parser →
  * sema → execution, comparing end2end output against the golden
  * `out:` blocks in the reference's own result format (ref
  * test/IntegrationTest.py semantics; SURVEY.md §5). */
class GoldenCorpusSpec extends AnyFunSuite {

  private val refRoot = Paths.get("/root/reference/test")
  private def available: Boolean = Files.isDirectory(refRoot)

  private lazy val spark = Engine.session("golden-corpus")

  /** One template session per corpus database, built from the corpus's
    * own schema.sql (IMPORT paths rewritten to absolute); each spec
    * file gets a cheap fork so DDL side effects can't leak. */
  private lazy val templates: Map[String, EngineSession] = {
    def build(schemaPath: Path, dataDir: String): EngineSession = {
      val sql = new String(Files.readAllBytes(schemaPath))
        .replace("\"test/ours/data/", s""""$dataDir/""")
      val s = new EngineSession(spark, refParity = true)
      s.execute(sql)
      s
    }
    Map(
      "ours" -> build(refRoot.resolve("ours/data/schema.sql"),
        refRoot.resolve("ours/data").toString),
      "ddl" -> build(refRoot.resolve("ddl/data/schema.sql"), ""),
      "tpc-h" -> build(refRoot.resolve("tpc-h/data/schema.sql"), ""))
  }

  private def specFiles: Seq[(String, Path)] =
    for {
      corpus <- Seq("ours", "ddl", "tpc-h")
      dir = refRoot.resolve(corpus)
      if Files.isDirectory(dir)
      f <- Files.list(dir).iterator().asScala.toSeq.sortBy(_.toString)
      if f.toString.endsWith(".yml")
    } yield (corpus, f)

  private def hasOrderBy(q: String): Boolean =
    "(?is)ORDER\\s+BY".r.findFirstIn(q).isDefined

  /** Reference specs whose goldens contradict their OWN fixture —
    * pinned as positive expected-divergence tests (the suite stays at
    * 0 canceled, and if the corpus is ever fixed upstream the pin
    * fails loudly so it gets re-goldened instead of silently passing
    * the wrong way). */
  private val expectedDivergence: Map[String, String] = Map(
    "ours/end2end-pos-select-join_comparable_bool" ->
      ("the query references R.id/R.bool/S.bool, but the ours fixture " +
        "(reference test/ours/data/schema.sql:1-13) defines R and S with " +
        "only key/fkey/rfloat/rstring; the spec's own end2end golden is " +
        "the literal '#TODO', i.e. the reference never executed it. " +
        "Correct behavior on the real fixture is a sema rejection."))

  /** Run all statements, returning the concatenated printed rows of
    * every SELECT result. */
  private def runEnd2End(session: EngineSession, query: String): Seq[String] = {
    val stmts = Parser.parse(query)
    stmts.flatMap { st =>
      session.executeStmt(st) match {
        case QueryResult(df) => ResultPrinter.lines(df)
        case CommandOk(_) => Nil
      }
    }
  }

  /** Sema-check without executing queries: SELECTs are planned (our
    * Sema runs during planning), DDL/INSERT/IMPORT execute against the
    * forked catalog, UPDATE/DELETE sema-pass (ref rejects at exec). */
  private def semaCheck(session: EngineSession, query: String): Unit = {
    val stmts = Parser.parse(query)
    stmts.foreach {
      case s: SelectStmt => session.planOnly(s)
      case _: UpdateStmt | _: DeleteStmt => ()
      case other => session.executeStmt(other)
    }
  }

  if (!available) {
    // the ignore alone is easy to miss in the log: say that no spec ran
    info("golden corpus: 0 specs ran (reference absent)")
    ignore("reference corpus present") {}
  } else {
    val files = specFiles
    assert(files.size > 200, s"expected the full corpus, found ${files.size}")

    for ((corpus, path) <- files) {
      val spec = CorpusYaml.parse(path)
      val id = s"$corpus/${spec.name.stripSuffix(".yml")}"

      if (expectedDivergence.contains(id)) test(id) {
        // documented expected divergence (see [[expectedDivergence]]):
        // assert the divergent behavior POSITIVELY — our sema must
        // reject the query on the actual fixture
        val session = templates(corpus).fork()
        val r = try { semaCheck(session, spec.query); None }
          catch { case e: Exception => Some(e) }
        assert(r.isDefined,
          s"pinned expected-divergence now sema-passes — unpin and " +
            s"re-golden: ${expectedDivergence(id)}")
      }
      else test(id) {
        def soft(cond: => Boolean, msg: => String): Unit = {
          val ok = try cond catch {
            case e: Throwable =>
              if (spec.required) throw e
              else cancel(s"$msg (required=NO): ${e.getMessage}")
          }
          if (!ok) {
            if (spec.required) fail(msg) else cancel(s"$msg (required=NO)")
          }
        }

        // ---- lexer stage (full golden token-dump compare)
        spec.stages.get("lexer").foreach { st =>
          val r = try { Some(Lexer.dump(spec.query)) }
            catch { case _: LexError => None }
          if (st.expectsError) {
            soft(r.isEmpty, s"lexer: expected an error, tokenized fine")
            // our lexer fails fast: exactly one diagnostic
            st.numErr.foreach(n => soft(n == 1,
              s"lexer: golden expects $n errors, fail-fast lexing reports 1"))
          } else {
            soft(r.isDefined, s"lexer: unexpected error")
            st.out.foreach { golden =>
              val expected = golden.linesIterator.toSeq
              soft(r.get == expected,
                s"lexer token dump mismatch:\n--- expected\n${expected.take(8).mkString("\n")}" +
                  s"\n--- actual\n${r.get.take(8).mkString("\n")}")
            }
          }
        }
        val stopAfterLex = spec.stages.get("lexer").exists(_.expectsError)

        // ---- parser stage (full golden AST pretty-print compare).
        // Parser-stage error counts, symmetric with the sema stage:
        // across the whole corpus the parser goldens carry num_err: 0
        // (positive cases) or num_err: NULL + returncode: 1 (error
        // cases) — no spec pins a nonzero parser error count, so the
        // count assert below is exact for positives and the error
        // cases are pinned by expectsError alone.
        if (!stopAfterLex) spec.stages.get("parser").foreach { st =>
          val r = try { Some(graft.parser.AstPrinter.script(spec.query)) }
            catch {
              case _: ParseError => None
              case _: LexError => None
            }
          if (st.expectsError) {
            soft(r.isEmpty, s"parser: expected an error, parsed fine")
            // fail-fast parse: one diagnostic; corpus goldens carry
            // num_err: NULL here, so a numeric value must be 1
            st.numErr.foreach(n => soft(n == 1,
              s"parser: golden expects $n errors, fail-fast parse reports 1"))
          } else {
            soft(r.isDefined, s"parser: unexpected error")
            st.numErr.foreach(n => soft(n == 0,
              s"parser: golden expects $n errors, parsed with 0"))
            st.out.foreach { golden =>
              val expected = golden.linesIterator.toSeq
              val actual = r.get.linesIterator.toSeq
              soft(actual == expected,
                s"parser pretty-print mismatch:\n--- expected\n${expected.mkString("\n")}" +
                  s"\n--- actual\n${actual.mkString("\n")}")
            }
          }
        }
        val stopAfterParse = stopAfterLex ||
          spec.stages.get("parser").exists(_.expectsError)

        // ---- sema stage (error count + positioned-diagnostic compare)
        if (!stopAfterParse) spec.stages.get("sema").foreach { st =>
          val session = templates(corpus).fork()
          val r = try { semaCheck(session, spec.query); None }
            catch { case e: Exception => Some(e) }
          if (st.expectsError) {
            soft(r.isDefined, s"sema: expected an error, checked fine")
            val diags: Seq[graft.analyzer.Diag] = r.get match {
              case se: SemaError => se.diags
              case other => Seq(graft.analyzer.Diag(0, 0,
                Option(other.getMessage).getOrElse(other.toString)))
            }
            st.numErr.foreach { n =>
              soft(diags.size == n,
                s"sema: golden expects $n errors, got ${diags.size}:\n" +
                  diags.map(_.render).mkString("\n"))
            }
            st.err.foreach { golden =>
              val expected = golden.linesIterator.toSeq
              val actual = diags.map(_.render)
              soft(actual == expected,
                s"sema diagnostics mismatch:\n--- expected\n${expected.mkString("\n")}" +
                  s"\n--- actual\n${actual.mkString("\n")}")
            }
          } else
            soft(r.isEmpty, s"sema: unexpected error ${r.map(_.getMessage)}")
        }
        val stopAfterSema = stopAfterParse ||
          spec.stages.get("sema").exists(_.expectsError)

        // ---- end2end stage
        if (!stopAfterSema) spec.stages.get("end2end").foreach { st =>
          val session = templates(corpus).fork()
          if (st.expectsError) {
            val r = try { runEnd2End(session, spec.query); None }
              catch { case e: Exception => Some(e) }
            soft(r.isDefined, "end2end: expected an error, ran fine")
          } else {
            val actual = runEnd2End(session, spec.query)
            val expected = st.out.map(_.linesIterator.toSeq).getOrElse(Nil)
            val exact = actual == expected
            val asMultiset = actual.sorted == expected.sorted
            // AVG is the reference's order-dependent Knuth running
            // mean: its last ulp varies with the reference's physical
            // row order (join probe order, unstable sort ties), which
            // no other engine can reproduce. Allow a 1-ulp difference
            // on numeric fields as the last fallback.
            def splitCsv(s: String): Seq[String] = {
              val out = Seq.newBuilder[String]; val sb = new StringBuilder
              var q = false
              s.foreach {
                case '"' => q = !q; sb += '"'
                case ',' if !q => out += sb.toString; sb.clear()
                case c => sb += c
              }
              out += sb.toString; out.result()
            }
            def ulpClose(e: String, a: String): Boolean = e == a || {
              try {
                val (x, y) = (e.toDouble, a.toDouble)
                // 1 ulp of true difference can grow through the %.16g
                // print→parse round-trip; bound the wobble of the
                // 16th significant digit instead
                x == y || math.abs(x - y) <= math.max(math.abs(x), math.abs(y)) * 1e-15
              } catch { case _: NumberFormatException => false }
            }
            def rowClose(e: String, a: String): Boolean = {
              val (ef, af) = (splitCsv(e), splitCsv(a))
              ef.size == af.size && ef.zip(af).forall((ulpClose _).tupled)
            }
            // ORDER BY output is position-significant: the ulp fallback
            // must not re-sort it (a right-rows/wrong-order result would
            // otherwise pass). Unordered output compares as a multiset.
            def ulpMatch(es: Seq[String], as_ : Seq[String]): Boolean =
              es.size == as_.size && {
                if (hasOrderBy(spec.query)) es.zip(as_).forall((rowClose _).tupled)
                else es.sorted.zip(as_.sorted).forall((rowClose _).tupled)
              }
            val ok = exact || (asMultiset && !hasOrderBy(spec.query)) ||
              ulpMatch(expected, actual)
            def diffRows: String = expected.zipAll(actual, "<missing>", "<missing>")
              .zipWithIndex.collect { case ((e, a), i) if e != a =>
                s"row $i:\n  expected: $e\n  actual:   $a"
              }.take(8).mkString("\n")
            soft(ok, s"end2end mismatch (${expected.size} expected, " +
              s"${actual.size} actual rows):\n$diffRows")
          }
        }
      }
    }
  }
}
