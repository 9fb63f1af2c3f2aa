package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** IMPORT … DSV round-trip (ref src/io/DSVReader.cpp behaviors:
  * delimiter/quote/escape options, ROWS cap, header skipping). */
class ImportDsvSpec extends AnyFunSuite {
  import TestSession._

  private def withCsv(content: String)(f: String => Unit): Unit = {
    val p = Files.createTempFile("graft_dsv", ".csv")
    Files.writeString(p, content)
    try f(p.toString) finally Files.delete(p)
  }

  private def fresh(): EngineSession = {
    val s = new EngineSession(spark)
    s.execute("CREATE DATABASE d; USE d;")
    s.execute("CREATE TABLE T (id INT(4), name VARCHAR(20), score DOUBLE)")
    s
  }

  test("basic comma DSV import") {
    withCsv("1,alpha,1.5\n2,beta,2.5\n3,gamma,3.5\n") { path =>
      val s = fresh()
      s.execute(s"""IMPORT INTO T DSV "$path";""")
      assert(s.query("SELECT COUNT(*) FROM T;").collect()(0).getLong(0) == 3)
      assert(s.query("""SELECT id FROM T WHERE name = "beta";""")
        .collect()(0).getInt(0) == 2)
    }
  }

  test("custom delimiter + ROWS cap + HAS HEADER") {
    withCsv("id|name|score\n1|a|1.0\n2|b|2.0\n3|c|3.0\n") { path =>
      val s = fresh()
      s.execute(s"""IMPORT INTO T DSV "$path" ROWS 2 DELIMITER "|" HAS HEADER;""")
      val got = s.query("SELECT id FROM T ORDER BY id;").collect().map(_.getInt(0))
      assert(got.toSeq == Seq(1, 2))
    }
  }

  test("quoted fields with embedded delimiter") {
    withCsv("1,\"x,y\",0.5\n") { path =>
      val s = fresh()
      s.execute(s"""IMPORT INTO T DSV "$path";""")
      assert(s.query("SELECT name FROM T;").collect()(0).getString(0) == "x,y")
    }
  }

  test("IMPORT copies the file: rewriting or deleting it later changes nothing") {
    val p = Files.createTempFile("graft_dsv", ".csv")
    try {
      Files.writeString(p, "1,alpha,1.5\n2,beta,2.5\n")
      val s = fresh()
      s.execute(s"""IMPORT INTO T DSV "$p";""")
      def rows: Seq[Seq[Any]] =
        s.query("SELECT id, name, score FROM T ORDER BY id;").collect().toSeq.map(_.toSeq)
      val imported = Seq(Seq(1, "alpha", 1.5), Seq(2, "beta", 2.5))
      assert(rows == imported)
      Files.writeString(p, "9,rewritten,9.5\n")
      assert(rows == imported)
      Files.delete(p)
      assert(rows == imported)
    } finally Files.deleteIfExists(p)
  }

  test("import appends to existing rows") {
    withCsv("7,seven,7.0\n") { path =>
      val s = fresh()
      s.execute("""INSERT INTO T VALUES (1, "one", 1.0)""")
      s.execute(s"""IMPORT INTO T DSV "$path";""")
      assert(s.query("SELECT COUNT(*) FROM T;").collect()(0).getLong(0) == 2)
    }
  }
}
