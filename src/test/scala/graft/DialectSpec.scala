package graft

import graft.analyzer.SemaError
import graft.parser.{Lexer, Parser, ParseError}
import org.scalatest.funsuite.AnyFunSuite

/** Frontend tests shaped after the reference's test/ours corpus:
  * DDL + INSERT round-trips, expression semantics, dialect-specific
  * features (GROUP BY alias, `..`, d'…', implicit joins), and the
  * stricter-than-Spark Sema rejections. */
class DialectSpec extends AnyFunSuite {
  import TestSession._

  private def freshSession(): EngineSession = {
    val s = new EngineSession(spark)
    s.execute("CREATE DATABASE test; USE test;")
    s.execute("""CREATE TABLE R (key INT(4) PRIMARY KEY, value INT(4),
      name VARCHAR(20), score DOUBLE, flag BOOL, born DATE)""")
    s.execute("""INSERT INTO R VALUES
      (1, 10, "alpha", 1.5, TRUE, d'1990-01-01'),
      (2, 20, "beta", 2.5, FALSE, d'1995-06-15'),
      (3, 30, "gamma", 3.5, TRUE, d'-0044-03-15'),
      (4, 40, "delta", 4.5, FALSE, d'2000-12-31'),
      (5, NULL, "epsilon", 5.5, TRUE, d'1990-01-01')""")
    s
  }

  private def rows(s: EngineSession, sql: String): Seq[Seq[Any]] =
    s.query(sql).collect().toSeq.map(r => r.toSeq)

  test("DDL + INSERT + SELECT round-trip") {
    val s = freshSession()
    assert(rows(s, "SELECT key, value FROM R WHERE key < 3 ORDER BY key;") ==
      Seq(Seq(1, 10), Seq(2, 20)))
  }

  test("CHAR(n) is NUL-terminated C-string semantics: no pad in compare/concat/print") {
    // ref CHAR(n) stores NUL-padded but compares/prints the C-string
    // (Type.hpp:311-319; corpus strcmp + join_comparable_char_sequence
    // goldens show unpadded values) — plain StringType matches exactly
    val s = freshSession()
    s.execute("""CREATE TABLE C (id INT(4) PRIMARY KEY, c CHAR(10))""")
    s.execute("""INSERT INTO C VALUES (1, "ab"), (2, "ab        "), (3, "b")""")
    // a short CHAR equals its unpadded literal, not the padded spelling
    assert(rows(s, """SELECT id FROM C WHERE c = "ab" ORDER BY id;""") ==
      Seq(Seq(1)))
    assert(rows(s, """SELECT id FROM C WHERE c = "ab        ";""") == Seq(Seq(2)))
    // concat does not smuggle pad characters in
    assert(rows(s, """SELECT c .. "!" FROM C WHERE id = 1;""") == Seq(Seq("ab!")))
    // ordering is plain byte order, where "ab" < "b"
    assert(rows(s, """SELECT id FROM C WHERE c < "b" ORDER BY id;""") ==
      Seq(Seq(1), Seq(2)))
  }

  test("a string longer than CHAR(n)/VARCHAR(n) is rejected at INSERT") {
    val s = freshSession()
    s.execute("""CREATE TABLE C2 (id INT(4), c CHAR(3))""")
    intercept[graft.analyzer.SemaError] {
      s.execute("""INSERT INTO C2 VALUES (1, "abcd")""")
    }
  }

  test("projection expressions: arithmetic, concat, INT cast") {
    val s = freshSession()
    val got = rows(s,
      """SELECT key + 100, name .. "_x", INT(score), key / 2 FROM R
         WHERE key = 3;""").head
    assert(got == Seq(103L, "gamma_x", 3, 1))
  }

  test("integer division truncates like C; % works") {
    val s = freshSession()
    assert(rows(s, "SELECT 7 / 2, -7 / 2, 7 % 2 FROM R WHERE key = 1;").head ==
      Seq(3L, -3L, 1L))
  }

  test("LIKE prefix/contains, ISNULL, NOT, boolean logic") {
    val s = freshSession()
    assert(rows(s, """SELECT key FROM R WHERE name LIKE "%eta%" ORDER BY key;""")
      .flatten == Seq(2))
    assert(rows(s, "SELECT key FROM R WHERE ISNULL(value);").flatten == Seq(5))
    assert(rows(s,
      """SELECT key FROM R WHERE NOT flag AND score > 3.0 ORDER BY key;""")
      .flatten == Seq(4))
  }

  test("date literals incl. negative year") {
    val s = freshSession()
    assert(rows(s, "SELECT key FROM R WHERE born < d'0001-01-01';").flatten ==
      Seq(3))
  }

  test("a malformed or out-of-range date literal is a SemaError in INSERT and SELECT") {
    val s = new EngineSession(spark)
    // the DATE key is indexed, so a SELECT also routes its literal
    s.execute("""CREATE DATABASE lit; USE lit;
      CREATE TABLE t (d DATE, ts DATETIME);
      CREATE INDEX t_d ON t (d);
      INSERT INTO t VALUES (d'-0044-03-15', d'2020-01-01 10:00:00');""")
    val bad = Seq("d'2020-01'", "d'2020-13-01'", "d'2020-ab-01'", "d'99999999-01-01'",
      "d'2020-01-01 25:00:00'", "d'2020-01-01 10:00'")
    for (l <- bad) {
      val (attr, row) = if (l.contains(' ')) ("ts", s"NULL, $l") else ("d", s"$l, NULL")
      intercept[SemaError](s.execute(s"INSERT INTO t VALUES ($row);"))
      intercept[SemaError](s.query(s"SELECT * FROM t WHERE $attr = $l;"))
    }
    assert(rows(s, "SELECT ts FROM t WHERE d = d'-0044-03-15';").flatten ==
      Seq(java.time.Instant.parse("2020-01-01T10:00:00Z")))
  }

  test("a CHECK means what the same expression means in a WHERE") {
    val s = new EngineSession(spark)
    s.execute("CREATE DATABASE chk; USE chk;")
    val cols = "f DOUBLE, c VARCHAR(10), d DATE"
    val row = """1.5, "xy", d'2010-05-05'"""
    // (CHECK on attribute a, the row inserted, Some(the INSERT is
    // accepted) or None when CREATE TABLE is a SemaError)
    val inputs = Seq(
      ("a / 2 * 2 = a", s"3, $row", Some(false)),       // integer division
      ("a / 2 * 2 = a", s"4, $row", Some(true)),
      ("d >= d'2000-01-01'", s"3, $row", Some(true)),
      ("d >= d'2020-01-01'", s"3, $row", Some(false)),
      ("a > 0 AND NULL", s"3, $row", Some(true)),       // NULL passes
      ("a > 0 AND NULL", s"-3, $row", Some(false)),
      ("f > 0", """3, NULL, "xy", NULL""", Some(true)),
      ("~f = 0", s"3, $row", None),
      ("~a = -4", s"3, $row", Some(true)),
      ("INT(c) = 1", s"3, $row", None),
      ("INT(f) = 1", s"3, $row", Some(true)),
      ("c LIKE \"x%\"", s"3, $row", Some(true)),
      ("c LIKE \"y%\"", s"3, $row", Some(false)),
      ("c .. \"z\" = \"xyz\"", s"3, $row", Some(true)),
      ("chk.a > 3", s"3, $row", Some(false)),            // the table's own name
      ("other.a > 0", s"3, $row", None),
      ("SUM(a) > 0", s"3, $row", None),
      ("a + 1", s"3, $row", None))
    def sema[T](body: => T): Option[T] =
      try Some(body) catch { case _: SemaError => None }
    for ((check, values, expected) <- inputs) {
      s.execute(s"""DROP TABLE IF EXISTS chk, twin;
        CREATE TABLE twin (a INT(4), $cols); INSERT INTO twin VALUES ($values);""")
      // the rows the WHERE twin of the CHECK rejects; None: sema failed
      val rejects = sema(s.query(s"SELECT * FROM twin AS chk WHERE NOT ($check);").count())
      val created = sema(s.execute(s"CREATE TABLE chk (a INT(4) CHECK ($check), $cols);"))
      assert(created.isDefined == rejects.isDefined, s"CREATE vs WHERE sema: $check")
      val inserted = created.map(_ => sema(s.execute(s"INSERT INTO chk VALUES ($values);")).isDefined)
      assert(inserted == rejects.map(_ == 0), s"INSERT vs WHERE: $check with ($values)")
      assert(inserted == expected, s"$check with ($values)")
    }
    // a subquery is the one CHECK a WHERE would accept
    s.execute("DROP TABLE IF EXISTS chk;")
    intercept[SemaError](s.execute(
      s"CREATE TABLE chk (a INT(4) CHECK (a > (SELECT MIN(a) FROM twin)), $cols);"))
    assert(s.query("SELECT * FROM twin WHERE a > (SELECT MIN(a) FROM twin);").count() == 0)
  }

  test("INSERT and IMPORT admit the same rows: NOT NULL and CHECK on both paths") {
    val s = new EngineSession(spark)
    s.execute("CREATE DATABASE adm; USE adm;")
    def insert(cells: String): ExecResult = s.execute(
      s"INSERT INTO z VALUES (${cells.split(",", -1).map(c => if (c.isEmpty) "NULL" else c).mkString(", ")});")
    def dsvImport(cells: String): ExecResult = {
      val p = java.nio.file.Files.createTempFile("graft_admit", ".csv")
      try {
        java.nio.file.Files.writeString(p, cells + "\n")
        s.execute(s"""IMPORT INTO z DSV "$p";""")
      } finally java.nio.file.Files.delete(p)
    }
    def table: Seq[Seq[Any]] = rows(s, "SELECT id, amt FROM z ORDER BY id;")
    for ((path, write) <- Seq("INSERT" -> insert _, "IMPORT" -> dsvImport _)) {
      s.execute("""DROP TABLE IF EXISTS z;
        CREATE TABLE z (id INT(4) NOT NULL, amt INT(4) CHECK (amt >= 0));""")
      write("7,3")
      for ((cells, constraint) <- Seq(",-5" -> "NOT NULL attribute 'id'", "1,-7" -> "CHECK constraint on 'amt'")) {
        val e = intercept[SemaError](write(cells))
        assert(e.getMessage.contains(constraint), s"$path of $cells: ${e.getMessage}")
        assert(table == Seq(Seq(7, 3)), s"$path of $cells changed the table")
      }
      write("2,5")
      assert(table == Seq(Seq(2, 5), Seq(7, 3)), path)
    }
  }

  test("GROUP BY expression alias referenced in SELECT and ORDER BY") {
    val s = freshSession()
    val got = rows(s,
      """SELECT b, COUNT(*), SUM(key) FROM R GROUP BY key % 2 AS b
         ORDER BY b;""")
    assert(got == Seq(Seq(0L, 2L, 6L), Seq(1L, 3L, 9L)))
  }

  test("HAVING filters groups; aggregates in HAVING only") {
    val s = freshSession()
    val got = rows(s,
      """SELECT flag, COUNT(*) AS n FROM R GROUP BY flag
         HAVING COUNT(*) > 2;""")
    assert(got == Seq(Seq(true, 3L)))
  }

  test("ORDER BY DESC + LIMIT/OFFSET") {
    val s = freshSession()
    assert(rows(s,
      "SELECT key FROM R ORDER BY key DESC LIMIT 2 OFFSET 1;").flatten ==
      Seq(4, 3))
  }

  test("implicit comma-join with WHERE equi-predicate") {
    val s = freshSession()
    s.execute("""CREATE TABLE S (rkey INT(4), tag VARCHAR(10))""")
    s.execute("""INSERT INTO S VALUES (1, "one"), (1, "uno"), (3, "three")""")
    val got = rows(s,
      """SELECT R.key, tag FROM R, S WHERE R.key = S.rkey ORDER BY tag;""")
    assert(got == Seq(Seq(1, "one"), Seq(3, "three"), Seq(1, "uno")))
  }

  test("nested FROM subquery with alias") {
    val s = freshSession()
    val got = rows(s,
      """SELECT t.k2 FROM (SELECT key + 1 AS k2 FROM R WHERE key < 3) AS t
         ORDER BY t.k2;""")
    assert(got.flatten == Seq(2L, 3L))
  }

  test("uncorrelated scalar subquery") {
    val s = freshSession()
    assert(rows(s,
      """SELECT key FROM R WHERE score > (SELECT AVG(score) FROM R)
         ORDER BY key;""").flatten == Seq(4, 5))
  }

  test("SUM/AVG/MIN/MAX/COUNT typing") {
    val s = freshSession()
    val got = rows(s,
      """SELECT COUNT(*), COUNT(value), SUM(value), AVG(score),
         MIN(key), MAX(name) FROM R;""").head
    assert(got == Seq(5L, 4L, 100L, 3.5, 1, "gamma"))
  }

  test("Sema rejects cross-category comparisons (stricter than Spark)") {
    val s = freshSession()
    intercept[SemaError](s.query("SELECT key FROM R WHERE flag < 1;"))
    intercept[SemaError](s.query("""SELECT key FROM R WHERE name = 1;"""))
    intercept[SemaError](s.query("SELECT key FROM R WHERE born = 5;"))
  }

  test("Sema rejects aggregates in WHERE and bare columns under grouping") {
    val s = freshSession()
    intercept[SemaError](s.query("SELECT key FROM R WHERE SUM(key) > 1;"))
    intercept[SemaError](
      s.query("SELECT value FROM R GROUP BY flag;"))
    intercept[SemaError](s.query("SELECT key FROM R GROUP BY 1 + 2;"))
  }

  test("Sema rejects unknown identifiers and ambiguity") {
    val s = freshSession()
    intercept[SemaError](s.query("SELECT nosuch FROM R;"))
    s.execute("CREATE TABLE R2 (key INT(4))")
    intercept[SemaError](s.query("SELECT key FROM R, R2;"))
  }

  test("UPDATE/DELETE parse but are rejected at execution (parity)") {
    val s = freshSession()
    intercept[UnsupportedOperationException](
      s.execute("UPDATE R SET value = 1;"))
    intercept[UnsupportedOperationException](s.execute("DELETE FROM R;"))
  }

  test("CREATE INDEX accepted as no-op; DROP TABLE IF EXISTS") {
    val s = freshSession()
    s.execute("CREATE INDEX idx ON R (key);")
    s.execute("DROP TABLE IF EXISTS nosuch;")
    intercept[SemaError](s.execute("DROP TABLE nosuch;"))
  }

  test("lexer rejects garbage; parser reports position") {
    intercept[ParseError](Parser.parse("SELECT FROM WHERE"))
    intercept[graft.parser.LexError](Lexer.tokenize("SELECT `x`"))
  }

  test("correlated scalar subquery decorrelates via grouping-lift") {
    val s = freshSession()
    // rows whose score exceeds their flag-group average
    // flag=true: scores 1.5, 3.5, 5.5 avg 3.5 → key 5
    // flag=false: scores 2.5, 4.5 avg 3.5 → key 4
    assert(rows(s,
      """SELECT key FROM R WHERE score > (SELECT AVG(r2.score) FROM R AS r2
         WHERE r2.flag = R.flag) ORDER BY key;""").flatten == Seq(4, 5))
  }

  test("correlated subquery over lineitem matches spark.sql decorrelation") {
    Engine.registerViews(spark, sf)
    val viaDialect = operators.DialectQueries
      .queries("dialect_correlated")(spark, sf)
      .collect().map(_.toSeq.toString).sorted
    val viaSpark = spark.sql(
      """SELECT l_orderkey, l_linenumber FROM lineitem l1
         WHERE l_quantity > 1.5 * (SELECT AVG(l2.l_quantity) FROM lineitem l2
                                   WHERE l2.l_partkey = l1.l_partkey)""")
      .collect().map(_.toSeq.toString).sorted
    assert(viaDialect.toSeq == viaSpark.toSeq)
  }

  test("unsupported correlated shapes are rejected, not mis-planned") {
    val s = freshSession()
    intercept[SemaError](s.query(
      """SELECT key FROM R WHERE score > (SELECT AVG(r2.score) FROM R AS r2
         WHERE r2.value < R.value);"""))
  }

  test("LIKE escape: backslash escapes the wildcard") {
    val s = freshSession()
    s.execute("""CREATE TABLE P (v VARCHAR(20))""")
    s.execute("""INSERT INTO P VALUES ("100%"), ("100x"), ("abc")""")
    // \% matches a literal percent (escape char is backslash, like ref)
    assert(rows(s, """SELECT v FROM P WHERE v LIKE "100\\%";""").flatten ==
      Seq("100%"))
    assert(rows(s, """SELECT COUNT(*) FROM P WHERE v LIKE "100%";""")
      .flatten == Seq(2L))
  }

  test("concat chain is left-associative and typed") {
    val s = freshSession()
    assert(rows(s, """SELECT "a" .. "b" .. "c" FROM R WHERE key = 1;""")
      .flatten == Seq("abc"))
    intercept[SemaError](s.query("SELECT key .. 1 FROM R;"))
  }

  test("join with duplicate keys multiplies rows (ref n:m join tests)") {
    val s = freshSession()
    s.execute("CREATE TABLE A (k INT(4))")
    s.execute("CREATE TABLE B (k INT(4))")
    s.execute("INSERT INTO A VALUES (1), (1), (2)")
    s.execute("INSERT INTO B VALUES (1), (1), (3)")
    assert(rows(s, "SELECT COUNT(*) FROM A, B WHERE A.k = B.k;")
      .flatten == Seq(4L))
  }

  test("grouping over a nested FROM query") {
    val s = freshSession()
    val got = rows(s,
      """SELECT t.b, COUNT(*) FROM
           (SELECT key % 2 AS b FROM R WHERE key < 5) AS t
         GROUP BY t.b ORDER BY t.b;""")
    assert(got == Seq(Seq(0L, 2L), Seq(1L, 2L)))
  }

  test("INSERT DEFAULT inserts NULL (ref grammar:100)") {
    val s = freshSession()
    s.execute("""INSERT INTO R VALUES (9, DEFAULT, "z", 0.0, FALSE, d'2001-01-01')""")
    assert(rows(s, "SELECT key FROM R WHERE ISNULL(value) ORDER BY key;")
      .flatten == Seq(5, 9))
  }

  test("datetime comparison in dialect against timestamp columns") {
    Engine.registerViews(spark, sf)
    val n = operators.DialectQueries.queries("dialect_q6")(spark, sf).count()
    assert(n == 1)
    // date literal vs datetime column must be REJECTED (strict categories)
    val s = EngineSession.withTestdata(spark, sf)
    intercept[SemaError](
      s.query("SELECT COUNT(*) FROM orders WHERE o_orderdate < d'1996-01-01';"))
  }

  test("dialect q1 equals the DataFrame-API q1") {
    val dialect = operators.DialectQueries.queries("dialect_q1")(spark, sf)
      .select("l_returnflag", "l_linestatus", "sum_qty", "count_order")
      .collect().map(_.toSeq).sortBy(_.toString)
    val api = operators.Relational.q1(spark, sf)
      .select("l_returnflag", "l_linestatus", "sum_qty", "count_order")
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(dialect.toSeq == api.toSeq)
  }
}
