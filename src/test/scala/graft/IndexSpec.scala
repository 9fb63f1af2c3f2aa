package graft

import graft.storage.Indexes
import graft.storage.Indexes._
import org.scalatest.funsuite.AnyFunSuite

/** Sorted-array + RMI index research surface (ref
  * include/mutable/storage/Index.hpp): correctness of bounded search
  * against a full scan, actual partition pruning (fewer tasks than
  * partitions), and RMI prediction machinery (models land within an
  * exponential-search-recoverable distance of the true position).
  */
class IndexSpec extends AnyFunSuite {
  import TestSession._

  private lazy val orders = Engine.table(spark, sf, "orders")

  test("ArrayIndex range scan matches a filter scan") {
    val idx = Indexes.build(orders, "o_orderkey", ArrayMethod, 8)
    try {
      val got = idx.rangeScan(200, 320).select("o_orderkey").collect()
        .map(_.getLong(0)).sorted
      val want = orders.filter("o_orderkey BETWEEN 200 AND 320")
        .select("o_orderkey").collect().map(_.getLong(0)).sorted
      assert(got.toSeq == want.toSeq)
    } finally idx.unpersist()
  }

  test("RMI range scan matches ArrayIndex on duplicate-heavy keys") {
    val li = Engine.table(spark, sf, "lineitem")
    val a = Indexes.build(li, "l_orderkey", ArrayMethod, 8)
    val r = Indexes.build(li, "l_orderkey", RmiMethod, 8)
    try {
      for ((lo, hi) <- Seq((0L, 0L), (42L, 42L), (100L, 250L), (1490L, 99999L))) {
        val got = r.rangeScan(lo, hi).select("l_orderkey").collect()
          .map(_.getLong(0)).sorted
        val want = a.rangeScan(lo, hi).select("l_orderkey").collect()
          .map(_.getLong(0)).sorted
        assert(got.toSeq == want.toSeq, s"range [$lo,$hi]")
      }
    } finally { a.unpersist(); r.unpersist() }
  }

  test("fences prune partitions: a narrow range schedules few leaves") {
    val idx = Indexes.build(orders, "o_orderkey", ArrayMethod, 8)
    try {
      val total = idx.fences.length
      assert(total >= 4, s"want several leaves, got $total")
      val narrow = idx.matchingPartitions(200, 210)
      assert(narrow.size <= 2, s"narrow range hits ${narrow.size} of $total leaves")
      // out-of-domain range prunes everything without scheduling a job
      assert(idx.matchingPartitions(10_000_000, 20_000_000).isEmpty)
      assert(idx.rangeScan(10_000_000, 20_000_000).count() == 0)
    } finally idx.unpersist()
  }

  test("empty-range and boundary lookups") {
    val idx = Indexes.build(orders, "o_orderkey", ArrayMethod, 8)
    try {
      val mx = orders.agg(org.apache.spark.sql.functions.max("o_orderkey"))
        .collect()(0).getLong(0)
      assert(idx.pointLookup(mx).count() == 1)
      assert(idx.pointLookup(0).count() == 1)
      assert(idx.rangeScan(mx + 1, mx + 100).count() == 0)
    } finally idx.unpersist()
  }

  test("RMI leaf models predict within exponential-search distance") {
    // dense + skewed key mix: the spline root must split segments and
    // every lookup must still land exactly via the correction search
    val keys = ((0L until 3000L) ++ (0L until 500L).map(i => 100000L + i * 37)).toArray.sorted
    val models = Indexes.trainRmi(keys)
    assert(models.length >= 2)
    val part = new IndexPartition(keys, keys.map(k => org.apache.spark.sql.Row(k)), models)
    for (k <- Seq(0L, 1L, 1500L, 2999L, 100000L, 100000L + 37 * 250, keys.last)) {
      assert(part.lowerBoundRmi(k) == part.lowerBound(k), s"key $k")
    }
    // absent keys between clusters land on the successor
    assert(part.lowerBoundRmi(50000L) == part.lowerBound(50000L))
  }

  test("dialect CREATE INDEX routes range queries through the index") {
    val s = new EngineSession(spark)
    s.execute("""CREATE DATABASE ixdb; USE ixdb;
      CREATE TABLE ix (k INT(4), v INT(4));
      INSERT INTO ix VALUES (1, 10), (5, 50), (9, 90), (12, 120), (20, 200);""")
    def rows(sql: String, on: EngineSession = s): Seq[Seq[Any]] =
      on.query(sql).collect().toSeq.map(_.toSeq).sortBy(_.mkString(","))
    /** Rows of a SELECT the index must serve. */
    def routed(sql: String, on: EngineSession = s): Seq[Seq[Any]] = {
      val before = graft.storage.Indexes.rangeScans.get()
      val got = rows(sql, on)
      assert(graft.storage.Indexes.rangeScans.get() > before, s"index not used: $sql")
      got
    }
    val unindexed = rows("SELECT k, v FROM ix WHERE k >= 5 AND k < 13;")
    s.execute("CREATE INDEX ixk ON ix USING array (k);")
    assert(routed("SELECT k, v FROM ix WHERE k >= 5 AND k < 13;") == unindexed)
    // point lookup + residual non-key predicate stays correct
    assert(rows("SELECT v FROM ix WHERE k = 12 AND v > 100;") == Seq(Seq(120)))
    assert(rows("SELECT v FROM ix WHERE k = 12 AND v > 500;").isEmpty)
    // INSERT invalidates: new row must be visible through the index path
    s.execute("INSERT INTO ix VALUES (7, 70);")
    assert(routed("SELECT v FROM ix WHERE k = 7;") == Seq(Seq(70)))
    // rmi method works through the dialect too
    s.execute("CREATE INDEX ixk2 ON ix USING rmi (v);")
    assert(rows("SELECT k FROM ix WHERE v >= 50 AND v <= 90;")
      .map(_.head).toSet == Set(5, 7, 9))
    // duplicate keys come back whole; a NULL key is not indexed and
    // never matches
    s.execute("INSERT INTO ix VALUES (12, 121), (NULL, 0), (30, NULL);")
    assert(routed("SELECT v FROM ix WHERE k = 12;") == Seq(Seq(120), Seq(121)))
    assert(routed("SELECT k FROM ix WHERE k <= 5;") == Seq(Seq(1), Seq(5)))
    assert(routed("SELECT k FROM ix WHERE v <= 10;") == Seq(Seq(1), Seq(null)))
    // rows fed by IMPORT are indexed like inserted ones
    val csv = java.nio.file.Files.createTempFile("graft_ix", ".csv")
    try {
      java.nio.file.Files.writeString(csv, "3,30\n12,122\n")
      s.execute(s"""IMPORT INTO ix DSV "$csv";""")
    } finally java.nio.file.Files.delete(csv)
    assert(routed("SELECT v FROM ix WHERE k = 12;") == Seq(Seq(120), Seq(121), Seq(122)))
    assert(routed("SELECT k FROM ix WHERE v >= 30 AND v <= 50;") == Seq(Seq(3), Seq(5)))
    // a DATE key fed by IMPORT, with a duplicate and a NULL date
    val dcsv = java.nio.file.Files.createTempFile("graft_ixd", ".csv")
    try {
      java.nio.file.Files.writeString(dcsv,
        "2024-01-05,1\n2024-03-15,2\n2024-03-15,3\n,4\n-0100-06-01,5\n")
      s.execute(s"""CREATE TABLE ev (d DATE, v INT(4));
        CREATE INDEX evd ON ev (d);
        IMPORT INTO ev DSV "$dcsv";""")
    } finally java.nio.file.Files.delete(dcsv)
    assert(routed("SELECT v FROM ev WHERE d = d'2024-03-15';") == Seq(Seq(2), Seq(3)))
    assert(routed("SELECT v FROM ev WHERE d < d'2024-03-01';") == Seq(Seq(1), Seq(5)))
    // an index over an empty table answers empty, then sees the first rows
    s.execute("CREATE TABLE e (k INT(4)); CREATE INDEX ek ON e (k);")
    assert(routed("SELECT k FROM e WHERE k >= 0;").isEmpty)
    s.execute("INSERT INTO e VALUES (4);")
    assert(routed("SELECT k FROM e WHERE k >= 0;") == Seq(Seq(4)))
    // a fork's INSERT leaves the parent session's rows unchanged
    val f = s.fork()
    f.execute("INSERT INTO ix VALUES (12, 999);")
    assert(routed("SELECT v FROM ix WHERE k = 12;", f) ==
      Seq(Seq(120), Seq(121), Seq(122), Seq(999)))
    assert(routed("SELECT v FROM ix WHERE k = 12;") == Seq(Seq(120), Seq(121), Seq(122)))
    assert(rows("SELECT COUNT(*) FROM ix;") == Seq(Seq(11L)))
  }

  test("DROP INDEX and DROP DATABASE release a persisted index") {
    val sc = spark.sparkContext
    val s = new EngineSession(spark)
    s.execute("CREATE DATABASE ixleak; USE ixleak;")
    // a parquet-backed table: the one whose index persists its leaves
    s.registerExternal("o", orders)
    def build(name: String): Unit = {
      s.execute(s"CREATE INDEX $name ON o (o_orderkey);")
      s.query("SELECT o_orderkey FROM o WHERE o_orderkey = 1;").collect()
    }
    def pins: Set[Int] = sc.getPersistentRDDs.keySet.toSet
    val before = pins
    build("ok1")
    assert((pins -- before).nonEmpty, "index leaves were not persisted")
    s.execute("DROP INDEX ok1;")
    assert((pins -- before).isEmpty, "DROP INDEX left its leaves persisted")
    build("ok2")
    assert((pins -- before).nonEmpty, "index leaves were not persisted")
    s.execute("CREATE DATABASE ixother; USE ixother; DROP DATABASE ixleak;")
    assert((pins -- before).isEmpty, "DROP DATABASE left its index leaves persisted")
  }

  test("temporal-key index: epoch-milli mapping matches a filter scan") {
    val idx = Indexes.build(orders, "o_orderdate", ArrayMethod, 8)
    try {
      val (lo, hi) = (java.time.LocalDate.of(1996, 3, 1),
        java.time.LocalDate.of(1996, 6, 30))
      def ms(d: java.time.LocalDate): Long =
        d.atStartOfDay.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      val got = idx.rangeScan(ms(lo), ms(hi))
        .select("o_orderkey").collect().map(_.getLong(0)).sorted
      val want = orders
        .filter(s"o_orderdate BETWEEN TIMESTAMP '$lo 00:00:00' AND TIMESTAMP '$hi 00:00:00'")
        .select("o_orderkey").collect().map(_.getLong(0)).sorted
      assert(got.nonEmpty && got.toSeq == want.toSeq)
    } finally idx.unpersist()
  }

  test("dialect routes DATE-key and BETWEEN-shaped predicates") {
    val s = new EngineSession(spark)
    s.execute("""CREATE DATABASE ixd; USE ixd;
      CREATE TABLE ev (d DATE, v INT(4));
      INSERT INTO ev VALUES (d'2024-01-05', 1), (d'2024-02-10', 2),
        (d'2024-03-15', 3), (d'2024-07-01', 4), (d'-0100-06-01', 5);
      CREATE INDEX evd ON ev USING array (d);""")
    def vs(sql: String): Seq[Int] =
      s.query(sql).collect().toSeq.map(_.getInt(0)).sorted
    val before = graft.storage.Indexes.rangeScans.get()
    // BETWEEN-shaped conjunct pair on a DATE key
    assert(vs("SELECT v FROM ev WHERE d >= d'2024-02-01' AND d <= d'2024-03-31';")
      == Seq(2, 3))
    assert(graft.storage.Indexes.rangeScans.get() > before, "date key not routed")
    // point lookup, flipped literal side, ancient negative year
    assert(vs("SELECT v FROM ev WHERE d = d'2024-07-01';") == Seq(4))
    assert(vs("SELECT v FROM ev WHERE d'2024-01-01' > d;") == Seq(5))
  }

  test("with several indexes, routing picks the one the WHERE constrains") {
    val s = new EngineSession(spark)
    s.execute("""CREATE DATABASE ixm; USE ixm;
      CREATE TABLE m (k INT(4), v INT(4));
      INSERT INTO m VALUES (1, 100), (2, 200), (3, 300), (4, 400);
      CREATE INDEX mk ON m (k);
      CREATE INDEX mv ON m (v);""")
    def rows(sql: String): Seq[Int] =
      s.query(sql).collect().toSeq.map(_.getInt(0)).sorted
    // predicate only on v: the k-index has no bounds, the v-index must
    // still serve the scan (declaration order must not matter)
    val before = graft.storage.Indexes.rangeScans.get()
    assert(rows("SELECT k FROM m WHERE v >= 200 AND v <= 300;") == Seq(2, 3))
    assert(graft.storage.Indexes.rangeScans.get() > before,
      "v-index not routed when k-index is declared first")
    // both constrained: the point lookup (narrower range) wins, and
    // the other predicate still applies as a residual filter
    assert(rows("SELECT k FROM m WHERE k >= 1 AND v = 400;") == Seq(4))
    assert(rows("SELECT k FROM m WHERE k >= 99 AND v = 400;").isEmpty)
  }

  test("index routing leaves multi-table and OR queries alone") {
    val s = new EngineSession(spark)
    s.execute("""CREATE DATABASE ixdb2; USE ixdb2;
      CREATE TABLE a (k INT(4)); CREATE TABLE b (k INT(4));
      INSERT INTO a VALUES (1), (2); INSERT INTO b VALUES (2), (3);
      CREATE INDEX ak ON a (k);""")
    val before = graft.storage.Indexes.rangeScans.get()
    // OR at top level: no usable conjunct — must not route
    val r1 = s.query("SELECT k FROM a WHERE k = 1 OR k = 2;")
      .collect().map(_.getInt(0)).sorted
    assert(r1.toSeq == Seq(1, 2))
    assert(graft.storage.Indexes.rangeScans.get() == before, "routed through OR")
    // joins keep full semantics (routing only fires on single-table FROM)
    val r2 = s.query("SELECT a.k FROM a, b WHERE a.k = b.k AND a.k > 0;")
      .collect().map(_.getInt(0))
    assert(r2.toSeq == Seq(2))
  }

  test("linear models: spline endpoints and regression on exact line") {
    val keys = Array(10L, 20L, 30L, 40L)
    val spline = LinearModel.trainSpline(keys, 0, 4, 0, 1.0)
    assert(math.abs(spline(10) - 0.0) < 1e-9)
    val reg = LinearModel.trainRegression(keys, 0, 4, 0)
    // positions 0..3 over keys 10..40: slope 0.1, intercept -1
    assert(math.abs(reg.slope - 0.1) < 1e-9)
    assert(math.abs(reg.intercept + 1.0) < 1e-9)
  }
}
