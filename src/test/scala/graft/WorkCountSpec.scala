package graft

import graft.analyzer.SemaError
import org.apache.spark.ListenerBusShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** Work counts of the dialect write and index paths, the shell's
  * printer, table resolution and the codegen class cache: Spark jobs
  * per job group, analyzed-plan sizes and generated classes compiled,
  * which host load cannot move (no wall time is asserted). */
class WorkCountSpec extends AnyFunSuite {
  import TestSession._

  /** Jobs started per job group. */
  private final class JobCounter extends SparkListener {
    private val byGroup = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .foreach(g => byGroup.merge(g, 1, (a, b) => a + b))
    def apply(group: String): Int = byGroup.getOrDefault(group, 0)
  }

  private var groups = 0
  /** Jobs `body` ran, counted after the listener bus drained. */
  private def jobs(body: => Any): Int = {
    val sc = spark.sparkContext
    val counter = new JobCounter
    groups += 1
    val g = s"workcount-$groups"
    sc.addSparkListener(counter)
    try {
      sc.setJobGroup(g, g)
      try body finally sc.clearJobGroup()
      ListenerBusShim.drain(sc)
      counter(g)
    } finally sc.removeSparkListener(counter)
  }

  test("dialect writes run no job, indexed point reads after one and repeated run none, " +
      "and the table plan does not grow with writes") {
    val s = new EngineSession(spark)
    s.execute("""CREATE DATABASE wc; USE wc;
      CREATE TABLE acct (id INT(8) NOT NULL PRIMARY KEY,
        amount INT(8) NOT NULL CHECK (amount >= 0));
      CREATE INDEX acct_id ON acct USING array (id);""")
    def planNodes: Int =
      s.query("SELECT * FROM acct;").queryExecution.analyzed.collect { case p => p }.size
    assert(jobs(s.execute("INSERT INTO acct VALUES (1, 10), (2, 20);")) == 0,
      "INSERT with a CHECK ran a job")
    assert(jobs(intercept[SemaError](s.execute("INSERT INTO acct VALUES (3, -1);"))) == 0,
      "a CHECK violation ran a job")
    val afterOne = planNodes
    def read(id: Int): (Int, Seq[Seq[Any]]) = {
      var got: Seq[Seq[Any]] = Nil
      val n = jobs {
        got = s.query(s"SELECT id, amount FROM acct WHERE id = $id;").collect().toSeq.map(_.toSeq)
      }
      (n, got)
    }
    // the first read after a write rebuilds the index on the driver
    assert(read(2) == (0, Seq(Seq(2L, 20L))), "the indexed read after a write ran a job")
    assert(read(1) == (0, Seq(Seq(1L, 10L))), "a repeat indexed read ran a job")
    (3 to 11).foreach(i => s.execute(s"INSERT INTO acct VALUES ($i, $i);"))
    assert(planNodes == afterOne, "the table plan grew with writes")
    assert(s.query("SELECT COUNT(*) FROM acct;").collect()(0).getLong(0) == 11)
  }

  test("the shell prints an indexed point read on a dialect table with no job") {
    val s = new EngineSession(spark)
    s.execute("""CREATE DATABASE wcp; USE wcp;
      CREATE TABLE acct (id INT(8) NOT NULL PRIMARY KEY, amount INT(8) NOT NULL);
      CREATE INDEX acct_id ON acct USING array (id);""")
    s.execute("INSERT INTO acct VALUES (1, 10), (2, 20);")
    val q = "SELECT id, amount FROM acct WHERE id = 2;"
    val buf = new java.io.ByteArrayOutputStream
    val out = new java.io.PrintStream(buf, true, "UTF-8")
    assert(jobs(exec.ResultPrinter.print(s.query(q), out)) == 0, "printing a routed point read ran a job")
    assert(buf.toString("UTF-8") == "2,20" + System.lineSeparator)
  }

  test("a range read with ORDER BY on a dialect table runs 3 jobs, " +
      "an indexed point read on a parquet table 1") {
    val s = new EngineSession(spark)
    s.execute("""CREATE DATABASE wcr; USE wcr;
      CREATE TABLE acct (id INT(8) NOT NULL PRIMARY KEY, seq INT(8) NOT NULL,
        amount INT(8) NOT NULL);
      CREATE INDEX acct_seq ON acct USING rmi (seq);""")
    s.execute("INSERT INTO acct VALUES " +
      (0 until 40).map(i => s"(${1000 - i}, $i, ${i * 3})").mkString(", ") + ";")
    var got: Seq[Long] = Nil
    // the routed rows are local; the sort still plans a range exchange
    assert(jobs {
      got = s.query("SELECT id, amount FROM acct WHERE seq >= 10 AND seq < 18 ORDER BY id;")
        .collect().toSeq.map(_.getLong(0))
    } == 3, "the range read's sort ran another number of jobs")
    assert(got == (10 until 18).map(i => 1000L - i).reverse)
    // an index over an external table keeps its leaves in an RDD:
    // once built, a lookup is one job over the fence-pruned leaves
    s.registerExternal("o", Engine.table(spark, sf, "orders"))
    s.execute("CREATE INDEX o_key ON o (o_orderkey);")
    val q = "SELECT o_orderkey FROM o WHERE o_orderkey = 1;"
    try {
      assert(s.query(q).collect().map(_.getLong(0)).toSeq == Seq(1L))
      assert(jobs(s.query(q).collect()) == 1, "a warm parquet-table lookup ran another number of jobs")
    } finally s.execute("DROP INDEX o_key;")
  }

  test("resolving every table in a fresh session and opening the events stream run no job") {
    val fresh = spark.newSession() // nothing memoized by Engine.table yet
    var fields = 0
    assert(jobs(Engine.tableNames.foreach(t =>
      fields += Engine.table(fresh, sf, t).schema.size)) == 0,
      "table resolution ran a schema-inference job")
    assert(fields > Engine.tableNames.size)
    assert(jobs(streaming.StreamOps.readEvents(fresh, sf)) == 0,
      "the events stream's ts-type probe ran a job")
  }

  test("building the near-dup clustering at sf0.01 runs at most 20 jobs") {
    // the star rounds' one action per round, no confirming round once
    // the edges form a star forest; a fresh cache so no earlier build's
    // pinned tables are reused
    spark.sharedState.cacheManager.clearCache()
    val n = jobs(operators.DedupOps.cluster(spark, sf01))
    println(s"[workcount] cluster build at sf0.01 ran $n jobs")
    assert(n <= 20, s"building the clustering ran $n jobs")
  }

  test("a second pass over every registered query compiles no generated class") {
    // the queries that still compile on a warm re-run, each with the
    // most classes it compiled in the second pass when measured (both
    // class-name confs of Engine.session on, sf0.001, name order)
    val allowed = Map(
      // current_timestamp() stamps each run's rows (`ingest_ts`), and
      // the planner inlines it as a new long literal every run
      "docs_dedup_stream" -> 2,
      // each run builds new typed encoders for the state rows, and the
      // lambda variables of their collection converters take fresh ids
      // from a JVM-wide counter (`MapObject_lambda_variable_4` in one
      // run, `_13` in the next), so the same code misses every run
      "events_moving_avg_stream" -> 2,
      "docs_heavy_hitters_stream" -> 1,
      // its second run plans two whole stages unlike its first (other
      // grouping keys fused into the stage); a third run compiles
      // nothing. Why the second plan differs is not known yet
      "stats_ks_drift" -> 4)
    val names = SparkEntry.queries.keys.toSeq.sorted
    def pass(): Map[String, Long] = names.map { q =>
      val n = tools.Harness.coldRun(spark, q, sf).codegen.compiles
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist())
      q -> n
    }.toMap
    val first = pass()
    val second = pass()
    println(s"[workcount] compiles: first pass ${first.values.sum}, second pass " +
      second.filter(_._2 > 0).toSeq.sorted.map { case (q, n) => s"$q $n" }.mkString(", "))
    val over = second.filter { case (q, n) => n > allowed.getOrElse(q, 0) }
    assert(over.isEmpty, s"recompiled on the second pass: $over")
  }

  test("a curation op re-run after the other six compiles no generated class") {
    // the seven ops of one benchmark curation cycle: with Spark's
    // default 100-entry class cache they evict each other, and each
    // re-run here recompiled 13-55 classes (events_rfm 55); the other
    // repeats compile 0-4 with the production cache, events_rfm 0
    val ops = Seq("dedup_containment", "dedup_cluster_star", "dedup_minhash_lsh",
      "sim_knn_graph", "search_tfidf_topk", "events_rfm", "orders_basket_pairs")
    val pinned = "events_rfm"
    def compiles(op: String): Long = {
      val n = tools.Harness.coldRun(spark, op, sf01).codegen.compiles
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist())
      println(s"[workcount] $op compiled $n classes")
      n
    }
    ops.foreach(compiles)
    ops.filterNot(_ == pinned).foreach(compiles)
    val n = compiles(pinned)
    assert(n == 0, s"$pinned compiled $n classes on its re-run")
  }
}
