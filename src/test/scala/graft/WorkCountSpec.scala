package graft

import graft.analyzer.SemaError
import org.apache.spark.ListenerBusShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** Work counts of the dialect write and index paths and of table
  * resolution: Spark jobs per job group and analyzed-plan sizes, which
  * host load cannot move (no wall time is asserted). */
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

  test("dialect writes run no job, the first indexed read after one runs one, " +
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
    var got: Seq[Seq[Any]] = Nil
    assert(jobs {
      got = s.query("SELECT id, amount FROM acct WHERE id = 2;").collect().toSeq.map(_.toSeq)
    } == 1, "the first indexed read after a write ran more than its lookup")
    assert(got == Seq(Seq(2L, 20L)))
    (3 to 11).foreach(i => s.execute(s"INSERT INTO acct VALUES ($i, $i);"))
    assert(planNodes == afterOne, "the table plan grew with writes")
    assert(s.query("SELECT COUNT(*) FROM acct;").collect()(0).getLong(0) == 11)
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
}
