package graft.tools

import graft.Engine
import org.apache.spark.sql.functions._

/** Record the TrainedCost microbench samples plus the sf0.1 two-order
  * join measurement on an IDLE host, as a paste-ready Scala block for
  * `TrainedCostFixture` (test sources). The fixture makes
  * TrainedCostSpec's ranking check deterministic: the live-wall-clock
  * variant canceled via load-guard `assume` three rounds running when
  * sibling suites loaded the box, so the default suite now ranks
  * against these recorded timings and the live variant is opt-in
  * (GRAFT_LIVE_COST=1).
  *
  * Usage: `runMain graft.tools.CostFixtureRecorder` with the host
  * near-idle (1-min load printed for provenance). */
object CostFixtureRecorder {
  def main(args: Array[String]): Unit = {
    val load = Harness.loadAvg
    val spark = Engine.session("graft-cost-fixture")
    val (scan, join) = graft.optimizer.TrainedCost.microbench(spark)

    val dir = "/root/testdata/sf0.1"
    val li = Engine.table(spark, dir, "lineitem")
      .select("l_orderkey", "l_extendedprice")
    val ord = Engine.table(spark, dir, "orders")
      .select("o_orderkey", "o_custkey")
    val cust = Engine.table(spark, dir, "customer").select("c_custkey")
    val (nLi, nOrd, nCust) = (li.count(), ord.count(), cust.count())
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
    }
    // measure the two orders as SHUFFLE joins (broadcast + AQE off):
    // with sf0.1 dimension tables every order broadcasts and the two
    // plans tie within scheduler noise (round 11's recorded 3% gap) —
    // a ranking read off that is a coin flip whether live or frozen.
    // The shuffle regime is what joinFeatures models (input volume +
    // n·log n sort/build), and there the intermediate-size difference
    // between the orders is real and rankable.
    def planA = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
    def planB = ord.join(cust, col("o_custkey") === col("c_custkey"))
      .join(li, col("l_orderkey") === col("o_orderkey"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    noop(planA); noop(planB) // warm both shapes
    val msA = (1 to 5).map(_ => time(noop(planA))).min
    val msB = (1 to 5).map(_ => time(noop(planB))).min
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.unset("spark.sql.adaptive.enabled")

    def d(x: Double) = f"$x%.3f"
    println("  // recorded by graft.tools.CostFixtureRecorder " +
      f"(1-min load $load%.2f at start), local[${Engine.cpus}]")
    println("  val scanSamples: Seq[(Double, Double)] = Seq(")
    println(scan.map { case (n, ms) => s"    ($n, ${d(ms)})" }
      .mkString(",\n") + ")")
    println("  val joinSamples: Seq[((Double, Double, Double), Double)] = Seq(")
    println(join.map { case ((l, r, o), ms) =>
      s"    (($l, $r, $o), ${d(ms)})" }.mkString(",\n") + ")")
    println(s"  val nLi = $nLi.0; val nOrd = $nOrd.0; val nCust = $nCust.0")
    println(s"  val msA = ${d(msA)}; val msB = ${d(msB)}")
    spark.stop()
  }
}
