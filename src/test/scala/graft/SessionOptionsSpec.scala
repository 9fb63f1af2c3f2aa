package graft

import graft.analyzer.SemaError
import graft.optimizer.{JoinReorder, JoinReorderRule}
import org.scalatest.funsuite.AnyFunSuite

/** Session-level optimizer component selection — the dialect
  * equivalent of the reference's `--plan-enumerator` /
  * `--cardinality-estimator` catalog options (ref Catalog.cpp:100-125)
  * and `--list-*` shell options (shell.cpp:338-351). The choice lands
  * in the SparkSession conf and JoinReorderRule reads it per plan.
  */
class SessionOptionsSpec extends AnyFunSuite {
  import TestSession._

  private def clearConfs(): Unit =
    Seq(JoinReorderRule.EnumeratorConf, JoinReorderRule.EstimatorConf,
      JoinReorderRule.HsSpaceConf, JoinReorderRule.HsHeuristicConf,
      JoinReorderRule.HsSearchConf, JoinReorderRule.HsWeightConf,
      JoinReorderRule.HsBudgetConf).foreach(spark.conf.unset)

  private def join5 = operators.Relational.join5Way(spark, sf)

  /** Runs `body` and then unsets every component conf, also on failure:
    * the rule plans every later query of the session. */
  private def withConfs(body: => Unit): Unit = try body finally clearConfs()

  test("\\list_plan_enumerators names the full registry") {
    val s = new EngineSession(spark)
    val msg = s.execute("\\list_plan_enumerators;")
      .asInstanceOf[CommandOk].message
    for (n <- Seq("auto", "HeuristicSearch", "DPccp", "DPsize", "PEall",
        "IKKBZ", "TDMinCutAGaT"))
      assert(msg.contains(n), s"missing $n in: $msg")
    assert(s.execute("\\list_cardinality_estimators;")
      .asInstanceOf[CommandOk].message.contains("CartesianProduct"))
  }

  test("\\plan_enumerator selects a named enumerator (results hold)") {
    withConfs {
      val s = new EngineSession(spark)
      s.execute("\\plan_enumerator DPccp;")
      assert(spark.conf.get(JoinReorderRule.EnumeratorConf) == "DPccp")
      assertReorderKeepsRows(join5)
    }
  }

  test("\\plan_enumerator HeuristicSearch with space/heuristic/search args") {
    withConfs {
      val s = new EngineSession(spark)
      s.execute("\\plan_enumerator HeuristicSearch topdown goo beam_search;")
      assert(spark.conf.get(JoinReorderRule.HsSpaceConf) == "topdown")
      assert(spark.conf.get(JoinReorderRule.HsSearchConf) == "beam_search")
      // optional weight/budget args (ref --hs-wf / --hs-budget)
      s.execute("\\plan_enumerator HeuristicSearch bottomup goo weighted_anytimeastar 1.5 128;")
      assert(spark.conf.get(JoinReorderRule.HsWeightConf) == "1.5")
      assert(spark.conf.get(JoinReorderRule.HsBudgetConf) == "128")
      intercept[SemaError](s.execute(
        "\\plan_enumerator HeuristicSearch bottomup goo AStar notanumber;"))
      s.execute("\\plan_enumerator HeuristicSearch topdown goo beam_search;")
      assertReorderKeepsRows(join5)
    }
  }

  test("omitted weight/budget args reset stale confs (self-contained)") {
    withConfs {
      val s = new EngineSession(spark)
      s.execute("\\plan_enumerator HeuristicSearch bottomup goo weighted_anytimeastar 1.5 128;")
      assert(spark.conf.get(JoinReorderRule.HsWeightConf) == "1.5")
      assert(spark.conf.get(JoinReorderRule.HsBudgetConf) == "128")
      // re-selecting without weight/budget must not inherit 1.5/128
      s.execute("\\plan_enumerator HeuristicSearch bottomup goo AStar;")
      assert(spark.conf.getOption(JoinReorderRule.HsWeightConf).isEmpty)
      assert(spark.conf.getOption(JoinReorderRule.HsBudgetConf).isEmpty)
    }
  }

  test("non-HeuristicSearch names reject extra args") {
    withConfs {
      val s = new EngineSession(spark)
      intercept[SemaError](s.execute("\\plan_enumerator DPccp garbage;"))
      intercept[SemaError](s.execute("\\plan_enumerator auto bottomup;"))
      // the rejected invocation stored nothing
      assert(spark.conf.getOption(JoinReorderRule.EnumeratorConf).isEmpty)
      assert(spark.conf.getOption(JoinReorderRule.HsSpaceConf).isEmpty)
    }
  }

  test("\\cardinality_estimator CartesianProduct (results hold)") {
    withConfs {
      val s = new EngineSession(spark)
      s.execute("\\cardinality_estimator CartesianProduct;")
      assert(spark.conf.get(JoinReorderRule.EstimatorConf) == "CartesianProduct")
      assertReorderKeepsRows(join5)
    }
  }

  test("unknown component names are rejected at the instruction") {
    withConfs {
      val s = new EngineSession(spark)
      intercept[SemaError](s.execute("\\plan_enumerator NoSuchEnum;"))
      intercept[SemaError](s.execute("\\plan_enumerator HeuristicSearch bottomup goo no_such_search;"))
      intercept[SemaError](s.execute("\\cardinality_estimator NoSuchEstimator;"))
      // per-space heuristics: avg_sel exists bottom-up only (ref
      // hpp:2028), sqrt_sum top-down only (hpp:1790)
      intercept[SemaError](s.execute("\\plan_enumerator HeuristicSearch topdown avg_sel;"))
      intercept[SemaError](s.execute("\\plan_enumerator HeuristicSearch bottomup sqrt_sum;"))
      intercept[SemaError](s.execute("\\plan_enumerator HeuristicSearch sideways goo;"))
      // nothing leaked into the conf
      assert(spark.conf.getOption(JoinReorderRule.EnumeratorConf).isEmpty)
      assert(spark.conf.getOption(JoinReorderRule.EstimatorConf).isEmpty)
    }
  }

  /** Every message along an exception's cause chain. */
  private def msgs(t: Throwable): Seq[String] =
    if (t == null) Nil
    else Option(t.getMessage).toSeq ++ msgs(t.getCause)

  test("the rule consults the conf (bad value surfaces at planning)") {
    withConfs {
      spark.conf.set(JoinReorderRule.EnumeratorConf, "garbage")
      val e = intercept[Exception](join5.collect())
      assert(msgs(e).exists(_.contains("no plan enumerator")), e.toString)
    }
  }

  test("bad estimator conf surfaces even on 2-way joins") {
    withConfs {
      spark.conf.set(JoinReorderRule.EstimatorConf, "bogus")
      // a plain PK-FK join flattens to 2 leaves — below the reorder
      // threshold, but the estimator conf must still be validated
      val n = spark.read.parquet(s"$sf/nation.parquet")
      val r = spark.read.parquet(s"$sf/region.parquet")
      val e = intercept[Exception](
        n.join(r, n("n_regionkey") === r("r_regionkey")).count())
      assert(msgs(e).exists(_.contains("no cardinality estimator")), e.toString)
    }
  }

  test("resolve maps every search strategy to a working enumerator") {
    import JoinReorder._
    val rnd = new scala.util.Random(7)
    val rels = (0 until 6).map(i =>
      Rel(null, math.pow(10, 2 + rnd.nextInt(4)) * (1 + rnd.nextDouble()), i)).toVector
    val edges = (0 until 5).map(i =>
      (i, i + 1, null: org.apache.spark.sql.catalyst.expressions.Expression))
    val g = JoinGraph(rels, edges, Nil)
    val dp = JoinReorder.DPsize.enumerate(g)
    for (strategy <- JoinReorder.searchStrategies.keys) {
      val e = JoinReorder.resolve("HeuristicSearch",
        hsSearch = strategy, hsBudget = 32L)
      val t = e.enumerate(g)
      assert(t.set == dp.set, s"$strategy did not join all relations")
      assert(t.cost >= dp.cost - 1e-6, s"$strategy beat the optimum?")
    }
  }
}
