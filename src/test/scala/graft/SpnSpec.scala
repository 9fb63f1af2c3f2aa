package graft

import graft.optimizer.{Spn, SpnCatalog}
import org.scalatest.funsuite.AnyFunSuite

/** SPN cardinality estimation (ref src/util/Spn.cpp + SpnEstimator):
  * the whole point is beating the per-column independence assumption
  * on correlated filters, so that is what we assert. */
class SpnSpec extends AnyFunSuite {
  import TestSession._

  /** Strongly correlated pair: y = x + small noise. */
  private def correlatedData(n: Int): Array[Array[Double]] = {
    val rnd = new scala.util.Random(13)
    Array.fill(n) {
      val x = rnd.nextDouble() * 100
      Array(x, x + rnd.nextGaussian() * 2)
    }
  }

  test("SPN beats the independence assumption on a correlated filter") {
    val data = correlatedData(4000)
    val spn = Spn.learn(data, Vector("x", "y"))
    // P(x < 30 AND y < 30): truth ≈ P(x < 30) ≈ 0.30 because y ≈ x;
    // independence says ≈ 0.09
    val truth = data.count(r => r(0) < 30 && r(1) < 30).toDouble / data.length
    val pX = data.count(_(0) < 30).toDouble / data.length
    val pY = data.count(_(1) < 30).toDouble / data.length
    val indep = pX * pY
    val est = spn.estimate(Map(
      "x" -> (Double.NegativeInfinity, 30.0),
      "y" -> (Double.NegativeInfinity, 30.0)))
    val errSpn = math.abs(est - truth)
    val errIndep = math.abs(indep - truth)
    assert(errSpn < errIndep,
      s"SPN err $errSpn (est $est) not better than independence err $errIndep (est $indep), truth $truth")
  }

  test("SPN marginals stay accurate (single-column ranges)") {
    val data = correlatedData(4000)
    val spn = Spn.learn(data, Vector("x", "y"))
    val truth = data.count(_(0) < 50).toDouble / data.length
    val est = spn.estimate(Map("x" -> (Double.NegativeInfinity, 50.0)))
    assert(math.abs(est - truth) < 0.05, s"marginal est $est vs truth $truth")
  }

  test("the learn_spns instruction trains SPNs for the database in use") {
    SpnCatalog.clear()
    try {
      val session = new EngineSession(spark)
      session.execute("""
        CREATE DATABASE spndb; USE spndb;
        CREATE TABLE pts (x DOUBLE NOT NULL, y DOUBLE NOT NULL);""")
      val rows = correlatedData(500)
        .map(r => s"(${r(0)}, ${r(1)})").mkString(", ")
      session.execute(s"INSERT INTO pts VALUES $rows;")
      val r = session.execute("\\learn_spns;")
      assert(r.asInstanceOf[CommandOk].message.contains("1 tables"))
      val spn = SpnCatalog.get("spndb.pts")
      assert(spn.isDefined)
      val est = spn.get.estimate(Map(
        "x" -> (Double.NegativeInfinity, 30.0),
        "y" -> (Double.NegativeInfinity, 30.0)))
      assert(est > 0.15 && est < 0.45, s"joint estimate $est out of range")
    } finally SpnCatalog.clear()
  }

  test("SPN distinct-count estimates track the data") {
    val rnd = new scala.util.Random(41)
    // 2000 rows: `key` has exactly 10 distinct values (skew), `id`
    // is unique, `noise` decorrelates the matrix
    val data = Array.tabulate(2000) { i =>
      Array(i.toDouble, (rnd.nextInt(10) * 7).toDouble, rnd.nextDouble() * 100)
    }
    val spn = Spn.learn(data, Vector("id", "key", "noise"))
    val dKey = spn.estimateDistinct("key").get
    val dId = spn.estimateDistinct("id").get
    // Sum nodes may double-count values spanning row clusters (the
    // reference's estimator has the same bias, Spn.cpp:138) — assert
    // the right order of magnitude, which is what the join formula
    // needs: mf(key) ≈ 200, mf(id) ≈ 1
    assert(dKey >= 10 && dKey <= 60, s"distinct(key)=$dKey, truth 10")
    assert(dId >= 1000, s"distinct(id)=$dId, truth 2000")
    assert(spn.estimateDistinct("nope").isEmpty)
  }

  test("SPN join estimate beats independence on a skewed n:m join") {
    val rnd = new scala.util.Random(43)
    // fact-to-fact join on a low-cardinality key: 10 shared key
    // values on both sides → true cardinality ≈ |A|·|B|/10, which the
    // independence fold min(|A|,|B|) underestimates by ~10×
    val a = Array.tabulate(900)(i => Array(i.toDouble, rnd.nextInt(10).toDouble))
    val b = Array.tabulate(1000)(i => Array(i.toDouble, rnd.nextInt(10).toDouble))
    val spnA = Spn.learn(a, Vector("a_id", "k"))
    val spnB = Spn.learn(b, Vector("b_id", "k"))
    val trueCard = (for (x <- a; y <- b if x(1) == y(1)) yield 1).length.toDouble
    val indep = math.min(a.length, b.length).toDouble
    // the formula joinedCard applies through JoinGraph.edgeMf:
    val mfA = a.length / spnA.estimateDistinct("k").get
    val mfB = b.length / spnB.estimateDistinct("k").get
    val spnEst = math.min(a.length / mfA, b.length / mfB) * mfA * mfB
    assert(math.abs(spnEst - trueCard) < math.abs(indep - trueCard),
      s"SPN est $spnEst vs independence $indep, truth $trueCard")
    assert(spnEst > 3 * indep, s"SPN est $spnEst should expose the blow-up")
  }

  test("SPN join estimates steer the enumerator to the better order") {
    import graft.optimizer.JoinReorder._
    import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
    // Three relations, chain A–B–C. A⋈B is an n:m join on a
    // 10-distinct-value key shared by both sides: true card ≈
    // 80·100/10 = 800, but the independence fold prices it
    // min(80,100) = 80 — STRICTLY cheaper than B⋈C's min(100,150) =
    // 100, so the blind plan joins the exploding pair first. The
    // max-frequency estimate min(80/8, 100/10)·8·10 = 800 exposes the
    // blow-up and the informed plan starts with the flat PK-FK join
    // B⋈C instead (informed C_out 100+800=900 vs 800+150=950).
    val rels = Vector(
      Rel(null, 80.0, 0),   // A: fact, key k has 10 distinct values
      Rel(null, 100.0, 1),  // B: fact, same k, 10 distinct; fk → C PK
      Rel(null, 150.0, 2))  // C: dim, PK
    val e: Expression = Literal(true) // edge payload unused here
    val edges = Seq((0, 1, e), (1, 2, e))
    val mf = Map((0, 1) -> (8.0, 10.0), (1, 2) -> (1.0, 1.0))

    def firstJoin(t: JoinTree): Set[Int] = t match {
      case Node(l: Leaf, r: Leaf, _) => Set(l.r.idx, r.r.idx)
      case Node(n: Node, _, _) => firstJoin(n)
      case Node(_, n: Node, _) => firstJoin(n)
      case Leaf(r) => Set(r.idx)
    }

    val blind = DPsize.enumerate(JoinGraph(rels, edges, Nil))
    val informed = DPsize.enumerate(JoinGraph(rels, edges, Nil, edgeMf = mf))
    assert(firstJoin(blind) == Set(0, 1),
      s"independence should (wrongly) join A⋈B first, got ${firstJoin(blind)}")
    assert(firstJoin(informed) == Set(1, 2),
      s"informed plan should join B⋈C first, got ${firstJoin(informed)}")
  }

  test("SPN grouping and limit estimates mirror the reference interface") {
    // k: 10 distinct values, v: ~unique — ref estimate_grouping is the
    // product of per-key distinct counts (CardinalityEstimator.cpp:646)
    val rnd = new scala.util.Random(17)
    val data = Array.tabulate(2000)(i =>
      Array((i % 10).toDouble, i.toDouble, rnd.nextDouble()))
    val spn = Spn.learn(data, Vector("k", "v", "noise"))
    val gK = spn.estimateGrouping(Seq("k"))
    assert(math.abs(gK - 10.0) <= 2.0, s"grouping on k: $gK")
    // multi-key: product of the two distinct counts
    val gKV = spn.estimateGrouping(Seq("k", "v"))
    assert(gKV >= gK * 100, s"k×v product missing: $gKV")
    // uncovered key → primary key → num_rows (ref :665)
    val gPk = spn.estimateGrouping(Seq("not_a_column"))
    assert(math.abs(gPk - spn.numRows) < 1e-9)
    // empty key set = the single global group
    assert(spn.estimateGrouping(Nil) == 1.0)
    // limit arithmetic (ref :639, offset per CartesianProduct :89)
    assert(Spn.estimateLimit(1000.0, 10) == 10.0)
    assert(Spn.estimateLimit(5.0, 10) == 5.0)
    assert(Spn.estimateLimit(1000.0, 10, offset = 995) == 5.0)
    assert(Spn.estimateLimit(1000.0, 10, offset = 2000) == 0.0)
  }

  test("unknown instructions are rejected like the reference") {
    val session = new EngineSession(spark)
    intercept[graft.analyzer.SemaError] {
      session.execute("\\not_an_instruction;")
    }
  }

  test("SPN-fed reordering keeps results identical (correctness is invariant)") {
    SpnCatalog.clear()
    try {
      // learn SPNs over the driver tables; only the run with the rule
      // reads them
      val s = EngineSession.withTestdata(spark, sf)
      s.execute("\\learn_spns;")
      assert(SpnCatalog.keys.nonEmpty)
      assertReorderKeepsRows(operators.Relational.join5Way(spark, sf))
    } finally SpnCatalog.clear()
  }
}
