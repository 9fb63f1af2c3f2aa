package graft.optimizer

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, Expression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, GlobalLimit, Join, JoinHint, LocalLimit, LogicalPlan, Offset, Project}
import org.apache.spark.sql.catalyst.rules.Rule

/** Join-order optimization re-expressing the reference's research core
  * (ref /root/reference/src/IR/PlanEnumerator.cpp — DPsize at :69, GOO
  * at :684; cost model CostFunctionCout, include/mutable/catalog/
  * CostFunctionCout.hpp:10-14: C_out = Σ intermediate cardinalities).
  *
  * The rule extracts a flat inner-equi-join graph from a Catalyst plan,
  * enumerates orders with DPsize (exact DP over connected subsets, used
  * up to [[JoinGraph.DpLimit]] relations) or GOO (greedy operator
  * ordering beyond that), and rebuilds the join tree. Cardinalities
  * come from Catalyst's logical statistics (sizeInBytes; rowCount when
  * CBO stats exist) with the classic |L⋈R| = |L|·|R| / max(|L|,|R|)
  * equi-join estimate.
  *
  * Injected via [[GraftExtensions]] (SparkSessionExtensions) — opt-in,
  * the shape the reference gives its pluggable PlanEnumerator catalog
  * components (Catalog.hpp:440-490).
  */
object JoinReorder {

  /** One relation (leaf) in the join graph. */
  final case class Rel(plan: LogicalPlan, card: Double, idx: Int)

  /** Extracted join graph: relations + equi-join edges + residual
    * conditions that reference >2 relations. `inject` optionally maps
    * whole subproblems (sets of relation indices) to cardinalities —
    * the ref's InjectionCardinalityEstimator at full granularity
    * (CardinalityEstimator.hpp:227: per-subproblem sizes from a JSON
    * file, used for optimizer experiments with [[CardinalityGen]]).
    * Empty in production: the independence formula applies.
    *
    * `edgeMf` optionally carries, per edge keyed like `edges`, the
    * MAX FREQUENCY of the join attribute on each endpoint's base
    * relation — rows / SPN-estimated distinct count, the ingredient of
    * the reference's SPN join estimate (SpnEstimator::max_frequency,
    * ref src/catalog/CardinalityEstimator.cpp:563-571). Populated by
    * [[JoinReorderRule]] when `\learn_spns` has trained models; empty
    * otherwise (the min-card fold applies). */
  final case class JoinGraph(rels: Vector[Rel],
      edges: Seq[(Int, Int, Expression)], residual: Seq[Expression],
      inject: Map[Set[Int], Double] = Map.empty,
      edgeMf: Map[(Int, Int), (Double, Double)] = Map.empty,
      // ref CartesianProductEstimator (CardinalityEstimator.cpp:802):
      // every join priced as |L|·|R|, selectivities ignored
      cartesian: Boolean = false) {
    /** Per-relation neighbor bitmasks (graphs with ≤ 64 relations):
      * the search/heuristic hot paths test connectivity per candidate
      * pair, and an edge-list scan with Set.contains there made
      * beam-search time out on clique-15 where the SIGMOD'23 numbers
      * are milliseconds. Empty beyond 64 relations (callers fall back
      * to the edge scan). */
    lazy val adjMask: Array[Long] = {
      val a = new Array[Long](rels.length)
      if (rels.length <= 64)
        edges.foreach { case (x, y, _) => a(x) |= 1L << y; a(y) |= 1L << x }
      a
    }
  }

  object JoinGraph {
    val DpLimit = 12

    /** Cardinality of a subset join (C_out building block). */
    def joinCard(cardA: Double, cardB: Double): Double =
      (cardA * cardB) / math.max(1.0, math.max(cardA, cardB))
  }

  /** A plan enumerator maps a join graph to a join order: a binary
    * tree over relation indices. Mirrors the reference's pluggable
    * `PlanEnumerator` interface. */
  sealed trait JoinTree {
    def card: Double; def cost: Double; def set: Set[Int]
    /** Bitmask twin of `set` for ≤ 64 relations (hot-path
      * connectivity); bits beyond index 63 are dropped. */
    def mask: Long
  }
  final case class Leaf(r: Rel) extends JoinTree {
    def card: Double = r.card; def cost: Double = 0.0
    val set = Set(r.idx)
    val mask: Long = if (r.idx < 64) 1L << r.idx else 0L
  }
  final case class Node(l: JoinTree, r: JoinTree, card: Double) extends JoinTree {
    def cost: Double = l.cost + r.cost + card // C_out
    lazy val set: Set[Int] = l.set ++ r.set
    val mask: Long = l.mask | r.mask
  }

  trait PlanEnumerator {
    def name: String
    def enumerate(g: JoinGraph): JoinTree
  }

  private def connected(g: JoinGraph, a: Set[Int], b: Set[Int]): Boolean =
    g.edges.exists { case (x, y, _) =>
      (a.contains(x) && b.contains(y)) || (a.contains(y) && b.contains(x))
    }

  /** Connectivity of two subtrees via precomputed neighbor bitmasks —
    * OR the left side's adjacency rows, intersect with the right's
    * membership mask. Popcount-bounded, no edge scan, no Set ops. */
  private def connectedTrees(g: JoinGraph, l: JoinTree, r: JoinTree): Boolean =
    if (g.rels.length <= 64) {
      val adj = g.adjMask
      var rem = l.mask
      var acc = 0L
      while (rem != 0L) {
        acc |= adj(java.lang.Long.numberOfTrailingZeros(rem))
        rem &= rem - 1
      }
      (acc & r.mask) != 0L
    } else connected(g, l.set, r.set)

  /** Thrown out of the enumeration hot path when the running thread
    * has been interrupted. Exponential enumerators (DPsize on an n=17
    * clique…) have no natural yield point, so a benchmark harness that
    * abandons an over-budget thread leaves it SPINNING until JVM exit
    * — round 11's 20 s-budget ENUMBENCH run accumulated enough
    * abandoned daemon threads to steal 20 cores and stall the
    * remaining timed runs. Cooperative cancellation instead: the two
    * functions every enumerator's inner loop goes through
    * ([[joinedCard]] for bottom-up DP/greedy/HS, [[minCutAGaT]] for
    * the top-down family) poll the interrupt flag — one intrinsified
    * volatile read per candidate — and unwind with this exception.
    * Stackless: thrown hot, never inspected. */
  final class EnumerationCancelled
    extends RuntimeException("enumeration cancelled", null, false, false)

  @inline private def checkCancelled(): Unit =
    if (Thread.currentThread().isInterrupted) throw new EnumerationCancelled

  private def joinedCard(g: JoinGraph, l: JoinTree, r: JoinTree): Double = {
    checkCancelled()
    joinedCard0(g, l, r)
  }

  private def joinedCard0(g: JoinGraph, l: JoinTree, r: JoinTree): Double =
    if (g.cartesian) l.card * r.card
    else (if (g.inject.isEmpty) None else g.inject.get(l.set ++ r.set)) match {
      case Some(c) => c // injected subproblem cardinality wins
      case None =>
        if (!connectedTrees(g, l, r))
          l.card * r.card // cross product — heavily penalized by C_out
        else if (g.edgeMf.isEmpty)
          // no SPN info anywhere: independence fold, skip the edge scan
          JoinGraph.joinCard(l.card, r.card)
        else {
          // SPN join estimate via distinct counts (ref SpnEstimator::
          // estimate_join, src/catalog/CardinalityEstimator.cpp:480-496
          // after http://www.cidrdb.org/cidr2021/papers/
          // cidr2021_paper01.pdf): with mf = max frequency of the join
          // attribute, |L ⋈ R| = min(|L|/mfL, |R|/mfR) · mfL · mfR —
          // the number of shared keys times the per-key fan-out. With
          // mf = 1 both sides (all-PK) this degenerates to
          // min(|L|, |R|), exactly the independence fold joinCard uses,
          // so edges without SPN info stay on the historical formula.
          val spnEsts = g.edges.flatMap { case (x, y, _) =>
            val lx = l.set.contains(x) && r.set.contains(y)
            val ly = l.set.contains(y) && r.set.contains(x)
            if (!lx && !ly) None
            else g.edgeMf.get((x, y)).map { case (mfX, mfY) =>
              val (mfL, mfR) = if (lx) (mfX, mfY) else (mfY, mfX)
              math.min(l.card / mfL, r.card / mfR) * mfL * mfR
            }
          }
          if (spnEsts.nonEmpty) math.max(1.0, spnEsts.min)
          else JoinGraph.joinCard(l.card, r.card)
        }
    }

  /** DPsize (ref PlanEnumerator.cpp:69): dynamic programming over
    * subset sizes; exact w.r.t. the cost model. Exponential — used up
    * to DpLimit relations. On a connected join graph the split is
    * gated on `is_connected(S1, S2)` exactly like the reference
    * (PlanEnumerator.cpp:92-93) — the plan space excludes cross
    * products (only PEall deliberately includes them, ref :33); on a
    * disconnected graph the gate is dropped so cross products remain
    * reachable (cost still penalizes them). */
  object DPsize extends PlanEnumerator {
    val name = "DPsize"
    def enumerate(g: JoinGraph): JoinTree = {
      val n = g.rels.length
      val gate = n <= 30 && maskConnected(adjMaskOf(g), (1 << n) - 1)
      val best = collection.mutable.Map.empty[Set[Int], JoinTree]
      g.rels.foreach(r => best(Set(r.idx)) = Leaf(r))
      for (size <- 2 to n) {
        val subsets = (0 until n).combinations(size).map(_.toSet)
        for (s <- subsets) {
          var bestTree: JoinTree = null
          // split into (left, right): iterate proper non-empty subsets
          val members = s.toVector
          val limit = 1 << members.length
          var mask = 1
          while (mask < limit - 1) {
            val left = members.indices.collect {
              case i if (mask & (1 << i)) != 0 => members(i)
            }.toSet
            val right = s -- left
            // left always contains min(s): halves the enumeration,
            // loses only the mirror tree (same cost under C_out)
            if (left.contains(s.min)) {
              (best.get(left), best.get(right)) match {
                case (Some(lt), Some(rt)) =>
                  // ref :92-93: skip disconnected splits on connected graphs
                  if (!gate || connectedTrees(g, lt, rt)) {
                    val card = joinedCard(g, lt, rt)
                    val cand = Node(lt, rt, card)
                    if (bestTree == null || cand.cost < bestTree.cost)
                      bestTree = cand
                  }
                case _ => ()
              }
            }
            mask += 1
          }
          if (bestTree != null) best(s) = bestTree
        }
      }
      best((0 until n).toSet)
    }
  }

  /** GOO — greedy operator ordering (ref PlanEnumerator.cpp:684):
    * repeatedly join the pair with the smallest result cardinality.
    * O(n³), used beyond DpLimit. */
  object GOO extends PlanEnumerator {
    val name = "GOO"
    def enumerate(g: JoinGraph): JoinTree =
      gooMerge(g, g.rels.map(Leaf(_): JoinTree))
  }

  /** Greedy merge of a forest down to one tree — GOO's inner loop,
    * shared with the heuristic search's anytime path completion (ref
    * goo_path_completion, HeuristicSearchPlanEnumerator.hpp:2184). */
  private def gooMerge(g: JoinGraph, start: Vector[JoinTree]): JoinTree = {
    var forest = start
    while (forest.length > 1) {
      var bi = 0; var bj = 1
      var bestCard = Double.MaxValue
      for (i <- forest.indices; j <- (i + 1) until forest.length) {
        val c = joinedCard(g, forest(i), forest(j))
        if (c < bestCard) { bestCard = c; bi = i; bj = j }
      }
      val merged = Node(forest(bi), forest(bj), bestCard)
      forest = forest.zipWithIndex
        .collect { case (t, k) if k != bi && k != bj => t } :+ merged
    }
    forest.head
  }

  /** Estimated cardinality of joining ALL relations — the ref's
    * `estimate_join_all` (CardinalityEstimator.hpp) under our
    * independence fold: a connected component collapses to its minimum
    * leaf cardinality (joinCard(a,b) = min(a,b)); disconnected
    * components cross-product. Injection overrides when present. */
  private def cardAllOf(g: JoinGraph): Double =
    g.inject.getOrElse(g.rels.indices.toSet, {
      val adj = adjSetsOf(g)
      val seen = Array.fill(g.rels.length)(false)
      var prod = 1.0
      for (i <- g.rels.indices if !seen(i)) {
        seen(i) = true
        var frontier = List(i)
        var minCard = g.rels(i).card
        while (frontier.nonEmpty) {
          val u = frontier.head; frontier = frontier.tail
          adj(u).foreach { v =>
            if (!seen(v)) {
              seen(v) = true; frontier ::= v
              minCard = math.min(minCard, g.rels(v).card)
            }
          }
        }
        prod *= minCard
      }
      prod
    })

  /** PEall (ref PlanEnumerator.cpp:33): exhaustive enumeration of
    * every binary join tree — the reference ships it as the testing
    * oracle for the other enumerators, and so do we
    * (JoinReorderSpec uses it as the brute-force ground truth). */
  object PEall extends PlanEnumerator {
    val name = "PEall"
    def enumerate(g: JoinGraph): JoinTree = {
      val memo = collection.mutable.Map.empty[Set[Int], JoinTree]
      def solve(s: Set[Int]): JoinTree = memo.getOrElseUpdate(s, {
        if (s.size == 1) Leaf(g.rels(s.head))
        else {
          var best: JoinTree = null
          val members = s.toVector
          for (mask <- 1 until (1 << members.length) - 1) {
            val left = members.indices.collect {
              case i if (mask & (1 << i)) != 0 => members(i)
            }.toSet
            if (left.contains(s.min)) { // halve: mirror trees cost alike
              val (lt, rt) = (solve(left), solve(s -- left))
              val cand = Node(lt, rt, joinedCard(g, lt, rt))
              if (best == null || cand.cost < best.cost) best = cand
            }
          }
          best
        }
      })
      solve(g.rels.indices.toSet)
    }
  }

  // ---- shared bitmask helpers for the subset-DP / top-down family ----

  /** Adjacency as bitmasks: adjMask(i) = OR of 1<<j over neighbors j. */
  private def adjMaskOf(g: JoinGraph): Array[Int] = {
    val a = new Array[Int](g.rels.length)
    g.edges.foreach { case (x, y, _) => a(x) |= 1 << y; a(y) |= 1 << x }
    a
  }

  /** Is there an edge between the disjoint masks `m1` and `m2`? (ref
    * AdjacencyMatrix::is_connected(S1, S2) as used by the DP gates,
    * PlanEnumerator.cpp:92-93,136,151.) */
  private def maskPairConnected(adjMask: Array[Int], m1: Int, m2: Int): Boolean = {
    var acc = 0
    var f = m1
    while (f != 0) {
      acc |= adjMask(Integer.numberOfTrailingZeros(f))
      f &= f - 1
    }
    (acc & m2) != 0
  }

  /** Is the relation set `m` connected under `adjMask`? */
  private def maskConnected(adjMask: Array[Int], m: Int): Boolean = {
    if (m == 0) return false
    val start = m & -m
    var seen = start
    var frontier = start
    while (frontier != 0) {
      var next = 0
      var f = frontier
      while (f != 0) {
        next |= adjMask(Integer.numberOfTrailingZeros(f))
        f &= f - 1
      }
      next &= m & ~seen
      seen |= next
      frontier = next
    }
    seen == m
  }

  /** DPsizeOpt (ref PlanEnumerator.cpp:110): size-based DP that never
    * enumerates symmetric subproblems — s1 runs only to s/2, and for
    * equal-size halves only subsets succeeding the first are paired
    * (join commutativity makes the mirror redundant under C_out). */
  object DPsizeOpt extends PlanEnumerator {
    val name = "DPsizeOpt"
    def enumerate(g: JoinGraph): JoinTree = {
      val n = g.rels.length
      require(n <= 30, "DPsizeOpt is exponential; guard small n")
      val adjMask = adjMaskOf(g)
      // ref PlanEnumerator.cpp:136,151: splits gated on
      // is_connected(S1, S2); dropped on disconnected graphs where
      // cross products are unavoidable (cost still penalizes them)
      val gate = maskConnected(adjMask, (1 << n) - 1)
      val best = new Array[JoinTree](1 << n)
      g.rels.foreach(r => best(1 << r.idx) = Leaf(r))
      val buckets = {
        val b = Array.fill(n + 1)(Vector.newBuilder[Int])
        for (m <- 1 until (1 << n)) b(Integer.bitCount(m)) += m
        b.map(_.result())
      }
      for (s <- 2 to n; s1 <- 1 to s / 2) {
        val s2 = s - s1
        for (m1 <- buckets(s1) if best(m1) != null;
             m2 <- buckets(s2)
             if (s1 != s2 || m2 > m1) && (m1 & m2) == 0 && best(m2) != null
             if !gate || maskPairConnected(adjMask, m1, m2)) {
          val cand = Node(best(m1), best(m2), joinedCard(g, best(m1), best(m2)))
          val tgt = m1 | m2
          if (best(tgt) == null || cand.cost < best(tgt).cost) best(tgt) = cand
        }
      }
      best((1 << n) - 1)
    }
  }

  /** DPsizeSub (ref PlanEnumerator.cpp:166): size-based outer loop, but
    * each connected subset enumerates its subset-complement pairs with
    * the (O − S) & S trick instead of pairing independent size buckets. */
  object DPsizeSub extends PlanEnumerator {
    val name = "DPsizeSub"
    def enumerate(g: JoinGraph): JoinTree = {
      val n = g.rels.length
      require(n <= 30, "DPsizeSub is exponential; guard small n")
      val adjMask = adjMaskOf(g)
      // on a disconnected graph cross products are unavoidable — drop
      // the connectivity gate (cost still penalizes them)
      val gate = maskConnected(adjMask, (1 << n) - 1)
      val best = new Array[JoinTree](1 << n)
      g.rels.foreach(r => best(1 << r.idx) = Leaf(r))
      val buckets = {
        val b = Array.fill(n + 1)(Vector.newBuilder[Int])
        for (m <- 1 until (1 << n)) b(Integer.bitCount(m)) += m
        b.map(_.result())
      }
      for (s <- 2 to n; m <- buckets(s) if !gate || maskConnected(adjMask, m)) {
        var o = m & -m // least_subset
        while (o != m) {
          val comp = m ^ o
          if (best(o) != null && best(comp) != null) {
            val cand = Node(best(o), best(comp), joinedCard(g, best(o), best(comp)))
            if (best(m) == null || cand.cost < best(m).cost) best(m) = cand
          }
          o = (o - m) & m // next_subset
        }
      }
      best((1 << n) - 1)
    }
  }

  /** DPsubOpt (ref PlanEnumerator.cpp:236): DPsub without symmetric
    * subproblems — subset enumeration stops at the singleton of the
    * highest set bit, so the complement always carries that bit. */
  object DPsubOpt extends PlanEnumerator {
    val name = "DPsubOpt"
    def enumerate(g: JoinGraph): JoinTree = {
      val n = g.rels.length
      require(n <= 30, "DPsubOpt is exponential; guard small n")
      val adjMask = adjMaskOf(g)
      val gate = maskConnected(adjMask, (1 << n) - 1)
      val best = new Array[JoinTree](1 << n)
      g.rels.foreach(r => best(1 << r.idx) = Leaf(r))
      var m = 1
      while (m < (1 << n)) {
        if (Integer.bitCount(m) > 1 && (!gate || maskConnected(adjMask, m))) {
          val limit = Integer.highestOneBit(m)
          var o = m & -m
          while (o != limit) {
            val comp = m ^ o
            if (best(o) != null && best(comp) != null) {
              val cand = Node(best(o), best(comp), joinedCard(g, best(o), best(comp)))
              if (best(m) == null || cand.cost < best(m).cost) best(m) = cand
            }
            o = (o - m) & m
          }
        }
        m += 1
      }
      best((1 << n) - 1)
    }
  }

  /** DPsub (ref PlanEnumerator.cpp:201): subset-order DP — iterate
    * subsets in increasing bit order, split each connected subset into
    * plan-bearing halves. Same optimum as DPsize, different
    * enumeration order (the classic Vance/Maier formulation). */
  object DPsub extends PlanEnumerator {
    val name = "DPsub"
    def enumerate(g: JoinGraph): JoinTree = {
      val n = g.rels.length
      require(n <= 30, "DPsub is exponential; guard small n")
      val adjMask = adjMaskOf(g)
      // ref PlanEnumerator.cpp:225: subsets gated on is_connected(S)
      // (halves' connectivity then implied — the ref M_insist);
      // dropped on disconnected graphs where cross products are
      // unavoidable (cost still penalizes them)
      val gate = maskConnected(adjMask, (1 << n) - 1)
      val best = new Array[JoinTree](1 << n)
      g.rels.foreach(r => best(1 << r.idx) = Leaf(r))
      var s = 1
      while (s < (1 << n)) {
        if (Integer.bitCount(s) > 1 && (!gate || maskConnected(adjMask, s))) {
          // iterate proper non-empty subsets of s
          var s1 = (s - 1) & s
          while (s1 != 0) {
            val s2 = s ^ s1
            if (s1 < s2 || best(s) == null) { // dedupe mirror splits
              val (lt, rt) = (best(s1), best(s2))
              if (lt != null && rt != null) {
                val cand = Node(lt, rt, joinedCard(g, lt, rt))
                if (best(s) == null || cand.cost < best(s).cost) best(s) = cand
              }
            }
            s1 = (s1 - 1) & s
          }
        }
        s += 1
      }
      best((1 << n) - 1)
    }
  }

  /** DPccp (ref PlanEnumerator.cpp:275; Moerkotte & Neumann,
    * "Analysis of Two Existing and One New DP Algorithm…"): enumerate
    * exactly the connected-subgraph / connected-complement pairs, so
    * no time is wasted on disconnected splits. Falls back to DPsize
    * when the join graph itself is disconnected (cross products). */
  object DPccp extends PlanEnumerator {
    val name = "DPccp"

    /** csg-cmp pairs actually enumerated in the last run (the metric
      * the reference's enumerator comparisons count). */
    var lastPairs: Int = 0

    def enumerate(g: JoinGraph): JoinTree = {
      val n = g.rels.length
      lastPairs = 0
      val adj: Array[Set[Int]] = {
        val a = Array.fill(n)(Set.empty[Int])
        g.edges.foreach { case (x, y, _) =>
          a(x) += y; a(y) += x
        }
        a
      }
      def neighbors(s: Set[Int]): Set[Int] = s.flatMap(adj) -- s
      // connectivity check for the whole graph → fallback
      def component(from: Int): Set[Int] = {
        var seen = Set(from); var frontier = Set(from)
        while (frontier.nonEmpty) {
          val next = frontier.flatMap(adj) -- seen
          seen ++= next; frontier = next
        }
        seen
      }
      if (n > 0 && component(0).size < n) return DPsize.enumerate(g)

      val best = collection.mutable.Map.empty[Set[Int], JoinTree]
      g.rels.foreach(r => best(Set(r.idx)) = Leaf(r))

      def emit(s1: Set[Int], s2: Set[Int]): Unit = {
        lastPairs += 1
        (best.get(s1), best.get(s2)) match {
          case (Some(lt), Some(rt)) =>
            val s = s1 ++ s2
            val cand = Node(lt, rt, joinedCard(g, lt, rt))
            if (!best.contains(s) || cand.cost < best(s).cost) best(s) = cand
          case _ => ()
        }
      }

      /** Enumerate connected supersets of `s` avoiding `x`, calling
        * `f` on each (including `s` itself). */
      def csgRec(s: Set[Int], x: Set[Int])(f: Set[Int] => Unit): Unit = {
        val ns = (neighbors(s) -- x).toVector.sorted
        // all non-empty subsets of the neighborhood
        val m = ns.length
        var mask = 1
        while (mask < (1 << m)) {
          val sub = (0 until m).collect {
            case i if (mask & (1 << i)) != 0 => ns(i)
          }.toSet
          f(s ++ sub)
          mask += 1
        }
        mask = 1
        while (mask < (1 << m)) {
          val sub = (0 until m).collect {
            case i if (mask & (1 << i)) != 0 => ns(i)
          }.toSet
          csgRec(s ++ sub, x ++ ns)(f)
          mask += 1
        }
      }

      def forEachCsg(f: Set[Int] => Unit): Unit = {
        var i = n - 1
        while (i >= 0) {
          val bi = (0 to i).toSet
          f(Set(i))
          csgRec(Set(i), bi)(f)
          i -= 1
        }
      }

      forEachCsg { s1 =>
        val min = s1.min
        val x = (0 to min).toSet ++ s1
        val ns = (neighbors(s1) -- x).toVector.sorted.reverse
        ns.foreach { j =>
          emit(s1, Set(j))
          // B_i(N) exclusion per Moerkotte-Neumann EnumerateCmp:
          // neighbors of S1 with index ≤ j are handled by their own
          // (earlier, descending) iterations
          csgRec(Set(j), x ++ ns.filter(_ <= j))(s2 => emit(s1, s2))
        }
      }
      best.getOrElse((0 until n).toSet, DPsize.enumerate(g))
    }
  }

  /** LinearizedDP (ref PlanEnumerator.cpp:457; Neumann & Radke,
    * "Adaptive Optimization of Very Large Join Queries"): fix the
    * IKKBZ linearization, then run interval DP (matrix-chain style)
    * over it — the best BUSHY tree consistent with that linear order,
    * in O(n³) instead of exponential. */
  object LinearizedDP extends PlanEnumerator {
    val name = "LinearizedDP"
    def enumerate(g: JoinGraph): JoinTree = {
      val order: Vector[Int] = {
        def leaves(t: JoinTree): Vector[Int] = t match {
          case Leaf(r) => Vector(r.idx)
          case Node(l, r, _) => leaves(l) ++ leaves(r)
        }
        leaves(IKKBZ.enumerate(g))
      }
      val n = order.length
      val best = Array.ofDim[JoinTree](n, n)
      for (i <- 0 until n) best(i)(i) = Leaf(g.rels(order(i)))
      for (len <- 2 to n; i <- 0 to n - len) {
        val j = i + len - 1
        var bt: JoinTree = null
        for (k <- i until j) {
          val (lt, rt) = (best(i)(k), best(k + 1)(j))
          val cand = Node(lt, rt, joinedCard(g, lt, rt))
          if (bt == null || cand.cost < bt.cost) bt = cand
        }
        best(i)(j) = bt
      }
      best(0)(n - 1)
    }
  }

  /** TDbasic (ref PlanEnumerator.cpp:597): memoized top-down
    * partitioning — recursively split each connected relation set into
    * two connected halves, keep the cheapest. Same optimum as the
    * bottom-up DPs; the top-down direction is what enables
    * branch-and-bound pruning in the reference's TD variants. */
  object TDbasic extends PlanEnumerator {
    val name = "TDbasic"

    /** Candidate splits examined in the last run (generate-and-test
      * work — the metric the TD-variant comparisons count). */
    var lastExamined: Long = 0L

    def enumerate(g: JoinGraph): JoinTree = {
      lastExamined = 0L
      val n = g.rels.length
      val adj: Array[Set[Int]] = {
        val a = Array.fill(n)(Set.empty[Int])
        g.edges.foreach { case (x, y, _) => a(x) += y; a(y) += x }
        a
      }
      def isConnected(s: Set[Int]): Boolean = {
        if (s.isEmpty) return false
        var seen = Set(s.head); var frontier = Set(s.head)
        while (frontier.nonEmpty) {
          val next = frontier.flatMap(adj).intersect(s) -- seen
          seen ++= next; frontier = next
        }
        seen == s
      }
      val wholeConnected = isConnected((0 until n).toSet)
      val memo = collection.mutable.Map.empty[Set[Int], JoinTree]
      def solve(s: Set[Int]): JoinTree = memo.getOrElseUpdate(s, {
        if (s.size == 1) Leaf(g.rels(s.head))
        else {
          var best: JoinTree = null
          val members = s.toVector
          for (mask <- 1 until (1 << members.length) - 1) {
            val left = members.indices.collect {
              case i if (mask & (1 << i)) != 0 => members(i)
            }.toSet
            if (left.contains(s.min)) {
              lastExamined += 1
              val right = s -- left
              // on a connected graph only connected partitions are
              // considered (the TD pruning); on a disconnected graph
              // cross products are unavoidable → allow all splits
              if (!wholeConnected || (isConnected(left) && isConnected(right))) {
                val (lt, rt) = (solve(left), solve(right))
                val cand = Node(lt, rt, joinedCard(g, lt, rt))
                if (best == null || cand.cost < best.cost) best = cand
              }
            }
          }
          best
        }
      })
      solve((0 until n).toSet)
    }
  }

  /** MinCutAGaT (ref include/mutable/util/MinCutAGaT.hpp): enumerate
    * exactly the connected-subgraph/connected-complement partitions of
    * a connected set `s` by advanced generate-and-test over minimal
    * graph cuts. `examined` counts worklist entries processed (the
    * work metric the top-down comparisons use). Callback receives
    * (C, S∖C) pairs. */
  private def minCutAGaT(adj: Array[Set[Int]], s: Set[Int])(
      callback: (Set[Int], Set[Int]) => Unit): Long = {
    var examined = 0L
    // (C, X, T): growing connected component, excluded set, test set
    var work = List((Set(s.min), Set.empty[Int], Set(s.min)))
    while (work.nonEmpty) {
      checkCancelled()
      val (c, x, t) = work.head
      work = work.tail
      examined += 1
      // IsConnectedImp: S∖C is connected iff the neighborhood of T is
      // reachable from one of its members inside S∖C
      val nT = (t.flatMap(adj) intersect s) -- c
      val isConn = nT.size <= 1 || {
        val within = s -- c
        var seen = Set(nT.head); var frontier = seen
        while (frontier.nonEmpty) {
          val next = frontier.flatMap(adj).intersect(within) -- seen
          seen ++= next; frontier = next
        }
        nT.subsetOf(seen)
      }
      var tTmp = Set.empty[Int]
      if (isConn) callback(c, s -- c) else tTmp = c
      if (c.size + 1 < s.size) {
        var xTmp = x
        val nC = (c.flatMap(adj) intersect s) -- x -- c
        for (v <- nC.toSeq.sorted) {
          work = (c + v, xTmp, tTmp + v) :: work
          xTmp += v
        }
      }
    }
    examined
  }

  private def adjSetsOf(g: JoinGraph): Array[Set[Int]] = {
    val a = Array.fill(g.rels.length)(Set.empty[Int])
    g.edges.foreach { case (x, y, _) => a(x) += y; a(y) += x }
    a
  }

  private def isConnectedSet(adj: Array[Set[Int]], s: Set[Int]): Boolean = {
    if (s.isEmpty) return false
    var seen = Set(s.head); var frontier = seen
    while (frontier.nonEmpty) {
      val next = frontier.flatMap(adj).intersect(s) -- seen
      seen ++= next; frontier = next
    }
    seen == s
  }

  /** TDMinCutAGaT (ref PlanEnumerator.cpp:643): memoized top-down
    * enumeration whose partitioning is [[minCutAGaT]] instead of
    * TDbasic's try-every-subset — same optimum, far fewer candidate
    * splits examined on chains/stars. Falls back to TDbasic when the
    * graph is disconnected (the cut algorithm needs connectivity). */
  object TDMinCutAGaT extends PlanEnumerator {
    val name = "TDMinCutAGaT"

    /** Worklist entries processed by the cut partitioner last run. */
    var lastExamined: Long = 0L

    def enumerate(g: JoinGraph): JoinTree = {
      lastExamined = 0L
      val n = g.rels.length
      if (n == 1) return Leaf(g.rels.head)
      val adj = adjSetsOf(g)
      val all = (0 until n).toSet
      if (!isConnectedSet(adj, all)) return TDbasic.enumerate(g)
      val memo = collection.mutable.Map.empty[Set[Int], JoinTree]
      g.rels.foreach(r => memo(Set(r.idx)) = Leaf(r))
      def solve(s: Set[Int]): JoinTree = memo.get(s) match {
        case Some(t) => t
        case None =>
          var best: JoinTree = null
          lastExamined += minCutAGaT(adj, s) { (c, comp) =>
            val (lt, rt) = (solve(c), solve(comp))
            val cand = Node(lt, rt, joinedCard(g, lt, rt))
            if (best == null || cand.cost < best.cost) best = cand
          }
          memo(s) = best
          best
      }
      solve(all)
    }
  }

  /** TDGOO (ref PlanEnumerator.cpp:707 + PlanEnumerator.hpp:163):
    * top-down greedy operator ordering — repeatedly cut the current
    * subproblem with the minimal combined-cardinality partition (found
    * by [[minCutAGaT]]), then emit the saved joins bottom-up. Greedy
    * like GOO but splits from the top, so it examines one cut
    * enumeration per join instead of all pairs per merge. */
  object TDGOO extends PlanEnumerator {
    val name = "TDGOO"

    /** Worklist entries processed by the cut partitioner last run. */
    var lastExamined: Long = 0L

    def enumerate(g: JoinGraph): JoinTree = {
      lastExamined = 0L
      val n = g.rels.length
      if (n == 1) return Leaf(g.rels.head)
      val adj = adjSetsOf(g)
      val all = (0 until n).toSet
      if (!isConnectedSet(adj, all)) return GOO.enumerate(g)
      // cut metric: cartesian fold (product of leaf cardinalities),
      // mirroring the reference's estimate_join_all under its default
      // CartesianProductEstimator — minimizing the sum of side products
      // peels the largest relations off at the top, i.e. joins them
      // last (double overflow saturates to ∞, which still orders cuts)
      def subsetCard(s: Set[Int]): Double =
        s.iterator.map(i => math.max(1.0, g.rels(i).card)).product
      var worklist = List(all)
      val joins = collection.mutable.Buffer.empty[(Set[Int], Set[Int])]
      while (worklist.nonEmpty) {
        val top = worklist.head
        worklist = worklist.tail
        if (top.size > 1) {
          var cMin = Double.PositiveInfinity
          var minL: Set[Int] = null; var minR: Set[Int] = null
          lastExamined += minCutAGaT(adj, top) { (l, r) =>
            val c = subsetCard(l) + subsetCard(r)
            // minL==null guard: if every cut saturates to ∞ (product
            // overflow on huge graphs), still take the first one
            if (minL == null || c < cMin) { cMin = c; minL = l; minR = r }
          }
          joins += ((minL, minR))
          worklist = minL :: minR :: worklist
        }
      }
      // replay the saved cuts bottom-up into a join tree
      val treeOf = collection.mutable.Map.empty[Set[Int], JoinTree]
      g.rels.foreach(r => treeOf(Set(r.idx)) = Leaf(r))
      joins.reverseIterator.foreach { case (l, r) =>
        val (lt, rt) = (treeOf(l), treeOf(r))
        treeOf(l ++ r) = Node(lt, rt, joinedCard(g, lt, rt))
      }
      treeOf(all)
    }
  }

  /** IKKBZ (ref PlanEnumerator.cpp:298; Krishnamurthy, Boral &
    * Zaniolo): polynomial left-deep ordering for (near-)acyclic
    * graphs. Like the reference: build the minimum spanning tree
    * w.r.t. join selectivity, then for every root linearize by rank
    * under the MST precedence constraint and keep the cheapest
    * linearization. */
  object IKKBZ extends PlanEnumerator {
    val name = "IKKBZ"
    def enumerate(g: JoinGraph): JoinTree = {
      val n = g.rels.length
      if (n == 1) return Leaf(g.rels.head)
      def sel(u: Int, v: Int): Double = {
        val (cu, cv) = (g.rels(u).card, g.rels(v).card)
        if (connected(g, Set(u), Set(v)))
          JoinGraph.joinCard(cu, cv) / (cu * cv)
        else 1.0
      }
      // Prim MST over selectivity (forest if disconnected)
      val inMst = collection.mutable.Set(0)
      val mstAdj = Array.fill(n)(Set.empty[Int])
      while (inMst.size < n) {
        val candidates = for {
          u <- inMst.toSeq; v <- 0 until n if !inMst.contains(v)
        } yield (u, v, sel(u, v))
        val (u, v, _) = candidates.minBy(_._3)
        mstAdj(u) += v; mstAdj(v) += u
        inMst += v
      }
      def costOf(order: Seq[Int]): (Double, JoinTree) = {
        var tree: JoinTree = Leaf(g.rels(order.head))
        order.tail.foreach { r =>
          val leaf = Leaf(g.rels(r))
          tree = Node(tree, leaf, joinedCard(g, tree, leaf))
        }
        (tree.cost, tree)
      }
      // for every root: precedence-constrained rank linearization
      val results = (0 until n).map { root =>
        val seq = collection.mutable.Buffer(root)
        val placed = collection.mutable.Set(root)
        while (placed.size < n) {
          val avail = (0 until n).filter(v =>
            !placed.contains(v) && mstAdj(v).exists(placed.contains))
          // rank = growth factor of the intermediate result
          val next = avail.minBy { v =>
            val parent = mstAdj(v).find(placed.contains).get
            sel(parent, v) * g.rels(v).card
          }
          seq += next; placed += next
        }
        costOf(seq.toSeq)
      }
      results.minBy(_._1)._2
    }
  }

  /** Heuristic-search join ordering (ref include/mutable/IR/
    * HeuristicSearchPlanEnumerator.hpp + src/IR/
    * HeuristicSearchPlanEnumerator.cpp, SIGMOD'23): join ordering as
    * shortest-path search over the bottom-up state space.
    *
    *  - A *state* is a partition of the relations into subproblems,
    *    each carrying its best join tree (ref `SubproblemsArray`);
    *    the start state is all-singletons, the goal a single
    *    subproblem covering every relation.
    *  - An *expansion* joins one connected pair of subproblems
    *    (ref `BottomUpComplete::for_each_successor`), adding the join
    *    result's cardinality to g — exactly the C_out increment.
    *  - The *heuristic* estimates remaining cost: `zero` (Dijkstra —
    *    optimal, most expansions), `sum` (Σ cardinalities of current
    *    subproblems, ref hpp:1729), `product` (Π cardinalities, ref
    *    hpp:1859 — deliberately inadmissible aggressive guidance),
    *    `goo` (cost of finishing greedily, ref hpp:1958 — the
    *    strongest guide, near-optimal in practice).
    *  - `weight` > 1 gives weighted A*.
    *  - The *space* is `bottomup` (merge two subproblems per step) or
    *    `topdown` (ref TopDownComplete hpp:1593: split the first
    *    non-singleton subproblem along a MinCutAGaT ccp per step) —
    *    the reference's full search × space × heuristic config grid.
    *
    * Search-algorithm variants (ref's pre-configured strategies,
    * hpp:2158-2169, built on util/HeuristicSearch.hpp genericAStar):
    *
    *  - `beamWidth` ≥ 1: beam search (ref `beam<2>`) — of each
    *    expansion's successors only the `beamWidth` best by f survive;
    *    the rest are discarded (the monotone-space configuration, where
    *    no regular queue exists). Incomplete but drastically fewer
    *    expansions.
    *  - 0 < `beamWidth` < 1: dynamic beam (ref `beam<1,5>`) — the beam
    *    keeps ⌈fraction·|successors|⌉ best per expansion.
    *  - `lazyH`: lazy A* (ref `lazy<true>`) — successors inherit the
    *    expanded state's heuristic value, one h evaluation per
    *    expansion instead of one per successor (hpp's
    *    for_each_successor_lazily).
    *  - `costBasedPruning` (ref `cost_based_pruning<true>`): an initial
    *    greedy plan seeds an upper bound (ref config.upper_bound);
    *    successors whose g + unweighted-h exceed the bound are pruned,
    *    and reaching a goal tightens it.
    *  - `expansionBudget` < ∞: anytime A* (ref `anytime_search<true>`,
    *    config.expansion_budget): when the budget is exhausted the best
    *    frontier state is completed greedily (ref goo_path_completion)
    *    — always returns a valid plan, quality scales with budget.
    *
    * States are deduplicated on the canonical partition (which
    * subproblems exist), keeping the cheapest g per partition — the
    * role of the reference's subproblem hash table. */
  final class HeuristicSearchEnumerator(
      heuristic: String = "goo", weight: Double = 1.0,
      space: String = "bottomup",
      beamWidth: Double = 0.0,
      lazyH: Boolean = false,
      costBasedPruning: Boolean = false,
      expansionBudget: Long = Long.MaxValue) extends PlanEnumerator {
    val name = s"HeuristicSearch($space,$heuristic)"

    /** States popped from the frontier in the last run (the SIGMOD'23
      * claim is optimal plans with far fewer expansions than DP). */
    var lastExpanded: Int = 0

    /** Successors discarded by cost-based pruning in the last run. */
    var lastPruned: Long = 0L

    private def hValue(g: JoinGraph, parts: Vector[JoinTree]): Double =
      if (parts.length <= 1) 0.0
      else heuristic match {
        case "zero" => 0.0
        case "sum" => parts.map(_.card).sum
        // ref hpp:1859: Π of current subproblem cardinalities —
        // inadmissible by design (dramatic overestimate), shipped as
        // the aggressive-guidance baseline of the heuristic family
        case "product" => parts.map(_.card).product
        // ref scaled_sum (hpp:1823): cardinalities sorted descending,
        // the i-th largest weighted (i+1)× — a bigger subproblem
        // participates in more future joins, so it counts more
        case "scaled_sum" =>
          val cards = parts.map(_.card).sorted(Ordering[Double].reverse)
          val n = cards.length
          cards.init.zipWithIndex.map { case (c, i) => (i + 1) * c }.sum +
            (n - 1) * cards.last
        // ref bottomup_lookahead_cheapest (hpp:1896): Σ cardinalities
        // plus the marginal cost of the cheapest next join (its C_out
        // increment replaces its inputs' contributions)
        case "lookahead" =>
          val base = parts.map(_.card).sum
          if (parts.length == 2) base
          else {
            var bestAdd = Double.PositiveInfinity
            for (i <- parts.indices; j <- (i + 1) until parts.length
                 if connectedTrees(g, parts(i), parts(j))) {
              val jc = joinedCard(g, parts(i), parts(j))
              val add = 2 * jc - parts(i).card - parts(j).card
              if (add < bestAdd) bestAdd = add
            }
            if (bestAdd.isPosInfinity) base else base + bestAdd
          }
        // ref avg_sel (hpp:2028, defined for the bottom-up space only):
        // derive the geometric-mean per-join selectivity from the
        // full-join estimate, then simulate joining the two smallest
        // subproblems repeatedly under that uniform selectivity
        case "avg_sel" =>
          if (parts.length <= 2) 0.0
          else {
            val cards = parts.map(_.card).toArray
            java.util.Arrays.sort(cards)
            val cprod = cards.product
            val selRemaining =
              if (cprod <= 0 || cprod.isInfinity) 1.0
              else math.min(1.0, cardAllOf(g) / cprod)
            val avgSel = math.pow(selRemaining, 1.0 / (parts.length - 1))
            var acc = 0.0
            var i = 0
            while (i < cards.length - 1) {
              val card = cards(i) * cards(i + 1) * avgSel
              acc += card
              cards(i + 1) = card
              // bubble the new intermediate back into sorted position
              var r = i + 1
              while (r < cards.length - 1 && cards(r) > cards(r + 1)) {
                val t = cards(r); cards(r) = cards(r + 1); cards(r + 1) = t
                r += 1
              }
              i += 1
            }
            acc
          }
        case "goo" =>
          // simulate greedy completion; the final (complete) join's
          // cardinality is a plan-independent constant and excluded,
          // like the reference's GOO heuristic (hpp:1975-1981)
          var forest = parts
          var cost = 0.0
          while (forest.length > 1) {
            var bi = 0; var bj = 1
            var bestCard = Double.MaxValue
            for (i <- forest.indices; j <- (i + 1) until forest.length) {
              val c = joinedCard(g, forest(i), forest(j))
              if (c < bestCard) { bestCard = c; bi = i; bj = j }
            }
            if (forest.length > 2) cost += bestCard
            val merged = Node(forest(bi), forest(bj), bestCard)
            forest = forest.zipWithIndex
              .collect { case (t, k) if k != bi && k != bj => t } :+ merged
          }
          cost
        case other =>
          throw new IllegalArgumentException(s"unknown heuristic '$other'")
      }

    def enumerate(g: JoinGraph): JoinTree = {
      lastExpanded = 0
      lastPruned = 0L
      if (space == "topdown") enumerateTopDown(g) else enumerateBottomUp(g)
    }

    /** Top-down search space (ref TopDownComplete, hpp:1593): a state
      * is still a partition, but the start is {All} and a step SPLITS
      * the first non-singleton subproblem along one of its MinCutAGaT
      * ccps. Action cost = cardinality of the subproblem being split
      * (the intermediate result its join will produce); splitting the
      * full set is free — every complete plan pays that cardinality, so
      * charging it would only postpone goals in the queue (ref comment
      * at hpp:1646). Falls back to bottom-up on disconnected graphs
      * (graph cuts need connectivity). */
    private def enumerateTopDown(g: JoinGraph): JoinTree = {
      val n = g.rels.length
      if (n == 1) return Leaf(g.rels.head)
      val adj = adjSetsOf(g)
      val all = (0 until n).toSet
      if (!isConnectedSet(adj, all)) return enumerateBottomUp(g)
      // subproblem cardinality ASKS THE ESTIMATOR, like the reference's
      // sum<TopDown> (hpp:1757-1775: CE.estimate_join_all /
      // predict_cardinality — which, under InjectionCardinalityEstimator,
      // returns the injected value for the set). Injection first, then
      // our equi-join estimate: fold a connected set to its minimum
      // leaf cardinality — the exact card the final tree's node gets.
      // Keeping the action/heuristic basis identical to joinedCard's is
      // what makes sum<TopDown> A* land on the DP optimum on injected
      // workloads (JOB): both sides price subproblem S the same way.
      def connCard(s: Set[Int]): Double =
        if (s.size == 1) g.rels(s.head).card
        else g.inject.getOrElse(s, s.map(g.rels(_).card).min)

      def hTD(parts: Vector[Set[Int]]): Double = heuristic match {
        case "zero" => 0.0
        case "sum" =>
          // ref sum<TopDown> (hpp:1753, admissible): every remaining
          // non-singleton must still be split, paying its cardinality
          if (parts.length == 1) 0.0
          else parts.iterator.filter(_.size > 1).map(connCard).sum
        case "sqrt_sum" =>
          // ref sqrt_sum<TopDown> (hpp:1790): Σ 2·√card — a softened
          // variant of sum that under-weights large subproblems
          parts.iterator.filter(_.size > 1)
            .map(s => 2 * math.sqrt(connCard(s))).sum
        case "goo" =>
          // ref GOO<TopDown> (hpp:1996): finish with TDGOO cuts from
          // here. Cuts are chosen like the TDGOO enumerator — minimal
          // side-cardinality sum under the cartesian fold (the shape
          // the reference's estimate_join_all produces, which peels
          // large relations off at the top). The estimate accumulates
          // what the SEARCH would pay for that completion — the
          // cardinality of each subproblem split (All exempt, as in
          // the action cost) — so h stays on g's cost basis, like the
          // bottom-up goo guide.
          tdGreedy(parts)._2
        case other =>
          throw new IllegalArgumentException(
            s"unknown top-down heuristic '$other'")
      }

      /** TDGOO-style greedy completion of a partition: pick the
        * min-score MinCutAGaT cut per non-singleton, recursively.
        * Returns (splits in replay order — children before parents —
        * and the search-cost this completion pays). Shared by the goo
        * heuristic, the cbp upper bound, and anytime path completion
        * (ref goo_path_completion). */
      def tdGreedy(parts: Vector[Set[Int]])
          : (List[(Set[Int], Set[Int])], Double) = {
        def prodCard(s: Set[Int]): Double =
          s.iterator.map(i => math.max(1.0, g.rels(i).card)).product
        var cost = 0.0
        var splits: List[(Set[Int], Set[Int])] = Nil
        var work = parts.iterator.filter(_.size > 1).toList
        while (work.nonEmpty) {
          val top = work.head
          work = work.tail
          var cMin = Double.PositiveInfinity
          var mL: Set[Int] = null; var mR: Set[Int] = null
          minCutAGaT(adj, top) { (l, r) =>
            val c = (if (l.size > 1) connCard(l) else 0.0) +
              (if (r.size > 1) connCard(r) else 0.0) +
              1e-9 * (prodCard(l) + prodCard(r))
            // mL==null guard: take the first cut even if all scores
            // saturate to ∞ (product overflow on huge graphs)
            if (mL == null || c < cMin) { cMin = c; mL = l; mR = r }
          }
          if (top != all) cost += connCard(top)
          // prepend: generated parent-first, so children (generated
          // later) end up at the head — replay order
          splits ::= (mL, mR)
          if (mL.size > 1) work = mL :: work
          if (mR.size > 1) work = mR :: work
        }
        (splits, cost)
      }

      /** Replay splits (children before parents) into a join tree. */
      def buildTree(splits: List[(Set[Int], Set[Int])]): JoinTree = {
        val treeOf = collection.mutable.Map.empty[Set[Int], JoinTree]
        g.rels.foreach(r => treeOf(Set(r.idx)) = Leaf(r))
        splits.foreach { case (l, r) =>
          val (lt, rt) = (treeOf(l), treeOf(r))
          treeOf(l ++ r) = Node(lt, rt, joinedCard(g, lt, rt))
        }
        treeOf(all)
      }

      final case class Entry(parts: Vector[Set[Int]],
          splits: List[(Set[Int], Set[Int])], gCost: Double, h: Double) {
        def f: Double = gCost + weight * h
      }
      implicit val ord: Ordering[Entry] = Ordering.by(e => -e.f)
      val frontier = collection.mutable.PriorityQueue.empty[Entry]
      val closed = collection.mutable.Set.empty[Set[Set[Int]]]
      val fallback = if (costBasedPruning) Some(tdGreedy(Vector(all))) else None
      var ub = fallback.map(_._2).getOrElse(Double.PositiveInfinity)
      var budget = expansionBudget
      frontier.enqueue(Entry(Vector(all), Nil, 0.0, hTD(Vector(all))))
      while (frontier.nonEmpty) {
        val e = frontier.dequeue()
        val key = e.parts.toSet
        if (!closed.contains(key)) {
          closed += key
          if (e.parts.forall(_.size == 1)) return buildTree(e.splits)
          if (budget <= 0) { // anytime: greedy-complete the best state
            val (extra, _) = tdGreedy(e.parts)
            return buildTree(extra ++ e.splits)
          }
          budget -= 1
          lastExpanded += 1
          val hCur = if (lazyH) e.h else 0.0
          val part = e.parts.find(_.size > 1).get
          val rest = e.parts.filterNot(_ == part)
          val action = if (part == all) 0.0 else connCard(part)
          val succs = collection.mutable.ArrayBuffer.empty[Entry]
          minCutAGaT(adj, part) { (l, r) =>
            val parts2 = rest :+ l :+ r
            succs += Entry(parts2, (l, r) :: e.splits, e.gCost + action,
              if (lazyH) hCur else hTD(parts2))
          }
          val kept =
            if (beamWidth >= 1.0) succs.sortBy(_.f).take(beamWidth.toInt)
            else if (beamWidth > 0.0)
              succs.sortBy(_.f)
                .take(math.ceil(succs.length * beamWidth).toInt.max(1))
            else succs
          kept.foreach { s =>
            if (costBasedPruning && s.gCost + s.h > ub) lastPruned += 1
            else {
              if (costBasedPruning && s.parts.forall(_.size == 1) && s.gCost < ub)
                ub = s.gCost
              frontier.enqueue(s)
            }
          }
        }
      }
      fallback match {
        case Some((sp, _)) => buildTree(sp) // everything pruned
        case None => throw new IllegalStateException(
          "top-down search exhausted the frontier")
      }
    }

    private def enumerateBottomUp(g: JoinGraph): JoinTree = {
      final case class Entry(parts: Vector[JoinTree], gCost: Double, h: Double) {
        def f: Double = gCost + weight * h
      }
      implicit val ord: Ordering[Entry] = Ordering.by(e => -e.f)
      val frontier = collection.mutable.PriorityQueue.empty[Entry]
      // closed keys: sorted subproblem bitmasks (≤ 64 rels) — far
      // cheaper to build/hash than a Set[Set[Int]]
      val closed = collection.mutable.Set.empty[AnyRef]
      def keyOf(parts: Vector[JoinTree]): AnyRef =
        if (g.rels.length <= 64) parts.map(_.mask).sorted
        else parts.map(_.set).toSet
      val start = g.rels.map(Leaf(_): JoinTree)
      frontier.enqueue(Entry(start, 0.0, hValue(g, start)))
      // cbp upper bound: a greedy complete plan (the ref seeds
      // config.upper_bound from an initial plan the same way, and
      // falls back to that plan if pruning exhausts the search)
      val fallback = if (costBasedPruning) GOO.enumerate(g) else null
      var ub = if (fallback != null) fallback.cost else Double.PositiveInfinity
      var budget = expansionBudget
      while (frontier.nonEmpty) {
        val e = frontier.dequeue()
        val key = keyOf(e.parts)
        if (!closed.contains(key)) {
          closed += key
          if (e.parts.length == 1) return e.parts.head
          if (budget <= 0) // anytime: complete the best state greedily
            return gooMerge(g, e.parts)
          budget -= 1
          lastExpanded += 1
          // lazy A*: successors inherit this state's h — one heuristic
          // evaluation per expansion instead of one per successor
          val hCur = if (lazyH) e.h else 0.0
          // expand: join a connected pair (any pair if disconnected)
          val pairs = for {
            i <- e.parts.indices; j <- (i + 1) until e.parts.length
          } yield (i, j)
          val connectedPairs = pairs.filter { case (i, j) =>
            connectedTrees(g, e.parts(i), e.parts(j))
          }
          val candidates = if (connectedPairs.nonEmpty) connectedPairs else pairs
          val succs = candidates.map { case (i, j) =>
            val card = joinedCard(g, e.parts(i), e.parts(j))
            val merged = Node(e.parts(i), e.parts(j), card)
            val parts2 = e.parts.zipWithIndex
              .collect { case (t, k) if k != i && k != j => t } :+ merged
            Entry(parts2, e.gCost + card,
              if (lazyH) hCur else hValue(g, parts2))
          }
          val kept =
            if (beamWidth >= 1.0) succs.sortBy(_.f).take(beamWidth.toInt)
            else if (beamWidth > 0.0)
              succs.sortBy(_.f)
                .take(math.ceil(succs.length * beamWidth).toInt.max(1))
            else succs
          kept.foreach { s =>
            // prune on g + UNWEIGHTED h (ref divides the weighting
            // factor back out before comparing to the bound)
            if (costBasedPruning && s.gCost + s.h > ub) lastPruned += 1
            else {
              if (costBasedPruning && s.parts.length == 1 && s.gCost < ub)
                ub = s.gCost // goal found: tighten the bound
              frontier.enqueue(s)
            }
          }
        }
      }
      if (fallback != null) return fallback // everything pruned: initial plan
      throw new IllegalStateException("heuristic search exhausted the frontier")
    }
  }

  /** Pick the enumerator like the reference's default policy: exact DP
    * while affordable, greedy beyond. A non-default cost model (ref
    * TrainedCostFunction) routes through the cost-pluggable DP. */
  def enumerate(g: JoinGraph,
      cost: TrainedCost.CostModel = TrainedCost.CoutModel): JoinTree =
    if (!(cost eq TrainedCost.CoutModel) && g.rels.length <= JoinGraph.DpLimit)
      new TrainedCost.CostBasedDP(cost).enumerate(g)
    else if (g.rels.length <= JoinGraph.DpLimit) DPsize.enumerate(g)
    else GOO.enumerate(g)

  /** Registry of selectable enumerators under their reference names
    * (ref PlanEnumerator.cpp:725-754 LIST_PE). Keys lowercase. */
  val enumerators: Map[String, PlanEnumerator] = Seq(
    PEall, DPsize, DPsizeOpt, DPsizeSub, DPsub, DPsubOpt, DPccp,
    GOO, TDGOO, IKKBZ, LinearizedDP, TDbasic, TDMinCutAGaT)
    .map(e => e.name.toLowerCase -> e).toMap

  /** The reference's pre-configured search strategies
    * (HeuristicSearchPlanEnumerator.hpp:2158-2169) as parameter
    * bundles for [[HeuristicSearchEnumerator]]:
    * (weighted, lazy, cbp, beamWidth, anytime). */
  val searchStrategies: Map[String, (Boolean, Boolean, Boolean, Double, Boolean)] = Map(
    "astar" -> ((false, false, false, 0.0, false)),
    "lazyastar" -> ((false, true, false, 0.0, false)),
    "beam_search" -> ((false, false, false, 2.0, false)),
    "dynamic_beam_search" -> ((false, false, false, 0.2, false)),
    "astar_with_cbp" -> ((false, false, true, 0.0, false)),
    "beam_search_with_cbp" -> ((false, false, true, 2.0, false)),
    "anytimeastar" -> ((false, false, false, 0.0, true)),
    "anytimeastar_with_cbp" -> ((false, false, true, 0.0, true)),
    "weighted_astar" -> ((true, false, false, 0.0, false)),
    "weighted_astar_with_cbp" -> ((true, false, true, 0.0, false)),
    "weighted_anytimeastar" -> ((true, false, false, 0.0, true)),
    "weighted_anytimeastar_with_cbp" -> ((true, false, true, 0.0, true)))

  /** Resolve an enumerator by its registered name — the engine-side
    * counterpart of the reference's `--plan-enumerator` catalog option
    * (ref Catalog.cpp:114). "HeuristicSearch" composes from the hs
    * options, mirroring `--hs-heuristic/--hs-search/--hs-wf/--hs-budget`
    * (ref HeuristicSearchPlanEnumerator.cpp:600-648). */
  def resolve(name: String,
      hsSpace: String = "bottomup", hsHeuristic: String = "goo",
      hsSearch: String = "AStar", hsWeight: Double = 2.0,
      hsBudget: Long = Long.MaxValue): PlanEnumerator =
    if (name.equalsIgnoreCase("HeuristicSearch")) {
      // heuristics are per-space, like the reference's vertex/heuristic
      // template instantiations (avg_sel & co. exist bottom-up only,
      // sqrt_sum top-down only, hpp:1790,2028) — reject undefined
      // combinations here, not at query time
      val perSpace = Map(
        "bottomup" -> Set("zero", "sum", "scaled_sum", "product",
          "lookahead", "avg_sel", "goo"),
        "topdown" -> Set("zero", "sum", "sqrt_sum", "goo"))
      val legal = perSpace.getOrElse(hsSpace.toLowerCase,
        throw new IllegalArgumentException(
          s"there is no search space with the name \"$hsSpace\""))
      if (!legal.contains(hsHeuristic.toLowerCase))
        throw new IllegalArgumentException(
          s"heuristic \"$hsHeuristic\" is not defined for the $hsSpace space")
      val (weighted, lzy, cbp, beam, anytime) =
        searchStrategies.getOrElse(hsSearch.toLowerCase,
          throw new IllegalArgumentException(
            s"there is no search method with the name \"$hsSearch\""))
      new HeuristicSearchEnumerator(
        heuristic = hsHeuristic,
        weight = if (weighted) hsWeight else 1.0,
        space = hsSpace,
        beamWidth = beam,
        lazyH = lzy,
        costBasedPruning = cbp,
        expansionBudget = if (anytime && hsBudget == Long.MaxValue) 64L
          else hsBudget)
    } else enumerators.getOrElse(name.toLowerCase,
      throw new IllegalArgumentException(
        s"there is no plan enumerator with the name \"$name\""))
}

/** The Catalyst rule: flatten inner-join trees, reorder via the
  * enumerators, rebuild (with a Project to restore output order).
  *
  * Cardinalities default to Catalyst's logical statistics; an
  * injection map (ref InjectionCardinalityEstimator,
  * CardinalityEstimator.hpp:227 — true/fabricated cardinalities for
  * optimizer experiments) can override them per relation, keyed by the
  * table name appearing in the leaf's scan. */
object JoinReorderRule extends Rule[LogicalPlan] with PredicateHelper {
  import JoinReorder._

  /** Session confs selecting optimizer components — the engine-side
    * counterpart of the reference's catalog options `--plan-enumerator`
    * and `--cardinality-estimator` (ref Catalog.cpp:100-125) plus the
    * HeuristicSearch group (HeuristicSearchPlanEnumerator.cpp:600-648).
    * Read per plan via SQLConf, so each SparkSession picks its own;
    * set from the dialect via `\plan_enumerator` /
    * `\cardinality_estimator` instructions or plain spark.conf. */
  val EnumeratorConf = "graft.plan.enumerator"         // "auto" | registry name
  val EstimatorConf = "graft.cardinality.estimator"    // Spn|CartesianProduct|Injected
  val HsSpaceConf = "graft.hs.space"                   // bottomup|topdown
  val HsHeuristicConf = "graft.hs.heuristic"           // zero|sum|scaled_sum|product|lookahead|avg_sel|goo
  val HsSearchConf = "graft.hs.search"                 // AStar|beam_search|…
  val HsWeightConf = "graft.hs.weight"                 // --hs-wf
  val HsBudgetConf = "graft.hs.budget"                 // --hs-budget

  private def conf(key: String, default: String): String = {
    val c = org.apache.spark.sql.internal.SQLConf.get
    c.getConfString(key, default)
  }

  /** name → cardinality overrides (test/experiment injection). Only
    * consulted when non-empty, i.e. never in production sessions. */
  @volatile var injectedCards: Map[String, Double] = Map.empty

  /** Pluggable cost model (ref TrainedCostFunction vs CostFunctionCout;
    * swap via `JoinReorderRule.costModel = new TrainedCostFunction(
    * TrainedCost.train(spark))` — the reference's swappable CostFunction
    * catalog component). Default: C_out. */
  @volatile var costModel: TrainedCost.CostModel = TrainedCost.CoutModel

  /** Number of join trees this rule has reordered (observability: lets
    * tests prove the rule actually fires in production sessions). */
  @volatile var reorderCount: Long = 0L

  /** Row-count estimate for a leaf. C_out sums cardinalities — ROW
    * counts — so prefer `stats.rowCount` (present under CBO /
    * InMemoryRelation); otherwise derive rows ≈ sizeInBytes / row
    * width from the output schema. Mixing bytes into a row formula
    * would skew ordering toward wide-but-short relations. */
  private def leafCard(p: LogicalPlan, useSpn: Boolean = true): Double = {
    val injected = if (injectedCards.isEmpty) None
      else {
        // resolve structurally like spnForPlan — file scans don't
        // carry their path in toString
        val names = leafNamesOf(p)
        injectedCards.collectFirst {
          case (name, card) if names.exists(n =>
            n == name.toLowerCase || n.contains(name.toLowerCase)) => card
        }
      }
    injected.getOrElse {
      (if (useSpn) refinedCard(p) else None).getOrElse {
        val stats = p.stats
        val base = stats.rowCount match {
          case Some(rc) => rc.toDouble.max(1.0)
          case None =>
            val rowWidth = math.max(8,
              p.output.map(_.dataType.defaultSize).sum).toDouble
            (stats.sizeInBytes.toDouble / rowWidth).max(1.0)
        }
        if (useSpn) base * spnSelectivity(p) else base
      }
    }
  }

  /** Aggregate/Limit leaves of the join graph — decorrelated
    * subqueries surface exactly these shapes below a reorderable
    * join. Without CBO, Spark prices an Aggregate at its child's
    * size, so a tiny group-by looks corpus-sized to the enumerator
    * and gets ordered like a fact table. Mirror the reference's
    * estimator interface breadth (CardinalityEstimator.hpp:102-112):
    *  - grouping → Π per-key SPN distinct counts
    *    (`SpnEstimator::estimate_grouping`), capped by the input
    *    estimate since a group count never exceeds the grouped rows;
    *  - limit/offset → `estimate_limit` arithmetic on the child
    *    estimate (applies even when the child itself was SPN-refined,
    *    which Spark's size-only visitor cannot see).
    * Composed grouping expressions (ref: `data_model_exception`) and
    * un-modeled tables fall back to Spark's stats. Descends through
    * column-pruning Projects only. */
  private def refinedCard(p: LogicalPlan): Option[Double] = p match {
    case Project(_, child) => refinedCard(child)
    case GlobalLimit(Lit(n), child) =>
      Some(Spn.estimateLimit(leafCard(child), n))
    case LocalLimit(Lit(n), child) =>
      Some(Spn.estimateLimit(leafCard(child), n))
    case Offset(Lit(n), child) =>
      Some(math.max(0.0, leafCard(child) - n))
    case agg: Aggregate =>
      if (agg.groupingExpressions.isEmpty) Some(1.0)
      else spnForPlan(agg.child).flatMap { spn =>
        import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference}
        val keys = agg.groupingExpressions.map {
          case a: AttributeReference => Some(bareName(spn, a.name))
          case Alias(a: AttributeReference, _) => Some(bareName(spn, a.name))
          case _ => None // composed expression → no SPN estimate
        }
        if (keys.exists(_.isEmpty)) None
        else Some(math.min(spn.estimateGrouping(keys.flatten),
          leafCard(agg.child)))
      }
    case _ => None
  }

  /** Dialect scans alias-prefix columns ("l.l_quantity"); the SPN is
    * keyed by bare table column names. */
  private def bareName(spn: Spn, name: String): String =
    if (spn.estimateDistinct(name).isDefined) name else name.split('.').last

  private object Lit {
    def unapply(e: org.apache.spark.sql.catalyst.expressions.Expression): Option[Long] =
      e match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => Some(v.toLong)
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _) => Some(v)
        case _ => None
      }
  }

  /** Correlation-aware filter selectivity from a learned SPN (ref
    * SpnEstimator, CardinalityEstimator.hpp:323): without CBO, Spark
    * leaves Filter cardinality = child cardinality, so every filtered
    * leaf looks full-size to the enumerator. If `\learn_spns` trained
    * a model whose table matches this leaf, estimate the conjunction
    * of its range predicates jointly — correlated columns multiply
    * correctly instead of under the independence assumption. */
  /** The learned SPN (if any) for the table a relation subtree scans.
    * Resolves the table name structurally: file-backed scans carry
    * their root path (…/lineitem.parquet → "lineitem"); only falls
    * back to the plan string for non-file relations. */
  /** Structural table names of a subtree's leaves: file-backed scans
    * carry their root path (…/lineitem.parquet → "lineitem"); only
    * falls back to the plan string for non-file relations. Shared by
    * SPN lookup and cardinality injection. */
  private def leafNamesOf(p: LogicalPlan): Seq[String] =
    p.collectLeaves().flatMap {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.getName.toLowerCase
              .stripSuffix(".parquet").stripSuffix(".csv"))
          case _ => Seq(lr.toString.toLowerCase)
        }
      case other => Seq(other.toString.toLowerCase)
    }

  private def spnForPlan(p: LogicalPlan): Option[Spn] = {
    if (SpnCatalog.keys.isEmpty) return None
    val leafNames: Seq[String] = leafNamesOf(p)
    SpnCatalog.keys
      .find { k =>
        val table = k.split('.').last
        leafNames.exists(n => n == table || n.contains(table))
      }
      .flatMap(SpnCatalog.get)
  }

  private def spnSelectivity(p: LogicalPlan): Double = {
    if (SpnCatalog.keys.isEmpty) return 1.0
    spnForPlan(p) match {
      case None => 1.0
      case Some(model) =>
        import org.apache.spark.sql.catalyst.expressions._
        val conds = p.collect { case f: Filter =>
          splitConjunctivePredicates(f.condition)
        }.flatten
        def num(l: Literal): Option[Double] = l.value match {
          case n: Number => Some(n.doubleValue())
          case _ => None
        }
        val ranges = conds.flatMap {
          case EqualTo(a: AttributeReference, l: Literal) =>
            num(l).map(v => a.name -> (v, v))
          case LessThan(a: AttributeReference, l: Literal) =>
            num(l).map(v => a.name -> (Double.NegativeInfinity, v))
          case LessThanOrEqual(a: AttributeReference, l: Literal) =>
            num(l).map(v => a.name -> (Double.NegativeInfinity, v))
          case GreaterThan(a: AttributeReference, l: Literal) =>
            num(l).map(v => a.name -> (v, Double.PositiveInfinity))
          case GreaterThanOrEqual(a: AttributeReference, l: Literal) =>
            num(l).map(v => a.name -> (v, Double.PositiveInfinity))
          case _ => None
        }
        // intersect multiple ranges on the same column
        val merged = ranges.groupBy(_._1).map { case (n, rs) =>
          n -> rs.map(_._2).reduce((x, y) =>
            (math.max(x._1, y._1), math.min(x._2, y._2)))
        }
        if (merged.isEmpty) 1.0
        else math.max(1e-6, model.estimate(merged))
    }
  }

  /** Per-edge max frequencies from learned SPNs — the reference's
    * `SpnEstimator::max_frequency` (src/catalog/CardinalityEstimator
    * .cpp:563-571): rows / estimated distinct count of the join
    * attribute on that endpoint's base relation. A join attribute the
    * SPN does not cover is treated as a primary key (mf = 1, ref
    * find_spn_id :559); an edge where NEITHER side has a trained SPN
    * gets no entry and stays on the independence fold. */
  private def edgeMfFor(rels: Vector[Rel],
      edges: Seq[(Int, Int, Expression)]): Map[(Int, Int), (Double, Double)] = {
    if (SpnCatalog.keys.isEmpty) return Map.empty
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo}
    edges.flatMap { case (i, j, e) =>
      e match {
        case EqualTo(a: AttributeReference, b: AttributeReference) =>
          val (ri, rj) = (rels(i), rels(j))
          // owners() guaranteed {i, j}; orient the attrs to their rels
          val (ai, aj) =
            if (ri.plan.outputSet.contains(a)) (a, b) else (b, a)
          def mf(r: Rel, attr: AttributeReference): Option[Double] =
            spnForPlan(r.plan).map { spn =>
              // dialect scans alias-prefix columns ("l.l_quantity");
              // the SPN is keyed by bare table column names
              spn.estimateDistinct(attr.name)
                .orElse(spn.estimateDistinct(attr.name.split('.').last))
                match {
                  case Some(d) => math.max(1.0, r.card / d)
                  case None => 1.0 // uncovered attribute → primary key
                }
            }
          (mf(ri, ai), mf(rj, aj)) match {
            case (None, None) => None
            case (mi, mj) =>
              Some((i, j) -> (mi.getOrElse(1.0), mj.getOrElse(1.0)))
          }
        case _ => None
      }
    }.toMap
  }

  /** Marks join nodes this rule has already ordered — without it,
    * transformDown would re-match the rebuilt join inside the new
    * Project and recurse forever (tags survive tree copies, so the
    * surrounding fixed point also converges). */
  private val reorderedTag =
    new org.apache.spark.sql.catalyst.trees.TreeNodeTag[Boolean]("graftJoinReordered")

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case j @ Join(_, _, Inner, _, _) if j.getTagValue(reorderedTag).isEmpty =>
      // validate the estimator conf before the reorder-eligibility
      // check so a bad value set directly via spark.conf surfaces at
      // planning time even on 2-way joins
      val est = conf(EstimatorConf, "Spn").toLowerCase match {
        case e @ ("spn" | "cartesianproduct" | "injected") => e
        case other => throw new IllegalArgumentException(
          s"there is no cardinality estimator with the name \"$other\"")
      }
      val (leaves, conds) = flatten(j)
      if (leaves.length < 3) j
      else {
        val useSpn = est == "spn"
        val rels = leaves.zipWithIndex.map { case (p, i) =>
          Rel(p, leafCard(p, useSpn), i)
        }.toVector
        val (edges, residual) = splitConds(rels, conds)
        val graph = JoinGraph(rels, edges, residual,
          edgeMf = if (useSpn) edgeMfFor(rels, edges) else Map.empty,
          cartesian = est == "cartesianproduct")
        val enumName = conf(EnumeratorConf, "auto")
        val tree =
          if (enumName.equalsIgnoreCase("auto")) enumerate(graph, costModel)
          else resolve(enumName,
            hsSpace = conf(HsSpaceConf, "bottomup"),
            hsHeuristic = conf(HsHeuristicConf, "goo"),
            hsSearch = conf(HsSearchConf, "AStar"),
            hsWeight = conf(HsWeightConf, "2.0").toDouble,
            hsBudget = conf(HsBudgetConf, Long.MaxValue.toString).toLong
          ).enumerate(graph)
        val rebuilt = build(tree, conds)
        rebuilt.foreach {
          case jn: Join => jn.setTagValue(reorderedTag, true)
          case _ => ()
        }
        reorderCount += 1
        Project(j.output, rebuilt)
      }
  }

  /** Collect the leaves + conjunctive conditions of a maximal inner
    * join subtree. Pure column-pruning Projects and Filters that other
    * optimizer rules interleave between joins are transparent — without
    * this the rule never sees more than 2 leaves on real plans (column
    * pruning runs in the same fixed-point batch). The top-level
    * `Project(j.output, …)` restores the original output, and the
    * surrounding fixed point re-prunes the rebuilt tree. */
  private[graft] def flatten(plan: LogicalPlan): (Seq[LogicalPlan], Seq[Expression]) =
    plan match {
      case Join(l, r, Inner, cond, _) =>
        val (ll, lc) = flatten(l)
        val (rl, rc) = flatten(r)
        (ll ++ rl, lc ++ rc ++ cond.toSeq.flatMap(splitConjunctivePredicates))
      case p: Project
          if p.projectList.forall(_.isInstanceOf[Attribute]) &&
            p.child.isInstanceOf[Join] =>
        flatten(p.child)
      case f: Filter if f.child.isInstanceOf[Join] =>
        val (ll, lc) = flatten(f.child)
        (ll, lc ++ splitConjunctivePredicates(f.condition))
      case other => (Seq(other), Nil)
    }

  private[graft] def splitConds(rels: Vector[Rel], conds: Seq[Expression])
      : (Seq[(Int, Int, Expression)], Seq[Expression]) = {
    def owners(e: Expression): Set[Int] = {
      val refs = e.references.toSeq
      rels.collect {
        case r if refs.exists(a => r.plan.outputSet.contains(a)) => r.idx
      }.toSet
    }
    val edges = Seq.newBuilder[(Int, Int, Expression)]
    val residual = Seq.newBuilder[Expression]
    conds.foreach { c =>
      owners(c).toSeq.sorted match {
        case Seq(a, b) => edges += ((a, b, c))
        case _ => residual += c
      }
    }
    (edges.result(), residual.result())
  }

  /** Rebuild the join tree, attaching every condition at the lowest
    * node where all its references are in scope. */
  private def build(tree: JoinTree, conds: Seq[Expression]): LogicalPlan = {
    // ordered buffer (not a hash set) so the rebuilt And-chain is
    // deterministic across runs
    val remaining = collection.mutable.ArrayBuffer[Expression](conds: _*)
    def rec(t: JoinTree): LogicalPlan = t match {
      case Leaf(r) => r.plan
      case Node(l, r, _) =>
        val lp = rec(l); val rp = rec(r)
        val scope = lp.outputSet ++ rp.outputSet
        val applicable = remaining.filter(_.references.subsetOf(scope)).toSeq
        remaining --= applicable
        val cond = applicable.reduceOption(And)
        Join(lp, rp, Inner, cond, JoinHint.NONE)
    }
    rec(tree)
  }
}

/** SparkSessionExtensions entry point, installed by `Engine.session`
  * through `spark.sql.extensions=graft.optimizer.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  def apply(e: SparkSessionExtensions): Unit =
    e.injectOptimizerRule(_ => JoinReorderRule)
}
