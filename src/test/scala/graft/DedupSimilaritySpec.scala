package graft

import graft.operators.{DedupOps, SimilarityOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic checks for the approximate (non-oracled) dedup/similarity
  * operators, validated against their exact twins on sf0.001. */
class DedupSimilaritySpec extends AnyFunSuite {
  import TestSession._

  test("minhash-LSH finds the same pairs as exact n-gram Jaccard") {
    val exact = DedupOps.ngramJaccard(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = DedupOps.minhashLsh(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // LSH pairs are verified with exact Jaccard → subset; recall should
    // be high at 16 bands × 4 rows for threshold 0.5.
    assert(lsh.subsetOf(exact), s"LSH produced non-dup pairs: ${lsh -- exact}")
    assert(exact.isEmpty || lsh.size.toDouble / exact.size >= 0.8,
      s"LSH recall too low: ${lsh.size}/${exact.size}")
  }

  test("shingle-key collision split reproduces string-keyed semantics under a colliding key") {
    import org.apache.spark.sql.Column
    import spark.implicits._
    // The production join key is xxhash64 (expected colliding shingle
    // pairs ~V²/2⁶⁵ — unobservable), so the re-key policy never fires
    // in real runs. Force a pathological key — ~25% of shingles
    // crammed into 5 hash values, the rest keyed normally — so the
    // keyed ops must detect the collision and re-run keyed on the
    // string, and demand row identity with the production output
    // (which the CORRECTNESS harness pins to the string-keyed DuckDB
    // oracle).
    val weak: Column => Column = s =>
      when(pmod(xxhash64(s), lit(4)) === 0, pmod(xxhash64(s), lit(5)))
        .otherwise(xxhash64(s))
    def triples(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val refJ = triples(DedupOps.ngramJaccard(spark, sf))
    assert(refJ.nonEmpty, "testdata assumption broken: no near-dup pairs")
    assert(triples(DedupOps.ngramJaccardKeyed(spark, sf, weak)) == refJ,
      "jaccard rows diverge under a colliding shingle key")
    val docs = Engine.table(spark, sf, "documents")
    val sc = spark.sparkContext
    var pinned = Set.empty[Int]
    for (pk <- Seq(Some(DedupOps.ContainmentProbeK), None)) {
      val ref = triples(DedupOps.containmentFrom(spark, docs, pk))
      val before = sc.getPersistentRDDs.keySet
      assert(triples(DedupOps.containmentKeyed(spark, docs, pk, weak)) == ref,
        s"containment (probeK=$pk) rows diverge under a colliding shingle key")
      pinned ++= sc.getPersistentRDDs.keySet -- before
    }
    // the re-keyed run keeps its string-keyed df table (the same plan
    // for both probe caps) and releases the hash-keyed one it dropped
    assert(pinned.size == 1, s"re-keyed run left ${pinned.size} cached plans, not 1")
    // A shingle above the df cap that shares its hash with cool ones:
    // no sf0.001 shingle reaches ShingleDfCap, so plant 1,100 docs that
    // all open with "h0 h1 h2", each with its own tail, plus 5 docs
    // that are the tails of docs 0-4 (containment 1.0 one way, 0.6 the
    // other). Three key values put the hot shingle under one hash with
    // about a third of the cool ones.
    val nHot = DedupOps.ShingleDfCap + 100
    def tail(i: Int) = (1 to 5).map(w => s"t${i}_$w").mkString(" ")
    val hotDocs = ((0 until nHot).map(i => (i.toLong, s"h0 h1 h2 ${tail(i)}")) ++
        (0 until 5).map(i => (10000L + i, tail(i))))
      .toDF("doc_id", "text")
    val mod3: Column => Column = s => pmod(xxhash64(s), lit(3))
    for (pk <- Seq(Some(DedupOps.ContainmentProbeK), None)) {
      val ref = triples(DedupOps.containmentFrom(spark, hotDocs, pk))
      assert((0 until 5).forall(i => ref.contains((10000L + i, i.toLong, 1.0)) &&
          ref.contains((i.toLong, 10000L + i, 0.6))),
        s"fixture broken: planted pairs missing from $ref")
      assert(triples(DedupOps.containmentKeyed(spark, hotDocs, pk, mod3)) == ref,
        s"containment (probeK=$pk) rows diverge when the hot shingle shares a key")
    }
  }

  test("binary-quantization ANN: exact twins rank first and the word packing is boundary-exact") {
    import spark.implicits._
    // 20 vectors over Dim=64: queries 0..9 are Walsh rows (mutually
    // orthogonal sign patterns), ids 9+i exact copies of query i
    // (i=1..9), id 19 an exact copy of query 0 — so every query's
    // true top-1 is its twin at cosine 1.0 / Hamming 0. Query 1 and
    // its twin additionally carry ±3 in dims 31 AND 32 (opposite
    // signs), flipping exactly one bit in EACH packed 32-bit word:
    // Hamming must be exactly 2, which fails if either word drops,
    // duplicates, or misaligns a bit at the 31/32 packing boundary.
    def walsh(i: Int, d: Int): Double =
      if (java.lang.Integer.bitCount(i & d) % 2 == 0) 1.0 else -1.0
    def base(i: Int): Array[Double] = Array.tabulate(64)(walsh(i, _))
    def q1Mod(sign: Double): Array[Double] = {
      val v = base(1); v(31) = 3.0 * sign; v(32) = 3.0 * sign; v
    }
    val rows =
      (0 to 9).map(i => (i.toLong, if (i == 1) q1Mod(1.0) else base(i))) ++
        (1 to 9).map(i => (9L + i, if (i == 1) q1Mod(-1.0) else base(i))) :+
        (19L, base(0))
    val out = SimilarityOps
      .annBinaryFrom(spark, rows.toDF("vec_id", "embedding"))
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getInt(2), r.getLong(3),
        r.getDouble(4))))
    val top1 = out.collect { case (q, (n, 1, h, c)) => q -> (n, h, c) }.toMap
    assert(top1.keySet == (0L to 9L).toSet)
    assert(top1(0L) == ((19L, 0L, 1.0)), s"query 0 top-1: ${top1(0L)}")
    for (i <- 2 to 9)
      assert(top1(i.toLong) == ((9L + i, 0L, 1.0)),
        s"query $i top-1: ${top1(i.toLong)}")
    // dot = 62·1 + 2·(−9) = 44, norms² = 62 + 9 + 9 = 80 → cos 0.55
    assert(top1(1L) == ((10L, 2L, 0.55)), s"query 1 top-1: ${top1(1L)}")
  }

  test("rarest-K containment cap diverges from exact containment on adversarial corpora") {
    // The QualityGates capped-vs-exact divergence gate measures 1.0/1.0
    // on every real corpus (planted dup clusters share their rarest
    // shingles), so this fixture DEMONSTRATES the cap's two failure
    // modes and pins their magnitude — the documented bound is: the
    // cap is exact whenever a qualifying overlap includes the source
    // doc's K rarest shingles, errs FALSE-NEGATIVE when the overlap
    // lies outside them, and FALSE-POSITIVE when the K rarest are
    // shared but the full overlap is below τ. The escape hatch is the
    // registered exact twin (`dedup_containment_exact`).
    import spark.implicits._
    val K = DedupOps.ContainmentProbeK
    def toks(p: String, n: Int) = (1 to n).map(i => s"${p}_$i")
    // Case A (cap misses a true pair): doc 1 = K+2 unique tokens (its
    // K+2 df-1 shingles become the probe) followed by a shared run
    // long enough that exact C(1→2) = (1.5K+4)/(2.5K+6) ≈ 0.606 ≥ τ,
    // while the probe ∩ doc 2 is empty.
    val sharedA = toks("as", 3 * K / 2 + 6)
    val textA = (toks("au", K + 2) ++ sharedA).mkString(" ")
    val textB = sharedA.mkString(" ")
    // Case B (cap emits a spurious pair): doc 11's K+2 tokens shared
    // ONLY with doc 12 (df-2 shingles — its rarest, since the filler
    // run also lives in docs 13/14 at df 3), plus filler making the
    // true denominator large: exact C(11→12) ≈ 0.24 < τ, capped ≈ 0.92.
    val sharedB = toks("bs", K + 2)
    val filler = toks("bf", 78)
    val docs = Seq(
      (1L, textA), (2L, textB),
      (11L, (sharedB ++ filler).mkString(" ")),
      (12L, sharedB.mkString(" ")),
      (13L, filler.mkString(" ")), (14L, filler.mkString(" ")))
      .toDF("doc_id", "text")
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = pairs(DedupOps.containmentFrom(spark, docs, Some(K)))
    val exact = pairs(DedupOps.containmentFrom(spark, docs, None))
    // false negative: true C(1→2) ≥ τ but the K rarest probes miss it
    assert(exact.contains((1L, 2L)), "fixture broken: exact pair absent")
    assert(!capped.contains((1L, 2L)),
      "cap unexpectedly found the overlap outside the K rarest shingles")
    // false positive: rare shingles shared, true C(11→12) < τ
    assert(!exact.contains((11L, 12L)), "fixture broken: exact pair present")
    assert(capped.contains((11L, 12L)),
      "cap unexpectedly rejected the shared-rare-shingle pair")
    // the full measured divergence on this corpus — every diverging
    // pair is one of the two planted modes (11→13/14 are the same
    // probe-blindness as 1→2: doc 11 is 75% contained in the filler
    // docs but probes only its rare shared run)
    assert((exact -- capped) == Set((1L, 2L), (11L, 13L), (11L, 14L)),
      s"unexpected false-negative set: ${exact -- capped}")
    assert((capped -- exact) == Set((11L, 12L)),
      s"unexpected false-positive set: ${capped -- exact}")
  }

  test("simhash pairs have hamming <= 3 and are symmetric-free (a<b)") {
    val rows = DedupOps.simhashPairs(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
      assert(r.getAs[Int]("hamming") <= 3)
    }
  }

  test("ANN-LSH recall vs brute-force top-5") {
    val bf = SimilarityOps.knnBruteForce(spark, sf)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = SimilarityOps.annLsh(spark, sf)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (ann & bf).size.toDouble / bf.size
    assert(recall >= 0.2, s"ANN recall $recall too low (${ann.size} vs ${bf.size})")
  }

  test("LSH near-dup finds the exact near-dup pairs (bucketed scale path)") {
    val exact = SimilarityOps.embeddingNearDup(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SimilarityOps.embeddingNearDupLsh(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // verification is exact → subset; 8-table LSH catches cos ≥ 0.95
    // pairs with ≈99.8% probability each
    assert(lsh.subsetOf(exact))
    if (exact.nonEmpty)
      assert(lsh.size.toDouble / exact.size >= 0.8,
        s"LSH near-dup recall ${lsh.size}/${exact.size}")
  }

  test("HNSW-ANN recall vs brute-force top-5, deterministic across runs") {
    val bf = SimilarityOps.knnBruteForce(spark, sf)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def run() = SimilarityOps.annHnsw(spark, sf)
      .select("query_id", "neighbor_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val ann = run()
    val pairs = ann.map { case (q, n, _) => (q, n) }
    val recall = (pairs & bf).size.toDouble / bf.size
    assert(recall >= 0.8, s"HNSW recall $recall (${pairs.size} vs ${bf.size})")
    // shard hashing, insertion order, levels and tie-breaks are all
    // keyed on vec_id — a second run must emit identical rows
    assert(run() == ann, "HNSW output not deterministic across runs")
  }

  test("LSH, IVF, PQ and IVF-PQ ANN emit identical rows across runs") {
    // quantizer samples, seeds, shortlists and every tie-break are
    // keyed on vec_id — a second run must emit the same rows, cosines
    // included
    Seq("lsh" -> (SimilarityOps.annLsh _), "ivf" -> (SimilarityOps.annIvf _),
      "pq" -> (SimilarityOps.annPq _), "ivf_pq" -> (SimilarityOps.annIvfPq _)
    ).foreach { case (name, op) =>
      def run() = op(spark, sf).collect().map(_.toSeq).toSeq.sortBy(_.mkString(","))
      val first = run()
      assert(first.nonEmpty, s"$name emitted no rows")
      assert(run() == first, s"$name output not deterministic across runs")
    }
  }

  test("the shared top-5 tail ranks cosine ties by vec_id, keeps short lists dense, rounds like Spark") {
    import spark.implicits._
    // query 1 has seven candidates; ids 8 and 3 carry the bit-equal
    // cosine 0.7 at ranks 5 and 6, so only id 3 makes the cut. Query 2
    // has two candidates and gets a 2-row list.
    val tie = 0.7
    val scored = Seq(
      (1L, 20L, 0.91234567, 5L), (1L, 4L, 0.8, 6L), (1L, 5L, 0.75, 7L),
      (1L, 6L, 0.72, 8L), (1L, 8L, tie, 9L), (1L, 3L, tie, 10L),
      (1L, 7L, 0.1, 11L), (2L, 9L, -0.55555, 12L), (2L, 1L, 0.123456, 13L)
    ).toDF("query_id", "vec_id", "cosine", "hamming")
    val out = SimilarityOps.neighbors(scored, col("hamming"))
    assert(out.columns.toSeq == Seq("query_id", "neighbor_id", "rank", "hamming", "cosine_r"))
    val rows = out.collect()
    val got = rows.map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .sortBy(r => (r._1, r._3)).toSeq
    assert(got == Seq((1L, 20L, 1, 5L), (1L, 4L, 2, 6L), (1L, 5L, 3, 7L),
      (1L, 6L, 4, 8L), (1L, 3L, 5, 10L), (2L, 1L, 1, 13L), (2L, 9L, 2, 12L)))
    val want = scored.select(col("query_id"), col("vec_id"),
        round(col("cosine"), 4).as("want")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    rows.foreach { r =>
      assert(r.getDouble(4) == want((r.getLong(0), r.getLong(1))), s"cosine_r of $r")
    }
  }

  test("int8 quantization grid invariants hold on every dimension") {
    val rows = SimilarityOps.quantizeInt8(spark, sf).collect()
    assert(rows.length == SimilarityOps.Dim)
    // per-dim actual extrema, for the clipped-tail error bound below
    val ranges = SimilarityOps.dimProfile(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    rows.foreach { r =>
      val (n, lo, hi, scale) = (r.getAs[Long]("n"), r.getAs[Double]("lo"),
        r.getAs[Double]("hi"), r.getAs[Double]("scale"))
      val (nSat, sumQ, mse) = (r.getAs[Long]("n_sat"),
        r.getAs[Long]("sum_q"), r.getAs[Double]("mse_q"))
      assert(hi >= lo && scale > 0)
      // code mass bounded by the grid: every q in [0, 255]
      assert(sumQ >= 0 && sumQ <= 255L * n)
      // EMPIRICAL Chebyshev (a theorem for population moments of the
      // sample itself, not a distribution assumption): at most n/9
      // points lie strictly beyond 3 sample-σ of the sample mean;
      // n/8 leaves slack for the decimal-routed moment rounding
      assert(nSat <= n / 8, s"dim ${r.getAs[Long]("dim_idx")}: $nSat/$n clipped")
      // genuine MSE invariant, bounded piecewise from the row's own
      // fields plus the dim's actual extrema: an in-range element
      // reconstructs within scale/2 of itself (nearest grid point);
      // a clipped element's error is its overshoot beyond the grid
      // edge (recon = the edge), bounded by max(max_x − hi, lo − min_x)
      val (mnX, mxX) = ranges(r.getAs[Long]("dim_idx"))
      val over = math.max(math.max(mxX - hi, lo - mnX), 0.0)
      val half = scale / 2
      val bound = ((n - nSat) * half * half + nSat * over * over) / n
      assert(mse >= 0 && mse <= bound * (1 + 1e-9) + 1e-12,
        s"dim ${r.getAs[Long]("dim_idx")}: mse $mse > bound $bound " +
          s"(n_sat=$nSat over=$over scale=$scale)")
    }
  }

  test("matryoshka recall is 1.0 at full dimension and in [0,1] elsewhere") {
    val rows = SimilarityOps.matryoshkaEval(spark, sf).collect()
      .map(r => r.getAs[Long]("prefix_dim") -> r.getAs[Double]("recall_at_5"))
      .toMap
    assert(rows.keySet == SimilarityOps.MatryoshkaDims.map(_.toLong).toSet)
    assert(rows(SimilarityOps.Dim.toLong) == 1.0)
    rows.values.foreach(v => assert(v >= 0.0 && v <= 1.0))
  }

  test("IVF-ANN recall vs brute-force top-5") {
    val bf = SimilarityOps.knnBruteForce(spark, sf)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = SimilarityOps.annIvf(spark, sf)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (ivf & bf).size.toDouble / bf.size
    assert(recall >= 0.3, s"IVF recall $recall too low (${ivf.size} vs ${bf.size})")
  }

  test("IVF+PQ composed ANN recall vs brute-force top-5") {
    val bf = SimilarityOps.knnBruteForce(spark, sf)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfpq = SimilarityOps.annIvfPq(spark, sf)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (ivfpq & bf).size.toDouble / bf.size
    // bounded above by IVF's pool recall (gate 0.3): the PQ stage can
    // only lose candidates the probed lists already contain
    assert(recall >= 0.25, s"IVF+PQ recall $recall too low (${ivfpq.size} vs ${bf.size})")
    // every result is ranked 1..5 per query with no duplicates
    val rows = SimilarityOps.annIvfPq(spark, sf).collect()
    rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      assert(rs.map(_.getInt(2)).sorted.sameElements(1 to rs.length), s"ranks for $q")
      assert(rs.map(_.getLong(1)).distinct.length == rs.length, s"dup neighbors for $q")
    }
  }

  test("dedup_cluster labels are transitive fixpoints of the near-dup graph") {
    val labels = DedupOps.cluster(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = DedupOps.ngramJaccard(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    // every near-dup pair shares a canonical id (connectivity) …
    pairs.foreach { case (a, b) =>
      assert(labels(a) == labels(b), s"pair ($a,$b) split across clusters")
    }
    // … the canonical id is a member of its own cluster and minimal
    labels.values.foreach(c => assert(labels(c) == c))
    labels.foreach { case (d, c) => assert(c <= d) }
  }

  /** Component-min labels of `docs` under `edges`, by union-find in
    * plain Scala: linking the larger root under the smaller keeps every
    * root its set's minimum. */
  private def unionFindLabels(docs: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = parent.get(x) match {
      case Some(p) if p != x => val r = find(p); parent(x) = r; r
      case _ => x
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    docs.map(d => d -> find(d)).toMap
  }

  test("star CC equals the union-find closure of the real near-dup graph") {
    import spark.implicits._
    val docs = Engine.table(spark, sf, "documents").select("doc_id")
      .collect().map(_.getLong(0)).toSeq
    val real = DedupOps.ngramJaccard(spark, sf).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(real.nonEmpty, "the near-dup graph is empty: nothing to compare")
    // and a seeded random graph over the same ids: components of every
    // size and shape, not only the planted near-dup clusters
    val rnd = new scala.util.Random(17)
    val random = Seq.fill(300)((docs(rnd.nextInt(docs.size)), docs(rnd.nextInt(docs.size))))
    for ((name, edges, viaStar) <- Seq(
        ("real", real, DedupOps.cluster(spark, sf)),
        ("random", random, DedupOps.clusterFromStar(spark, sf, random.toDF("doc_a", "doc_b"))))) {
      val got = viaStar.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = unionFindLabels(docs, edges)
      assert(got == want, {
        val bad = want.collect { case (k, v) if !got.get(k).contains(v) =>
          s"$k: star=${got.get(k)} union-find=$v" }
        s"$name graph: label divergence (${bad.size}): ${bad.take(5).mkString("; ")}"
      })
    }
  }

  test("star CC converges logarithmically on a chain label propagation cannot finish") {
    import spark.implicits._
    // a 200-node path: diameter 199 — far past a 64-round label-
    // propagation bound, but ≤ 2·log₂(200) ≈ 16 star rounds
    val chain = (0L until 199L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = DedupOps.clusterFromStar(spark, sf, chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L until 200L).forall(labels(_) == 0L),
      "chain must collapse to one component rooted at 0")
    // everything outside the chain stays a singleton
    assert(labels.collect { case (d, c) if d >= 200 => c == d }.forall(identity))
  }

  test("LSH-edged clustering yields the exact clustering's components at both test SFs") {
    // the 100 TB edge source: minhashLsh emits verified-exact pairs,
    // so with full LSH recall the connected components are identical
    // to the exact n-gram closure — asserted per doc at sf0.001 AND
    // sf0.01 (the driver's verification SF, where dedup_cluster_lsh
    // shares dedup_cluster's recursive-CTE oracle)
    for (d <- Seq(sf, "/root/testdata/sf0.01")) {
      val exact = DedupOps.cluster(spark, d)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val lsh = DedupOps.clusterLsh(spark, d)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(lsh == exact, s"LSH-edged components diverge at $d: " +
        s"${exact.count { case (k, v) => !lsh.get(k).contains(v) }} docs differ")
    }
  }

  test("PQ encoding compresses with bounded codes and sub-baseline reconstruction error") {
    val enc = SimilarityOps.pqEncode(spark, sf).collect()
    // every code addresses a real centroid
    enc.foreach { r =>
      val codes = r.getString(1).split(':').map(_.toInt)
      assert(codes.length == 8)
      assert(codes.forall(c => c >= 0 && c < 16), codes.toSeq)
    }
    val avgErr = enc.map(_.getDouble(2)).sum / enc.length
    // the global variance is the error of the trivial one-centroid
    // codebook; a trained codebook must clearly beat it
    import org.apache.spark.sql.functions._
    val totalVar = Engine.table(spark, sf, "embeddings")
      .select(explode(col("embedding")).as("x"))
      .agg((variance(col("x")) * 64).as("tv")).collect()(0).getDouble(0)
    assert(avgErr < totalVar * 0.8,
      s"PQ reconstruction err2 $avgErr vs total variance $totalVar")
  }

  test("PQ-ADC shortlist + exact re-rank recall vs brute-force top-5") {
    val bf = SimilarityOps.knnBruteForce(spark, sf)
      .select("query_id", "neighbor_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val pq = SimilarityOps.annPq(spark, sf)
      .select("query_id", "neighbor_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val recalls = bf.map { case (q, truth) =>
      truth.intersect(pq.getOrElse(q, Set.empty)).size.toDouble / truth.size
    }
    val mean = recalls.sum / recalls.size
    // 32-bit codes + a 10%-of-corpus shortlist on unstructured random
    // vectors: 0.64 mean / 0.40 min measured; assert with margin
    assert(mean >= 0.55, s"mean PQ recall@5 $mean")
    assert(recalls.min >= 0.3, s"min PQ recall@5 ${recalls.min}")
  }

  test("exact dedup keeps one representative per distinct text") {
    val docs = Engine.table(spark, sf, "documents")
    val nDistinct = docs.select("text").distinct().count()
    assert(DedupOps.exact(spark, sf).count() == nDistinct)
  }

  test("bloom cross-corpus membership: no false negatives, bounded false positives") {
    // the testdata corpus has no exact text duplicates at all, so
    // cross-corpus members must be PLANTED: re-tag 20 copies of
    // reference texts under another source at shifted doc_ids
    val docs = Engine.table(spark, sf, "documents")
    val plantedDocs = docs
      .filter(col("source") === DedupOps.BloomRefSource)
      .orderBy(col("doc_id")).limit(20)
      .select((col("doc_id") + 100000L).as("doc_id"), lit("srcX").as("source"),
        col("text"))
    val aug = docs.select("doc_id", "source", "text").unionByName(plantedDocs)
    val rows = DedupOps.bloomFilterDedupFrom(spark, aug)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1))
    val flagged = rows.collect { case (id, true) => id }.toSet
    val member = DedupOps.bloomExactTwinFrom(aug)
      .collect().map(_.getLong(0)).toSet
    val plantedIds = plantedDocs.collect().map(_.getLong(0)).toSet
    assert(plantedIds.subsetOf(member), "planted members missing from exact twin")
    assert(member.subsetOf(flagged),
      s"bloom false negatives: ${(member -- flagged).take(5)}")
    val nonMember = rows.length - member.size
    val fpr = if (nonMember <= 0) 0.0
      else (flagged -- member).size.toDouble / nonMember
    assert(fpr <= 3 * DedupOps.BloomFpp, s"bloom fpr $fpr")
  }

  test("substring dedup finds planted verbatim spans and nothing else") {
    // the corpus shares no long verbatim spans, so span-dups are
    // PLANTED: graft the first 20 WORDS of doc i into doc i+100's
    // text at doc_id i+300000 (20 ≥ the 13-word winnowing guarantee)
    val docs = Engine.table(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    // sources: the 20 lowest-id docs long enough that their 20-word
    // prefix is a full-length span (the guarantee needs ≥ 13 words)
    val srcRows = docs.filter(size(split(col("text"), " ")) >= 30)
      .orderBy(col("doc_id")).limit(20)
      .select(col("doc_id"),
        array_join(slice(split(col("text"), " "), 1, 20), " ").as("span"))
      .collect()
    assert(srcRows.length == 20, "testdata assumption broken: <20 long docs")
    import spark.implicits._
    val spans = srcRows.zipWithIndex
      .map { case (r, k) => (k.toLong, r.getString(1)) }.toSeq.toDF("k", "span")
    // host k (doc 100+k re-tagged as 300000+k) carries span of src k
    val built = docs.filter(col("doc_id") >= 100 && col("doc_id") < 120)
      .withColumn("k", col("doc_id") - 100L)
      .join(spans, "k")
      .select((col("k") + 300000L).as("doc_id"),
        concat(col("text"), lit(" "), col("span"), lit(" tail")).as("text"))
    val aug = docs.unionByName(built)
    val pairs = DedupOps.substringDedupFrom(spark, aug)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = srcRows.zipWithIndex
      .map { case (r, k) => (r.getLong(0), k + 300000L) }.toSet
    // every planted pair found (winnowing guarantee)
    assert(want.subsetOf(pairs),
      s"missed planted span pairs: ${(want -- pairs).take(5)}")
    // any raw-corpus pairs (repeated sentence fragments) are
    // legitimate — verify a sample of them exactly: each reported
    // pair must truly share a verbatim 4-word run (precision; the op
    // compares gram strings in the join, so a failure here would
    // mean fingerprint plumbing broke)
    val rawPairs = pairs.filter { case (a, b) => a < 300000L && b < 300000L }
    val K = graft.functions.Winnowing.WordGram
    val texts = docs.filter(col("doc_id") < 500)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def grams(s: String): Set[String] = {
      val ws = s.split(" ", -1)
      if (ws.length < K) Set.empty
      else (0 to ws.length - K).map(i => ws.slice(i, i + K).mkString(" ")).toSet
    }
    for ((a, b) <- rawPairs.take(10) if texts.contains(a) && texts.contains(b)) {
      assert((grams(texts(a)) & grams(texts(b))).nonEmpty,
        s"pair ($a,$b) reported but shares no $K-word run")
    }
  }

  test("semantic dedup drops planted paraphrase vectors and keeps the rest") {
    // the testdata embeddings are uniform random (max pairwise cosine
    // ≈ 0.51), so semantic dups must be PLANTED: for each vec_id < 50
    // add a copy at id+10000 with a 5%-of-norm bump on dimension 0 —
    // cosine vs the original ≈ 0.9988 ≥ τ, natural pairs all ≪ τ.
    def withNrm(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("nrm", sqrt(aggregate(
        transform(col("v"), x => x * x), lit(0.0), (acc, x) => acc + x)))
    val base = Engine.table(spark, sf, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val planted = withNrm(base.filter(col("vec_id") < 50))
      .select((col("vec_id") + 10000L).as("vec_id"),
        transform(col("v"), (x, i) =>
          when(i === 0, x + lit(0.05) * col("nrm")).otherwise(x)).as("v"))
    val aug = withNrm(base.select("vec_id", "v")
      .unionByName(planted.select("vec_id", "v")))
    val res = SimilarityOps.semanticDedupFrom(spark, aug).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val plantedIds = (0L until 50L).map(_ + 10000L).toSet
    assert(res.size == base.count() + 50, "one row per vector")
    val dropped = res.collect { case (id, false) => id }.toSet
    // exact twin on the augmented corpus: the greedy lower-id rule
    // must drop exactly the planted copies — and so must the
    // cluster-local path (a copy sits next to its original, so the
    // 2-probe assignments coincide)
    assert(dropped == plantedIds,
      s"missed ${(plantedIds -- dropped).take(5)}, false ${(dropped -- plantedIds).take(5)}")
  }

  test("incremental dedup finds planted batch-vs-corpus duplicates") {
    import org.apache.spark.sql.functions._
    // plant: verbatim copies of 5 corpus (non-batch) docs re-ingested
    // under the batch source — the exact scenario the incremental op
    // exists for. Identical text => identical signature => every band
    // collides => candidate guaranteed, and verification sees J = 1.0
    val docs = Engine.table(spark, sf, "documents")
      .select("doc_id", "text", "lang", "source", "n_chars")
    val planted = docs
      .filter(col("source") =!= DedupOps.IncrementalBatchSource)
      .orderBy(col("doc_id")).limit(5)
      .select((col("doc_id") + 500000L).as("doc_id"), col("text"),
        col("lang"), lit(DedupOps.IncrementalBatchSource).as("source"),
        col("n_chars"))
    val dir = java.nio.file.Files.createTempDirectory("graft_inc").toString
    docs.unionByName(planted).write.parquet(s"$dir/documents.parquet")
    val found = DedupOps.minhashLshIncremental(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = planted.collect().map(_.getLong(0))
      .map(id => (id, id - 500000L)).toSet
    assert(want.subsetOf(found),
      s"missed planted incremental dups: ${(want -- found).take(5)}")
    // and the emitted pairs are strictly cross-side
    val newIds = Engine.table(spark, dir, "documents")
      .filter(col("source") === DedupOps.IncrementalBatchSource)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    for ((a, b) <- found) {
      assert(newIds.contains(a), s"new_id $a not in batch source")
      assert(!newIds.contains(b), s"ref_id $b is in batch source")
    }
  }

  test("k-means: Lloyd descends, runs are reproducible, assignment is exact") {
    val (cents, inertias) = SimilarityOps.kmeansFit(spark, sf)
    assert(inertias.head >= inertias.last,
      s"Lloyd inertia rose: ${inertias.toSeq}")
    // partitioning-independence claim: the quantized long centroid
    // sums are order-free, so a second fit (fresh jobs, fresh task
    // splits) must reproduce the centroid matrix BIT-FOR-BIT
    val (cents2, inertias2) = SimilarityOps.kmeansFit(spark, sf)
    assert(cents.length == cents2.length &&
      cents.indices.forall(j => cents(j).sameElements(cents2(j))),
      "refit centroids differ — trajectory not partitioning-independent")
    assert(inertias.sameElements(inertias2))
    val assigned = SimilarityOps.kmeans(spark, sf).collect()
    val nVec = Engine.table(spark, sf, "embeddings").count()
    assert(assigned.length == nVec, "every vector assigned exactly once")
    val used = assigned.map(_.getLong(1)).distinct
    assert(used.forall(c => c >= 0 && c < cents.length))
    assert(used.length > 1, "degenerate single-cluster fit")
    def argmin(x: Array[Double], c: Array[Array[Double]]): (Int, Double) = {
      var best = 0; var bestD = Double.MaxValue
      var j = 0
      while (j < c.length) {
        var s = 0.0; var i = 0
        while (i < x.length) { val t = x(i) - c(j)(i); s += t * t; i += 1 }
        if (s < bestD) { bestD = s; best = j }
        j += 1
      }
      (best, bestD)
    }
    val xs = Engine.table(spark, sf, "embeddings")
      .selectExpr("vec_id", "cast(embedding as array<double>)").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    // reassigning against the final centroids cannot exceed the last
    // sweep's inertia (the Lloyd half-step invariant)
    val reInertia = graft.operators.Exact.dsumScalar(
      xs.map(x => argmin(x._2, cents)._2).toSeq)
    assert(reInertia <= inertias.last + 1e-9,
      s"reassignment worsened inertia: $reInertia > ${inertias.last}")
    // and the emitted assignment matches the driver argmin everywhere
    val gotById = assigned.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val mismatches = xs.count { case (id, x) =>
      gotById(id) != argmin(x, cents)._1.toLong
    }
    assert(mismatches == 0, s"$mismatches assignment mismatches")
  }

  test("shared kNN edge list is built once per (session, dir) and matches a fresh build") {
    import graft.operators.SimilarityOps
    // same DataFrame instance on repeat — the cache, not a rebuild
    val e1 = SimilarityOps.sharedKnnEdges(spark, sf)
    val e2 = SimilarityOps.sharedKnnEdges(spark, sf)
    assert(e1 eq e2, "sharedKnnEdges rebuilt the graph for the same (session, dir)")
    // and the materialized edges equal a fresh knnGraph build exactly
    // (the build is deterministic, so caching cannot change results)
    val cached = e1.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val fresh = SimilarityOps.knnGraph(spark, sf)
      .select("vec_id", "neighbor_id", "cosine_r").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(cached == fresh, "cached edge list diverged from a fresh build")
  }

  test("shared kNN edges are rebuilt after every persistent RDD is released") {
    // a runner's cleanup between queries releases the edge list's
    // checkpoint blocks; the next graph op must rebuild, not read them
    def outliers(sp: org.apache.spark.sql.SparkSession) = SparkEntry.queries("sim_knn_outliers")(sp, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3))).sortBy(_._1).toSeq
    SparkEntry.queries("sim_graph_centrality")(spark, sf).write.format("noop").mode("overwrite").save()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist())
    val got = outliers(spark)
    assert(got.nonEmpty)
    assert(got == outliers(spark.newSession()), "outliers over the rebuilt edges differ from a fresh session's")
  }

  test("knn outliers flag exactly the minimal bottom share of mean neighbor cosine") {
    import graft.operators.SimilarityOps
    val rows = SimilarityOps.knnOutliers(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    val n = rows.length
    assert(n > 0)
    val inv = math.round(1.0 / SimilarityOps.KnnOutlierShare)
    val flagged = rows.filter(_._4)
    // covers the share: |flagged| >= ceil(n / inv)
    assert(flagged.length * inv >= n,
      s"${flagged.length} flagged of $n misses the 1/$inv share")
    // minimal: the flagged set is exactly { mean <= t } for the
    // smallest t reaching the share — strictly-below-t rows alone
    // fall short, and no unflagged row sits at or below t
    val t = flagged.map(_._3).max
    assert(rows.count(_._3 < t) * inv < n, "threshold not minimal")
    assert(rows.forall(r => r._4 == (r._3 <= t)), "flag is not a clean cut at t")
    // every vector scored: k neighbors positive, mean in [-1, 1]
    assert(rows.forall(r => r._2 > 0 && r._3 >= -1.0 && r._3 <= 1.0))
    // deterministic on a second run
    val again = SimilarityOps.knnOutliers(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    assert(again.toSet == rows.toSet)
  }

  test("knn outlier mean uses FLOOR division, not truncation, on negative sums") {
    // -5/2: floor = -3, truncation-toward-zero (SQL `div`) = -2 — a
    // negative mean cosine is exactly where the two semantics split,
    // and the op's scaladoc promises floor
    import spark.implicits._
    val got = Seq((-5L, 2L), (5L, 2L), (-10001L, 3L), (0L, 7L), (-4L, 2L))
      .toDF("sum_q", "k_nbrs")
      .select(SimilarityOps.meanQ(col("sum_q"), col("k_nbrs")).as("mq"))
      .collect().map(_.getLong(0)).toSeq
    val want = Seq((-5L, 2L), (5L, 2L), (-10001L, 3L), (0L, 7L), (-4L, 2L))
      .map { case (s, k) => Math.floorDiv(s, k) }
    assert(got == want, s"meanQ is not floor division: $got vs $want")
    assert(Math.floorDiv(-5L, 2L) == -3L && -5L / 2L == -2L) // the split case
  }

  test("TopKNbrAgg dedups on id alone and fails loudly on a bits mismatch") {
    val agg = new graft.functions.TopKNbrAgg(3)
    def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    // equal (id, cos) repeated: one slot, no matter the arrival order
    var b = agg.zero
    b = agg.reduce(b, (7L, 0.9)); b = agg.reduce(b, (5L, 0.8))
    b = agg.reduce(b, (7L, 0.9)) // duplicate id, identical cosine
    assert(b.grouped(2).count(_.head != Long.MinValue) == 2)
    assert(b(0) == 7L && b(1) == bits(0.9) && b(2) == 5L)
    // a repeated id with a DIFFERENT cosine violates the determinism
    // contract — must throw, never occupy a second slot (the round-10
    // (id,bits)-keyed dedup would have corrupted the graph silently)
    val ex = intercept[IllegalStateException] { agg.reduce(b, (5L, 0.95)) }
    assert(ex.getMessage.contains("determinism contract"))
    // same via merge: partial buffers from two partitions
    var b1 = agg.zero; b1 = agg.reduce(b1, (1L, 0.5))
    var b2 = agg.zero; b2 = agg.reduce(b2, (1L, 0.6))
    intercept[IllegalStateException] { agg.merge(b1, b2) }
  }
}
