package graft.operators

import graft.Engine
import graft.functions.Hashing
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search, clustering and embedding statistics over the
  * `embeddings` table (Array[Float], 64-d).
  *
  * Every kNN/ANN op has one shape: a candidate generator emits
  * (query_id, vec_id) pairs, each candidate gets its exact cosine, and
  * one top-k tail ranks the candidates per query. The generators are
  * the op's own: the whole corpus (brute force, the oracled baseline),
  * LSH buckets with multi-probe, IVF inverted lists, a PQ-ADC or
  * Hamming shortlist, or per-shard HNSW graphs. The shared path from
  * candidates to the answer is [[exactRerank]] (join the vectors back
  * and score), [[neighbors]] (rank by cosine DESC, vec_id ASC, keep
  * 5, round to 4 dp) and [[topK]] under both. The quantizers share one
  * nearest-centroid kernel, [[nearest]].
  *
  * All dot products run in double precision through the codegen'd
  * [[graft.functions.DotProduct]], accumulated in ascending index order
  * as DuckDB's list_inner_product does, so cosines are bit-identical
  * and threshold and top-k decisions agree with the oracles.
  */
object SimilarityOps {

  /** embeddings with double-precision vector + L2 norm. */
  private def vecs(sp: SparkSession, dir: String): DataFrame =
    vecsFrom(Engine.table(sp, dir, "embeddings"))

  private def vecsFrom(emb: DataFrame): DataFrame =
    emb
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))

  /** Codegen'd fixed-fold dot product ([[graft.functions.DotProduct]]).
    * Replaced the interpreted `aggregate(zip_with(...))` HOF form in
    * round 9 — same i-ascending fold, bit-identical cosines, but the
    * scoring stays inside WholeStageCodegen. */
  private def dot(a: Column, b: Column): Column =
    graft.functions.functions.dot_product(a, b)

  /** Exact cosine of the query vector (qv, qn) against the candidate
    * vector (v, nrm). */
  private def exactCosine: Column =
    dot(col("qv"), col("v")) / (col("qn") * col("nrm"))

  /** Query side of the kNN/ANN ops: vec_id < 10 as (query_id, qv, qn). */
  private def queryVecs(all: DataFrame): DataFrame =
    all.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))

  /** Per-query top-k: rows ranked per `query_id` by `score`, then by
    * `tie`, keeping rank ≤ k in column `rankCol` (row_number + filter,
    * which Catalyst plans as a WindowGroupLimit). */
  private def topK(df: DataFrame, score: Column, k: Int,
      rankCol: String = "rank", tie: String = "vec_id"): DataFrame =
    df.withColumn(rankCol, row_number().over(
        Window.partitionBy(col("query_id")).orderBy(score, col(tie))))
      .filter(col(rankCol) <= k)

  /** The kNN/ANN answer: the 5 best `cosine`s per query, ties to the
    * lower vec_id, as (query_id, neighbor_id, rank, `carry`...,
    * cosine_r) with cosine_r = round(cosine, 4). A query with fewer
    * than 5 candidates gets a shorter list. */
  private[graft] def neighbors(scored: DataFrame, carry: Column*): DataFrame =
    topK(scored, col("cosine").desc, 5)
      .select(Seq(col("query_id"), col("vec_id").as("neighbor_id"), col("rank")) ++
        carry :+ round(col("cosine"), 4).as("cosine_r"): _*)

  /** Exact cosine re-rank of a (query_id, vec_id) candidate set → the
    * [[neighbors]] answer. Raw vectors are fetched only for the
    * candidates; `q` is the (query_id, qv, qn) query side. */
  private def exactRerank(sp: SparkSession, dir: String, q: DataFrame,
      cands: DataFrame): DataFrame =
    neighbors(cands
      .join(vecs(sp, dir), "vec_id")
      .join(q.select(col("query_id"), col("qv"), col("qn")), "query_id")
      .withColumn("cosine", exactCosine))

  /** Nearest center to p(off until off+len) by squared Euclidean
    * distance against each c(0 until len): (index, distance). Sums run
    * in ascending i and the compare is strict `<`, so ties go to the
    * lowest index. */
  private def nearest(p: Array[Double], cs: Array[Array[Double]],
      off: Int, len: Int): (Int, Double) = {
    var best = 0; var bestD = Double.MaxValue
    var j = 0
    while (j < cs.length) {
      val c = cs(j)
      var d = 0.0; var i = 0
      while (i < len) { val t = p(off + i) - c(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = j }
      j += 1
    }
    (best, bestD)
  }

  /** Deterministic driver-side Lloyd on a bounded sample: seeds = the
    * first min(k, |sample|) points (callers pass the sample in id-hash
    * order), fixed sweep count, empty clusters keep their previous
    * center. A local loop costs microseconds where an MLlib fit
    * schedules ~15 distributed jobs (init rounds + iterations) just to
    * sweep a sub-10k sample — measured 8 such fits at ~19 s of pure
    * scheduler overhead in the PQ codebook path. Returns ≤ k centers
    * (short samples yield fewer); callers needing exactly k pad. */
  private def localLloyd(sample: Array[Array[Double]], k: Int,
      iters: Int, seeds: Array[Array[Double]] = null): Array[Array[Double]] = {
    val dim = sample.head.length
    var c = if (seeds != null) seeds.map(_.clone)
            else sample.take(k).map(_.clone)
    for (_ <- 1 to iters) {
      val sums = Array.fill(c.length)(new Array[Double](dim))
      val cnts = new Array[Long](c.length)
      for (p <- sample) {
        val (best, _) = nearest(p, c, 0, dim)
        var i = 0
        while (i < dim) { sums(best)(i) += p(i); i += 1 }
        cnts(best) += 1
      }
      c = c.indices.map { j =>
        if (cnts(j) == 0) c(j)
        else sums(j).map(_ / cnts(j))
      }.toArray
    }
    c
  }

  /** Deterministic k-means++ seeding: seed 0 is the first sample
    * point in id-hash order; each next seed is D²-weighted-sampled
    * with a splitmix64 variate keyed on the draw index, so the run is
    * fully reproducible. First-k seeding collapses hash-adjacent
    * points into neighbouring lists (the IVF coarse quantizer
    * measured recall@5 0.70 vs 0.88 at the 10× corpus that way), and
    * pure farthest-point chases hull outliers in high dimension —
    * D²-weighting is the standard fix. O(k·|sample|·dim),
    * driver-side. */
  private def kppSeeds(sample: Array[Array[Double]], k: Int,
      seedKey: Long = 0L): Array[Array[Double]] = {
    val n = sample.length
    val kk = math.min(k, n)
    val seeds = new Array[Array[Double]](kk)
    seeds(0) = sample(((Hashing.mix(seedKey + Hashing.Golden) >>> 1) % n).toInt)
    val minD = Array.fill(n)(Double.MaxValue)
    var s = 1
    while (s < kk) {
      val last = seeds(s - 1)
      var total = 0.0
      var i = 0
      while (i < n) {
        val p = sample(i)
        var d = 0.0; var j = 0
        while (j < p.length) { val t = p(j) - last(j); d += t * t; j += 1 }
        if (d < minD(i)) minD(i) = d
        total += minD(i)
        i += 1
      }
      // u in [0,1) from (restart, draw) — deterministic
      val u = (Hashing.mix(seedKey * 1000003L + s + Hashing.Golden) >>> 11).toDouble /
        (1L << 53).toDouble
      val target = u * total
      var acc = 0.0; var pick = n - 1
      i = 0
      var found = false
      while (i < n && !found) {
        acc += minD(i)
        if (acc >= target) { pick = i; found = true }
        i += 1
      }
      seeds(s) = sample(pick)
      s += 1
    }
    seeds
  }


  /** Bounded (≤10k) training sample in deterministic id-hash order —
    * the shared quantizer-training posture (see [[semanticDedupFrom]]):
    * k-means needs O(k·10³) points, never the corpus. */
  private def lloydSample(sp: SparkSession, all: DataFrame,
      modKnob: String, fallbackK: Int): Array[Array[Double]] = {
    import sp.implicits._
    val sampleMod = sp.conf.getOption(modKnob).map(_.toInt).getOrElse(4)
    val hashSample = all
      .filter(pmod(xxhash64(col("vec_id")), lit(sampleMod)) === 0)
      .select(xxhash64(col("vec_id")).as("ord"), col("v"))
      .orderBy(col("ord")).limit(10000)
      .select("v").as[Seq[Double]].collect().map(_.toArray)
    if (hashSample.nonEmpty) hashSample
    else all.select("v").as[Seq[Double]].limit(fallbackK).collect().map(_.toArray)
  }

  /** Brute-force cosine top-k (k=5) for query vectors vec_id < 10.
    * Deterministic tie-break on neighbor id. */
  def knnBruteForce(sp: SparkSession, dir: String): DataFrame = {
    val all = vecs(sp, dir)
    neighbors(queryVecs(all).join(all, col("vec_id") =!= col("query_id"))
      .withColumn("cosine", exactCosine))
  }

  val knnBruteForceOracle: String = """
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings),
    scored AS (
      SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
        list_inner_product(q.v, a.v) / (q.nrm * a.nrm) AS cosine
      FROM v q JOIN v a ON a.vec_id <> q.vec_id
      WHERE q.vec_id < 10),
    ranked AS (
      SELECT query_id, neighbor_id, cosine,
        row_number() OVER (PARTITION BY query_id
                           ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored)
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
      round(cosine, 4) AS cosine_r
    FROM ranked WHERE rank <= 5"""

  // Random-hyperplane LSH, L independent tables of k bits each
  // (sig bit = sign(v · plane)); deterministic seeded directions.
  // L×k trades recall vs candidate volume — the standard knob at
  // scale. The plane pool is sized for the adaptive upper bound
  // (MaxTables × MaxBits); a (L, k) configuration uses its prefix.
  private val NumTables = 8
  private val BitsPerTable = 6
  private val MaxTables = 24
  private val MaxBits = 16
  val Dim = 64
  private val planes: Array[Array[Array[Double]]] = {
    val r = new scala.util.Random(7)
    Array.fill(MaxTables, MaxBits)(Array.fill(Dim)(r.nextGaussian()))
  }

  /** Corpus-size-adaptive (tables, bits): keep expected bucket
    * occupancy near 32 (candidate volume ∝ n²/2^bits, so fixed bits
    * turn quadratic at scale), and add tables as bits grow so the
    * cos ≥ 0.95 pair-recall stays ≥ ~99% (per-bit collision
    * probability 1 − θ/π ≈ 0.9 at θ = 18°: recall =
    * 1 − (1 − 0.9^bits)^tables). At the oracle SFs (n ≤ 2000) this
    * resolves to the historical 8 × 6 configuration. */
  private[graft] def lshConfig(n: Long): (Int, Int) = {
    def ceilLog2(x: Long) = 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, x - 1))
    val bits = math.max(BitsPerTable, math.min(MaxBits, ceilLog2(math.max(1L, n / 32))))
    val tables = math.min(MaxTables,
      math.max(NumTables, math.ceil(NumTables * math.pow(0.9, BitsPerTable - bits)).toInt))
    (tables, bits)
  }

  /** (table, sig) bucket entries, one row per table per vector.
    *
    * Signatures are computed in one tight per-partition pass over
    * primitive arrays. The earlier expression formulation (8 tables ×
    * 6 bits × 64 `element_at` terms inlined into one projection)
    * exceeded Janino's generated-method limits, so whole-stage codegen
    * FELL BACK to interpreted eval and signature computation dominated
    * the whole operator (~20 s at sf0.1, the top cost in
    * SCALEBENCH.json before this change). Summation order matches the
    * old expression (i = 0..63 left fold), so signatures are
    * bit-identical. */
  private[graft] def buckets(df: DataFrame,
      numTables: Int = NumTables, bitsPerTable: Int = BitsPerTable): DataFrame = {
    val sp = df.sparkSession
    import sp.implicits._
    val (pl, nt, bt, dim) = (planes, numTables, bitsPerTable, Dim)
    df.select(col("vec_id"), col("v"), col("nrm"))
      .as[(Long, Seq[Double], Double)]
      .mapPartitions { it =>
        it.flatMap { case (id, vSeq, nrm) =>
          val v = vSeq.toArray
          (0 until nt).iterator.map { t =>
            var sig = 0L
            val margin = new Array[Double](bt)
            var p = 0
            while (p < bt) {
              val plane = pl(t)(p)
              var s = 0.0
              var i = 0
              while (i < dim) { s += v(i) * plane(i); i += 1 }
              if (s >= 0) sig |= 1L << p
              margin(p) = math.abs(s)
              p += 1
            }
            // `ord` packs the bit indices ascending by |projection
            // margin| (ties on index), 4 bits each — the Lv et al.
            // multi-probe order: flipping the least-confident bits
            // first recovers most neighbors per probe, so probers can
            // stop at a CONSTANT probe count as bits grow with the
            // corpus. bt ≤ MaxBits = 16 keeps 16 indices in one long.
            val idx = (0 until bt).sortBy(p2 => (margin(p2), p2))
            var ord = 0L
            var q = 0
            while (q < bt) { ord |= idx(q).toLong << (q * 4); q += 1 }
            (id, vSeq, nrm, t, sig, ord)
          }
        }
      }
      .toDF("vec_id", "v", "nrm", "tbl", "sig", "ord")
  }

  /** ANN: L hash tables + 1-bit-flip multi-probe on the query side,
    * exact cosine re-rank over the candidate union, top-k per query.
    * Approximate by construction → no SQL oracle; recall vs brute
    * force is asserted in DedupSimilaritySpec. */
  def annLsh(sp: SparkSession, dir: String): DataFrame = {
    val all = buckets(vecs(sp, dir))
    val probes = array(
      col("sig") +: (0 until BitsPerTable).map(b => col("sig").bitwiseXOR(lit(1L << b))): _*)
    val probe = buckets(vecs(sp, dir).filter(col("vec_id") < 10))
      .select(col("vec_id").as("query_id"), col("tbl").as("qtbl"),
        explode(probes).as("qsig"))
    // dedup on the id pair only (see embeddingNearDupLsh), then join
    // the vectors back for exact scoring
    val cands = probe.join(all.select(col("vec_id"), col("tbl"), col("sig")),
        col("tbl") === col("qtbl") && col("sig") === col("qsig") &&
          col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
      .distinct() // a pair can collide in several tables/probes
    exactRerank(sp, dir, queryVecs(vecs(sp, dir)), cands)
  }

  /** IVF routing shared by [[annIvf]] and [[annIvfPq]]: trains the
    * coarse quantizer and routes queries to their nProbe nearest
    * lists. Returns (corpus list assignment, query probes, corpus
    * size).
    *
    * IVF scaling law: lists ∝ √N, probes a fixed fraction of lists —
    * with FIXED k the quantizer coarsens as the corpus grows and
    * recall decays silently (measured 0.70 → 0.54 at 10× rows with
    * k=16/nProbe=4; the same decay mode as the PQ fixed-shortlist
    * regression). Floored at (16, 4) so behavior at the oracle SFs is
    * unchanged; the probed fraction stays ~¼ of the corpus at every
    * scale while the finer quantization keeps candidates local. The
    * count() is one cheap aggregate job (a table stat at 100 TB). */
  private def ivfRouting(sp: SparkSession, dir: String,
      sampleIn: Array[Array[Double]] = null)
      : (DataFrame, DataFrame, Long) = {
    import sp.implicits._
    val all = vecs(sp, dir)
    val nVecs = all.count()
    val k = math.max(16, math.round(math.sqrt(nVecs.toDouble) / 3.0).toInt)
    // probes cover ~half the lists by default: the testdata embeddings
    // are UNIFORM RANDOM — the worst case for any space partitioner
    // (cosine mass concentrates, every cell borders the query cone) —
    // and half-probing is what recall@5 ≥ 0.8 costs there (measured at
    // the 10× corpus: ⅓ → 0.70, ½ → 0.84, ⅔ → 0.94). Real embedding
    // corpora cluster, so the same recall needs a far smaller fraction
    // — the knob mirrors `graft.pq.shortlistFrac`'s argument.
    val nProbe = sp.conf.getOption("graft.ivf.probeLaw").getOrElse("half") match {
      case "third"    => math.max(4, (k + 2) / 3)
      case "twothird" => math.max(4, (2 * k + 2) / 3)
      case _          => math.max(4, (k + 1) / 2)
    }
    // train the coarse quantizer with driver-side Lloyd on a bounded
    // hash sample — k-means needs O(k·10³) points, never the corpus,
    // and the local loop replaces ~15 scheduled jobs per MLlib fit
    // (at quantizer sizes beyond ~3k lists, raise the sample cap or
    // train hierarchically — the 10k cap keeps ≥3 points per list up
    // to k ≈ 3000, i.e. corpora to ~10⁸ vectors at the √N law).
    // `sampleIn` lets a composed op (annIvfPq) hand in the one sample
    // it already collected — identical rows, one sample job fewer.
    val sample = if (sampleIn != null) sampleIn
      else lloydSample(sp, all, "graft.ivf.sampleMod", k)
    // SPHERICAL k-means: the ANN metric is cosine, so the quantizer
    // clusters UNIT vectors — Euclidean Voronoi cells on the sphere
    // are exactly cosine Voronoi cells. Clustering the raw
    // (unnormalized) vectors lets vector length drive the partition
    // and costs recall (measured 0.68-0.74 at the 10× corpus across
    // seeding variants, vs ≥0.8 spherical).
    val unit = sample.map { p =>
      var n2 = 0.0; var i = 0
      while (i < p.length) { n2 += p(i) * p(i); i += 1 }
      val inv = 1.0 / math.sqrt(n2)
      p.map(_ * inv)
    }
    val cents = localLloyd(unit, k, 15, kppSeeds(unit, k))
    val bc = sp.sparkContext.broadcast(cents)
    // assignment is one partition-local pass: k·dim flops per row
    // against the broadcast centroids (the standard IVF build cost)
    val assigned = all.select(col("vec_id"), col("v"), col("nrm"))
      .as[(Long, Seq[Double], Double)]
      .mapPartitions { it =>
        val cs = bc.value
        it.map { case (id, vSeq, nrm) =>
          val inv = 1.0 / nrm
          val u = vSeq.toArray.map(_ * inv)
          (id, vSeq, nrm, nearest(u, cs, 0, u.length)._1)
        }
      }
      .toDF("vec_id", "v", "nrm", "list_id")
    // centroid table is tiny (k rows) → literal DataFrame, broadcast
    val centroids = sp.createDataFrame(
      cents.zipWithIndex.toSeq.map { case (c, i) => (i, c) })
      .toDF("cid", "centroid")
    val cdist = queryVecs(vecs(sp, dir)).crossJoin(broadcast(centroids))
      .withColumn("cdist", aggregate(
        zip_with(col("qv"), col("centroid"), (x, y) => (x / col("qn") - y) * (x / col("qn") - y)),
        lit(0.0), (acc, x) => acc + x))
    val qProbes = topK(cdist, col("cdist"), nProbe, "crank", "cid")
      .select(col("query_id"), col("qv"), col("qn"), col("cid"))
    (assigned, qProbes, nVecs)
  }

  /** IVF ANN: a spherical k-means coarse quantizer (driver-side Lloyd
    * on a hash sample, see [[ivfRouting]]) partitions the corpus into
    * inverted lists; queries probe the nProbe nearest centroids and
    * re-rank exactly inside those lists. The 100 TB path: train on a
    * sample, assignment is one map pass, probing touches nProbe/k of
    * the data. No SQL oracle (quantizer is iterative); recall vs brute
    * force asserted in the spec. */
  def annIvf(sp: SparkSession, dir: String): DataFrame = {
    val (assigned, qProbes, _) = ivfRouting(sp, dir)
    neighbors(qProbes.join(assigned,
        col("list_id") === col("cid") && col("vec_id") =!= col("query_id"))
      .withColumn("cosine", exactCosine))
  }

  /** Embedding near-duplicate pairs: cosine ≥ τ, id-ordered.
    * Exact all-pairs — the small-scale oracle twin of
    * [[embeddingNearDupLsh]] (τ = 0.95) and, at [[SemDedupTau]], the
    * measurement twin of [[semanticDedup]]'s quality gate. */
  def embeddingNearDup(sp: SparkSession, dir: String,
      tau: Double = 0.95): DataFrame = {
    val a = vecs(sp, dir)
      .select(col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
    val b = vecs(sp, dir)
      .select(col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cosine", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cosine") >= tau)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine_r"))
  }

  // ------------------------------------------------- semantic dedup

  /** A pair with cosine ≥ τ is a semantic duplicate; the higher-id
    * member is dropped. Lower than the 0.95 near-dup bar on purpose:
    * semantic dedup targets paraphrases, not byte-level twins. */
  val SemDedupTau = 0.9

  /** Per-member comparison bound inside one cluster group — safety
    * valve for degenerate corpora that collapse into one cluster
    * (normal cluster size is ~512·2 assignments, far below it). */
  val CompareCap = 4096

  /** SemDeDup-style semantic deduplication (cluster-then-dedup, as in
    * Abbas et al. 2023, arXiv:2303.09540): k-means partitions the
    * embedding space and duplicate search runs ONLY inside clusters,
    * shrinking the n² all-pairs product to k·(n/k)² — with k grown
    * ∝ n (cluster size held constant) the op is linear in the corpus.
    * Each vector is assigned to its 2 nearest centroids so a dup pair
    * straddling a cluster boundary still shares an assignment with
    * high probability; the constant-factor duplicate work is removed
    * by a distinct AFTER the τ filter, where only true dups remain.
    *
    * Decision rule (identical to the exact twin): drop a vector iff
    * some LOWER-id vector with cosine ≥ τ exists. Every drop is
    * backed by an exactly-computed in-cluster pair — also a global
    * pair — so vs the all-pairs twin precision is 1.0 by construction
    * and only recall is approximate (gated in quality.json and
    * DedupSimilaritySpec).
    *
    * Scale shape: quantizer trains on a hash sample (same posture as
    * [[annIvf]]); assignment is a shuffle-free typed pass with the
    * k×dim centroid matrix riding the closure (no n×k crossJoin
    * inflation); the only shuffle is the cluster-key self-join.
    * Output: one row per vector, `kept` marking survivors. */
  def semanticDedup(sp: SparkSession, dir: String): DataFrame =
    semanticDedupFrom(sp, vecs(sp, dir))

  /** Core of [[semanticDedup]] over an explicit (vec_id, v, nrm)
    * frame — split out so the spec can plant synthetic near-dup
    * vectors (the testdata embeddings are uniform random: max
    * pairwise cosine ≈ 0.51, so the corpus itself contains no
    * semantic dups at any sensible τ and an unplanted assertion
    * would be vacuous). */
  def semanticDedupFrom(sp: SparkSession, all: DataFrame): DataFrame = {
    import sp.implicits._
    // cluster count grows with the corpus so cluster SIZE stays
    // constant: in-cluster pair volume is k·(n/k)² = n·(n/k), linear
    // once n/k is pinned. One cheap count — the same corpus-sizing
    // posture as the LSH table/bit config.
    val k = math.max(16, (all.count() / 512L).toInt)
    // quantizer training is DRIVER-side Lloyd on a bounded hash
    // sample (≤ 10k vectors — the same bounded-collect posture as the
    // SPN estimator's sample): k-means needs O(k·10³) points, and a
    // local loop over them costs microseconds where an MLlib fit
    // would schedule 5 distributed jobs just to iterate a 500-point
    // sample. Deterministic: sample by id hash, seeds = first k in
    // hash order.
    val sample = lloydSample(sp, all, "graft.ivf.sampleMod", k)
    val cents = localLloyd(sample, k, 5)
    val assigned = all.select(col("vec_id"), col("v"), col("nrm"))
      .as[(Long, Seq[Double], Double)]
      .mapPartitions { it =>
        it.flatMap { case (id, vSeq, nrm) =>
          val v = vSeq.toArray
          var best = -1; var bestD = Double.MaxValue
          var second = -1; var secondD = Double.MaxValue
          var c = 0
          while (c < cents.length) {
            val ctr = cents(c)
            var d = 0.0; var i = 0
            while (i < v.length) { val t = v(i) - ctr(i); d += t * t; i += 1 }
            if (d < bestD) { second = best; secondD = bestD; best = c; bestD = d }
            else if (d < secondD) { second = c; secondD = d }
            c += 1
          }
          Seq((best, id, vSeq, nrm), (second, id, vSeq, nrm))
        }
      }
      .toDF("cid", "vec_id", "v", "nrm")
    // pair scoring runs CLUSTER-LOCALLY: shuffle each vector once per
    // assignment (corpus×2 rows), group by cluster, and compare
    // in-memory inside the group — a pair join would instead carry
    // two 64-double payloads per CANDIDATE PAIR through the shuffle
    // (tens of GB at 20k vectors; this shape measured 6× faster at
    // 10×). Group memory is cluster size × dim ≈ 0.5 MB (bounded by
    // k ∝ n); CompareCap additionally bounds per-member comparisons
    // if a degenerate corpus collapses into one cluster, keeping
    // group work ≤ cap·|group| — a cluster denser than the cap at
    // cosine ≥ τ is one dup pile, and its members all match the
    // lowest-id survivors anyway.
    val dropped = assigned
      .as[(Int, Long, Seq[Double], Double)]
      .groupByKey(_._1)
      .flatMapGroups { (_, it) =>
        val members = it.toArray.sortBy(_._2)
        val ids = members.map(_._2)
        val vs = members.map(_._3.toArray)
        val ns = members.map(_._4)
        val dim = if (vs.isEmpty) 0 else vs(0).length
        val out = Array.newBuilder[Long]
        var j = 1
        while (j < members.length) {
          var i = 0
          var dropJ = false
          val lim = math.min(j, CompareCap)
          while (i < lim && !dropJ) {
            // same fold order as the HOF dot() → bit-identical
            // cosines, so the τ decision agrees with the exact twin's
            var s = 0.0; var d = 0
            val vi = vs(i); val vj = vs(j)
            while (d < dim) { s += vi(d) * vj(d); d += 1 }
            if (s / (ns(i) * ns(j)) >= SemDedupTau) dropJ = true
            i += 1
          }
          if (dropJ) out += ids(j)
          j += 1
        }
        out.result().iterator
      }
      .toDF("vec_id").distinct()
    all.select(col("vec_id"))
      .join(dropped.withColumn("kept", lit(false)), Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("kept"), lit(true)).as("kept"))
  }

  /** Near-duplicates at scale: candidates only from shared LSH buckets
    * (8 tables × 6 bits — a cos ≥ 0.95 pair shares ≥1 bucket with
    * ≈99.8% probability), then exact cosine verification. Candidate
    * volume is bucket-local, so the all-pairs product never forms.
    * Approximate by construction → recall-spec'd, no SQL oracle. */
  def embeddingNearDupLsh(sp: SparkSession, dir: String): DataFrame = {
    import sp.implicits._
    val vv = vecs(sp, dir)
    // size (tables, bits) from the corpus so candidate volume stays
    // near-linear (one cheap count; production LSH sizing needs the
    // same statistic)
    val (tables, bits) = lshConfig(vv.count())
    val b = buckets(vv, tables, bits)
    // one shuffle total: the bucket self-join. Candidates ride the
    // vectors from the join (no re-join), cosine verification runs as
    // a tight typed pass (the HOF dot on millions of candidate pairs
    // was the dominant cost in SCALEBENCH before this change), and
    // dedup happens AFTER the ≥ 0.95 filter where only true near-dup
    // pairs — a tiny set — remain (a pair can collide in several
    // tables; verifying a duplicate candidate twice is far cheaper
    // than a distinct() over the full candidate volume).
    b.as("l").join(b.as("r"),
        col("l.tbl") === col("r.tbl") && col("l.sig") === col("r.sig") &&
          col("l.vec_id") < col("r.vec_id"))
      .select(col("l.vec_id").as("id_a"), col("l.v").as("va"), col("l.nrm").as("na"),
        col("r.vec_id").as("id_b"), col("r.v").as("vb"), col("r.nrm").as("nb"))
      .as[(Long, Seq[Double], Double, Long, Seq[Double], Double)]
      .mapPartitions { it =>
        it.flatMap { case (ida, vaSeq, na, idb, vbSeq, nb) =>
          // same fold order as the HOF dot() → bit-identical cosines
          val va = vaSeq.toArray; val vb = vbSeq.toArray
          var s = 0.0
          var i = 0
          while (i < va.length) { s += va(i) * vb(i); i += 1 }
          val cos = s / (na * nb)
          if (cos >= 0.95)
            // match Spark's round(col, 4): HALF_UP decimal rounding
            Some((ida, idb, BigDecimal(cos)
              .setScale(4, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble))
          else None
        }
      }
      .toDF("id_a", "id_b", "cosine_r")
      .distinct()
  }

  val embeddingNearDupOracle: String = """
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      round(list_inner_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS cosine_r
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE list_inner_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.95"""

  // ---------------------------------------------- product quantization

  private val PqM = 8               // subspaces
  private val PqK = 16              // centroids per subspace
  private val PqSub = Dim / PqM     // dims per subspace

  /** Per-subspace codebooks: PqM independent seeded k-means fits on a
    * deterministic hash sample (same posture as the IVF quantizer —
    * codebook training never reads the full corpus). Returns
    * books(m)(k) = centroid array of subspace m. */
  private def pqCodebooks(sp: SparkSession, dir: String,
      sampleIn: Array[Array[Double]] = null): Array[Array[Array[Double]]] = {
    // ONE bounded sample collect feeds all M subspace codebooks —
    // the prior shape (8 sequential MLlib fits over the same sample)
    // spent ~19 s of pure job-scheduling overhead at any SF
    val sample = if (sampleIn != null) sampleIn
      else lloydSample(sp, vecs(sp, dir), "graft.pq.sampleMod", PqK)
    (0 until PqM).map { m =>
      val sub = sample.map(v =>
        java.util.Arrays.copyOfRange(v, m * PqSub, (m + 1) * PqSub))
      val centers = localLloyd(sub, PqK, 5)
      // a tiny sample can yield < K centers; pad by repeating the
      // last one (ties resolve to the first index — deterministic)
      if (centers.length < PqK)
        centers ++ Array.fill(PqK - centers.length)(centers.last)
      else centers
    }.toArray
  }

  /** PQ encoding: each 64-d float vector becomes PqM 4-bit codes
    * (nearest centroid per subspace) — 8 codes instead of 256 raw
    * bytes, the standard embedding-storage compression. Output carries
    * the per-vector squared reconstruction error; codes are
    * deterministic (seeded codebooks, hash-sampled training).
    *
    * The argmin runs as a partition-local loop over the broadcast
    * codebooks, not an expression tree: the literal form (M×K×dim ≈
    * 1024 nodes) forced a multi-second codegen compile PER ENCLOSING
    * STAGE — every consumer (annPq, annIvfPq) re-compiled it inside
    * its own wholestage context. Ties resolve to the first index and
    * accumulation order matches the old left-fold, so codes and
    * errors are unchanged.
    *
    * Approximate by construction → spec-verified (reconstruction error
    * beats the global-mean baseline; codes bounded), no SQL oracle. */
  private def pqEncodeRaw(sp: SparkSession, dir: String,
      books: Array[Array[Array[Double]]]): DataFrame = {
    import sp.implicits._
    val bc = sp.sparkContext.broadcast(books)
    vecs(sp, dir).select(col("vec_id"), col("v"))
      .as[(Long, Seq[Double])]
      .mapPartitions { it =>
        val bks = bc.value
        it.map { case (id, vSeq) =>
          val v = vSeq.toArray
          val codes = new Array[Int](PqM)
          var err = 0.0
          var m = 0
          while (m < PqM) {
            val (best, bestD) = nearest(v, bks(m), m * PqSub, PqSub)
            codes(m) = best
            err += bestD
            m += 1
          }
          (id, codes.toSeq, err)
        }
      }
      .toDF("vec_id", "codes", "err2")
      .select(col("vec_id"), col("codes"), round(col("err2"), 6).as("recon_err2"))
  }

  def pqEncode(sp: SparkSession, dir: String): DataFrame =
    // codes as a ':'-joined string: the verify surface hash-compares
    // parquet columns and array cells don't canonicalize
    pqEncodeRaw(sp, dir, pqCodebooks(sp, dir))
      .select(col("vec_id"), concat_ws(":", col("codes")).as("codes"),
        col("recon_err2"))

  val PqShortlistMin = 50

  /** ADC shortlist sized ∝ corpus (fraction below, floor 50): a FIXED
    * shortlist shrinks relatively as the corpus grows and recall@5
    * decays with it (measured: 0.64 at 500 vectors, 0.48 at 2 000
    * with a fixed 50). Proportional sizing holds the recall/work
    * trade-off constant — the exact re-rank is a fixed fraction of
    * what the ADC scan already scored in full. The default fraction
    * (10%) is what UNIFORM RANDOM vectors need for recall@5 ≈ 0.6 —
    * the hardest case for PQ, whose codes exploit cluster structure;
    * real embedding corpora sustain the same recall at a far smaller
    * fraction, so it is a conf knob (`graft.pq.shortlistFrac`), and
    * the sublinear path composes the IVF lists to shrink the scored
    * pool itself. */
  def pqShortlist(sp: SparkSession, n: Long): Int = {
    val frac = sp.conf.getOption("graft.pq.shortlistFrac")
      .map(_.toDouble).getOrElse(0.1)
    math.max(PqShortlistMin, math.ceil(n * frac).toInt)
  }

  /** Per-(query, subspace, centroid) dot table for ADC scoring: the
    * query stays in float space; each corpus vector's ADC score is a
    * sum of M table lookups. Tiny (|q| × M × K rows) → broadcast. */
  private def pqQTable(q: DataFrame,
      books: Array[Array[Array[Double]]]): DataFrame = {
    val sp = q.sparkSession
    // tiny literal codebook relation: (m, k, centroid, ||c||²)
    val bookRows = for (m <- 0 until PqM; k <- 0 until PqK)
      yield (m, k, books(m)(k).toSeq, books(m)(k).map(x => x * x).sum)
    val bookDf = sp.createDataFrame(bookRows).toDF("m", "k", "centroid", "cn2")
    q.crossJoin(broadcast(bookDf))
      .withColumn("qdot", (0 until PqSub).map(i =>
        element_at(col("qv"), col("m") * PqSub + i + 1) *
          element_at(col("centroid"), i + 1)).reduce(_ + _))
      .select(col("query_id"), col("qn"), col("m"), col("k"),
        col("qdot"), col("cn2"))
  }

  /** ADC shortlist: the top `shortlistN` candidates per query by
    * approximate cosine. `lookups` is the caller's join of the
    * exploded (vec_id, m, code) relation — pre-filtered to a candidate
    * pool when a coarse index is in play — with the [[pqQTable]] rows
    * of the matching (m, k); each candidate's ADC score is the sum of
    * its M lookups. */
  private def adcShortlist(lookups: DataFrame, shortlistN: Int): DataFrame =
    topK(lookups.groupBy(col("query_id"), col("vec_id"), col("qn"))
        .agg(sum(col("qdot")).as("adc"), sum(col("cn2")).as("rnorm2"))
        .withColumn("adc_cosine", col("adc") / (col("qn") * sqrt(col("rnorm2")))),
      col("adc_cosine").desc, shortlistN, "arank")
      .select(col("query_id"), col("vec_id"))

  /** ANN by asymmetric distance computation over PQ codes, then exact
    * re-rank of the ADC shortlist — the standard production PQ shape.
    * The query stays in float space; each corpus vector is scored as
    * the sum of M table lookups (query-subvector · centroid dots):
    * one broadcast of the (query × subspace × centroid) dot table, one
    * map-side join over the exploded codes, one partial-aggregating
    * sum — touching 8 codes per vector instead of 64 floats. The
    * top-[[pqShortlist]] by ADC then fetch their raw vectors for exact
    * cosine (bounded: shortlist × queries rows); compose with the IVF
    * lists for the sublinear path. Approximate → recall-spec'd, no SQL
    * oracle. */
  def annPq(sp: SparkSession, dir: String): DataFrame = {
    val books = pqCodebooks(sp, dir)
    val shortlistN = pqShortlist(sp, vecs(sp, dir).count())
    val enc = pqEncodeRaw(sp, dir, books)
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("m", "code")))
    val q = queryVecs(vecs(sp, dir))
    val qTable = pqQTable(q, books)
    val lookups = enc.join(broadcast(qTable),
      enc("m") === qTable("m") && enc("code") === qTable("k") &&
        col("vec_id") =!= col("query_id"))
    exactRerank(sp, dir, q, adcShortlist(lookups, shortlistN))
  }

  /** IVF + PQ-ADC composed — the FAISS-IVFPQ production shape for
    * billion-vector corpora: the coarse quantizer routes each query to
    * nProbe inverted lists (a ~¼-corpus candidate pool, sublinear per
    * list), PQ codes are ADC-scored ONLY inside the probed lists
    * (8 table lookups per candidate instead of 64 floats), and the
    * ADC shortlist gets one exact re-rank. Composition of
    * [[ivfRouting]] (lists ∝ √N) and [[adcShortlist]] (shortlist ∝
    * corpus) — both capacity laws scale with the corpus, so recall
    * holds at 10×/100× (ScaleBench-gated like the other ANN ops).
    * Codes encode the RAW vectors (shared codebooks with [[annPq]]),
    * not per-list residuals: one global codebook broadcast, no
    * per-list training pass — the residual refinement is not worth a
    * second k-means sweep at this code budget. Approximate →
    * recall-gated (QualityGates + ScaleBench), no SQL oracle. */
  def annIvfPq(sp: SparkSession, dir: String): DataFrame = {
    // the IVF and PQ trainers draw the SAME deterministic hash sample
    // whenever their mod knobs agree (they default equal): collect it
    // once and hand it to both — one sample scan+sort job fewer per
    // invocation, identical rows, so lists/codes are bit-unchanged.
    // (ivfRouting normalizes its copy itself; pq trains on raw.)
    val shared =
      if (sp.conf.getOption("graft.ivf.sampleMod").getOrElse("4") ==
          sp.conf.getOption("graft.pq.sampleMod").getOrElse("4"))
        lloydSample(sp, vecs(sp, dir), "graft.ivf.sampleMod", PqK)
      else null
    val (assigned, qProbes, nVecs) = ivfRouting(sp, dir, shared)
    val books = pqCodebooks(sp, dir, shared)
    // 2× the standalone-PQ shortlist fraction: the composed op's ADC
    // scores only the probed half of the corpus, so the re-rank is
    // still bounded by the same corpus fraction — and the extra width
    // recovers the pairs PQ noise pushes just past the standalone cut
    // (measured 10× recall 0.80 → 0.82, against the pool's 0.84 cap)
    val shortlistN = 2 * pqShortlist(sp, nVecs)
    // candidate pool: corpus vectors in the probed lists only — the
    // self-pair is dropped in the lookup join below
    val cand = qProbes.select(col("query_id").as("cand_query_id"), col("cid"))
      .join(assigned.select(col("vec_id"), col("list_id")),
        col("list_id") === col("cid"))
      .select(col("cand_query_id"), col("vec_id"))
    val enc = pqEncodeRaw(sp, dir, books)
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("m", "code")))
    // restrict the exploded codes to the pool: equi-join on
    // (query, vec) — at 100 TB this is the inverted-list read; here it
    // shuffles on vec_id, both sides pre-shrunk
    val candEnc = cand.join(enc, "vec_id")
      .select(col("cand_query_id"), col("vec_id"), col("m"), col("code"))
    val q = qProbes.select(col("query_id"), col("qv"), col("qn")).distinct()
    val qTable = pqQTable(q, books)
    // the pool's query is pinned into the lookup join: per (query, vec)
    // candidate, M code lookups
    val lookups = candEnc.join(broadcast(qTable),
      candEnc("cand_query_id") === qTable("query_id") &&
        candEnc("m") === qTable("m") &&
        candEnc("code") === qTable("k") &&
        candEnc("vec_id") =!= qTable("query_id"))
    exactRerank(sp, dir, q, adcShortlist(lookups, shortlistN))
  }

  // ---------------------------------------------------------------
  // HNSW ANN (Malkov & Yashunin, TPAMI 2018) — partition-sharded.
  // ---------------------------------------------------------------

  /** HNSW graph degree (M). Level-0 lists cap at 2M (the paper's
    * Mmax0); upper levels at M. */
  val HnswM = 8
  /** Beam width while building ([[HnswM]]·8 — the paper's
    * efConstruction ≈ 100 regime scaled to the 64-d test corpus). */
  val HnswEfConstruction = 64
  /** Beam width while searching, a step schedule keyed on the vector
    * count the op already counts for sharding (like [[lshConfig]]
    * scales tables/bits). The round-13 curve re-measurement
    * (`HNSW_CURVE.json`, [[graft.tools.HnswCurve]]) REVERSED the
    * round-12 premise that ef is a latency dial here: wall is
    * build-dominated and ef-INSENSITIVE at both measured scales
    * (2k vectors: 0.93 s at ef=32 vs 0.81 s at ef=128; 200k: 3.09 —
    * 3.25 s across ef=32..256), so ef is chosen for RECALL alone —
    * recall@5 at 200k measured 0.62/0.86/0.96/1.00 for
    * ef=32/64/128/256. Small corpora take 64 (per-shard search is
    * near-exhaustive there anyway); big corpora take 256, the
    * measured recall-1.0 point that costs no wall. Latency at small
    * corpora is instead recovered by the [[HnswMinShardRows]] build-
    * parallelism floor. */
  private[graft] def hnswEfFor(n: Long): Int =
    if (n <= 65536) 64 else 256

  /** Target rows per HNSW shard. The shard count is derived from the
    * CORPUS SIZE (ceil(n / this)), not from
    * `sparkContext.defaultParallelism`: emitted rows must not change
    * with core count or cluster config (the determinism contract the
    * gates rely on), and at 100 TB a corpus-proportional shard count is
    * the right posture anyway — each shard's graph stays a bounded
    * in-memory build (~64 B/row at M=8) regardless of executor count,
    * with shards >> cores so every executor stays busy. */
  val HnswShardRows = 4096
  /** Small-corpus build-parallelism floor: a corpus under one
    * [[HnswShardRows]] shard builds ONE graph in ONE task — the
    * measured sf0.1 wall (0.84 s) was almost entirely that
    * single-threaded insert loop, not search (ef-insensitive, see
    * [[hnswEfFor]]). Corpora too small for the 4096-row sizing are
    * instead split into up to [[HnswSmallShardCap]] shards of at
    * least this many rows — still derived from n alone (deterministic
    * output), and per-shard search on a few-hundred-node graph at
    * ef=64 is near-exhaustive, so the split costs no recall. */
  val HnswMinShardRows = 256
  val HnswSmallShardCap = 8

  /** ANN top-5 via partition-local HNSW graphs.
    *
    * Distribution model (the part the paper leaves open): HNSW's
    * insert loop is inherently sequential, so a single global graph
    * cannot be built by a shuffle. Instead the corpus is hash-
    * partitioned and each partition builds an INDEPENDENT in-memory
    * HNSW over its shard in one `mapPartitions` pass; the (tiny)
    * query set is broadcast, every shard answers with its local
    * top-(k+1), and one k·P-row shuffle merges shard answers into the
    * global top-k — the standard sharded-ANN serving layout (one
    * sub-index per shard, scatter-gather over shards). Per-shard
    * search visits O(ef·log n_p) nodes instead of the n_p a
    * brute-force scan reads, and shard recall losses only compound
    * ACROSS shards through the final exact merge, so global recall is
    * ≥ the per-shard floor. At 100 TB the shard graphs are built once
    * per executor from the parquet splits (M·n int edges ≈ 64 B/row
    * of RAM at M=8) and amortize over the query stream.
    *
    * Determinism (gates diff id sets against brute force, so the
    * emitted rows must be reproducible): shard assignment hashes
    * vec_id, insertion order sorts by vec_id within the shard, node
    * levels draw from splitmix64(vec_id) — not a JVM RNG — and every
    * beam/selection tie breaks on (cosine desc, insertion index asc).
    * Approximate by construction → no SQL oracle; recall@5 vs brute
    * force is gated in DedupSimilaritySpec/QualityGates and re-gated
    * at the 100× corpus in ScaleBench. */
  def annHnsw(sp: SparkSession, dir: String): DataFrame =
    annHnswWith(sp, dir, None)

  /** [[annHnsw]] with an explicit search beam width — the sweep entry
    * point [[graft.tools.HnswCurve]] uses to record the recall/latency
    * curve behind the committed [[hnswEfFor]] step schedule. None =
    * the schedule (the production path). */
  private[graft] def annHnswWith(sp: SparkSession, dir: String,
      efSearchOverride: Option[Int]): DataFrame = {
    import sp.implicits._
    val all = vecs(sp, dir)
    val qArr = all.filter(col("vec_id") < 10)
      .select(col("vec_id"), col("v"), col("nrm"))
      .as[(Long, Seq[Double], Double)].collect().sortBy(_._1)
      .map { case (id, v, nrm) =>
        val a = v.toArray; val inv = 1.0 / nrm
        (id, a.map(_ * inv))
      }
    val qB = sp.sparkContext.broadcast(qArr)
    // corpus-size-derived shard count (see [[HnswShardRows]]) AND
    // search beam (see [[hnswEfFor]]): one cheap count() job feeds
    // both, then a fixed hash partitioning on vec_id
    val nVec = all.count()
    val (m, efC, efS, k) =
      (HnswM, HnswEfConstruction, efSearchOverride.getOrElse(hnswEfFor(nVec)), 5)
    val nShards = math.max(
      math.ceil(nVec.toDouble / HnswShardRows).toInt,
      math.min(HnswSmallShardCap, math.max(1L, nVec / HnswMinShardRows).toInt))
    val local = all.select(col("vec_id"), col("v"), col("nrm"))
      .as[(Long, Seq[Double], Double)]
      .repartition(nShards, col("vec_id"))
      .sortWithinPartitions(col("vec_id"))
      .mapPartitions { it =>
        val rows = it.toArray
        if (rows.isEmpty) Iterator.empty
        else {
          val n = rows.length
          val ids = new Array[Long](n)
          val vs = new Array[Array[Double]](n)
          var i = 0
          while (i < n) {
            val (id, v, nrm) = rows(i)
            ids(i) = id
            val a = v.toArray; val inv = 1.0 / nrm
            vs(i) = a.map(_ * inv)
            i += 1
          }
          val g = new HnswGraph(vs, m, efC, levelOf(ids, m))
          i = 1
          while (i < n) { g.insert(i); i += 1 }
          qB.value.iterator.flatMap { case (qid, qv) =>
            g.search(qv, efS, k + 1).iterator.map { case (idx, cos) =>
              (qid, ids(idx), cos)
            }
          }
        }
      }
      .toDF("query_id", "vec_id", "cosine")
    neighbors(local.filter(col("vec_id") =!= col("query_id")))
  }

  /** Deterministic per-node HNSW levels: the paper's
    * floor(−ln(u)·mL) geometric draw with mL = 1/ln(M), u from
    * splitmix64(vec_id) — reproducible across runs and engines,
    * independent of shard composition. Capped at 15 (a level above
    * log_M of any realistic shard). */
  private def levelOf(ids: Array[Long], m: Int): Array[Int] = {
    val mL = 1.0 / math.log(m)
    ids.map { id =>
      val u = ((Hashing.mix(id + Hashing.Golden) >>> 11).toDouble + 1.0) /
        (1L << 53).toDouble
      math.min(15, (-math.log(u) * mL).toInt)
    }
  }

  /** One shard's HNSW over unit vectors, similarity = dot product
    * (= cosine). Insertion order is array order; node 0 seeds the
    * graph. All candidate orderings break ties on the smaller node
    * index, so the build is fully deterministic. */
  private final class HnswGraph(vs: Array[Array[Double]], m: Int,
      efC: Int, levels: Array[Int]) {
    import scala.collection.mutable.{ArrayBuffer, PriorityQueue}
    private val nbrs: Array[Array[ArrayBuffer[Int]]] =
      Array.tabulate(vs.length)(i =>
        Array.fill(levels(i) + 1)(new ArrayBuffer[Int](2 * m)))
    private var entry = 0
    private var maxLevel = levels(0)

    private def sim(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }

    /** Beam search at one level: up to `ef` nearest inserted nodes to
      * `q`, best-first, sorted (sim desc, idx asc). */
    private def searchLayer(q: Array[Double], ep: Int, ef: Int,
        level: Int): ArrayBuffer[(Double, Int)] = {
      val visited = new java.util.HashSet[Integer]()
      // cand pops the CLOSEST unexpanded node; found evicts the
      // FURTHEST kept node once |found| > ef
      val cand = PriorityQueue.empty[(Double, Int)](
        Ordering.by[(Double, Int), (Double, Int)] { case (s, i) => (s, -i) })
      val found = PriorityQueue.empty[(Double, Int)](
        Ordering.by[(Double, Int), (Double, Int)] { case (s, i) => (-s, i) })
      val s0 = sim(q, vs(ep))
      visited.add(ep); cand.enqueue((s0, ep)); found.enqueue((s0, ep))
      while (cand.nonEmpty) {
        val (cs, c) = cand.dequeue()
        if (cs < found.head._1 && found.size >= ef) { cand.clear() }
        else {
          val ns = nbrs(c)(level)
          var j = 0
          while (j < ns.length) {
            val e = ns(j)
            if (visited.add(e)) {
              val es = sim(q, vs(e))
              if (found.size < ef || es > found.head._1) {
                cand.enqueue((es, e)); found.enqueue((es, e))
                if (found.size > ef) found.dequeue()
              }
            }
            j += 1
          }
        }
      }
      val out = ArrayBuffer.from(found)
      out.sortInPlaceBy { case (s, i) => (-s, i) }
      out
    }

    def insert(i: Int): Unit = {
      val l = levels(i)
      var ep = entry
      var lc = maxLevel
      while (lc > l) { // greedy 1-NN descent above the node's level
        ep = searchLayer(vs(i), ep, 1, lc).head._2
        lc -= 1
      }
      var lev = math.min(l, maxLevel)
      while (lev >= 0) {
        val w = searchLayer(vs(i), ep, efC, lev)
        val cap = if (lev == 0) 2 * m else m
        var j = 0
        while (j < w.length && j < m) {
          val s = w(j)._2
          nbrs(i)(lev) += s
          val sl = nbrs(s)(lev)
          sl += i
          if (sl.length > cap) { // prune to the cap nearest of s
            val scored = sl.map(x => (sim(vs(s), vs(x)), x))
            scored.sortInPlaceBy { case (sc, x) => (-sc, x) }
            sl.clear()
            var p = 0
            while (p < cap) { sl += scored(p)._2; p += 1 }
          }
          j += 1
        }
        ep = w.head._2
        lev -= 1
      }
      if (l > maxLevel) { maxLevel = l; entry = i }
    }

    /** Top-k (index, cosine) for a unit query vector. */
    def search(q: Array[Double], ef: Int, k: Int): Seq[(Int, Double)] = {
      var ep = entry
      var lc = maxLevel
      while (lc > 0) { ep = searchLayer(q, ep, 1, lc).head._2; lc -= 1 }
      searchLayer(q, ep, math.max(ef, k), 0)
        .take(k).map { case (s, i) => (i, s) }.toSeq
    }
  }

  /** kNN label classification: for each query vector (a fixed-SIZE id
    * prefix, vec_id < [[KnnClassifyQueries]]), the majority label among
    * its k=10 cosine-nearest neighbors (vote ties broken by smallest
    * label). Because the query set is fixed-size — not a fixed fraction
    * — the scored product is |queries|×|corpus|, genuinely linear in
    * the corpus, and the corpus side streams (no materialization);
    * route candidate generation through [[annLsh]]-style buckets when
    * the query set itself must grow with the corpus. Fully
    * deterministic (cosine ties broken by neighbor id) and
    * integer-valued → exact DuckDB oracle. */
  val KnnClassifyQueries = 200

  def knnClassify(sp: SparkSession, dir: String): DataFrame = {
    val all = Engine.table(sp, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val q = all.filter(col("vec_id") < KnnClassifyQueries)
      .select(col("vec_id").as("query_id"), col("label").as("true_label"),
        col("v").as("qv"), col("nrm").as("qn"))
    val scored = q.join(all, col("vec_id") =!= col("query_id"))
      .withColumn("cosine", exactCosine)
    val votes = topK(scored, col("cosine").desc, 10)
      .groupBy(col("query_id"), col("true_label"), col("label"))
      .agg(count(lit(1)).as("votes"))
    val wVote = Window.partitionBy(col("query_id"))
      .orderBy(col("votes").desc, col("label"))
    votes.withColumn("vrank", row_number().over(wVote))
      .filter(col("vrank") === 1)
      .select(col("query_id"), col("true_label"),
        col("label").as("pred_label"), col("votes"))
  }

  val knnClassifyOracle: String = s"""
    WITH v AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
        sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings),
    scored AS (
      SELECT q.vec_id AS query_id, q.label AS true_label,
        a.vec_id AS neighbor_id, a.label AS nlabel,
        list_inner_product(q.v, a.v) / (q.nrm * a.nrm) AS cosine
      FROM v q JOIN v a ON a.vec_id <> q.vec_id
      WHERE q.vec_id < $KnnClassifyQueries),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
        ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored),
    votes AS (
      SELECT query_id, true_label, nlabel, CAST(COUNT(*) AS BIGINT) AS votes
      FROM ranked WHERE rank <= 10
      GROUP BY query_id, true_label, nlabel)
    SELECT query_id, true_label, nlabel AS pred_label, votes
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY votes DESC, nlabel) AS vrank FROM votes)
    WHERE vrank = 1"""

  /** Per-DIMENSION corpus profile (n, min, max, mean, std): the
    * feature-scaling pass run before whitening/standardizing
    * embeddings or choosing PQ sub-space splits — a dead dimension
    * (std ≈ 0) or an unbounded one distorts every distance downstream.
    * Scale shape: posexplode multiplies rows by Dim but partial
    * aggregation collapses each partition to ≤ Dim accumulator rows
    * before the one shuffle; nothing downstream is bigger than Dim.
    * Float parity: sums go through DECIMAL(18,6) (a double rounded to
    * 6 dp can never tie — the midpoint has a factor 5⁷ in its
    * denominator and is not dyadic — so HALF_UP vs HALF_EVEN is moot
    * and both engines produce the identical decimal); the scaled
    * integer stays ≪ 2⁵³, making the decimal→double cast exact on
    * both sides. mean/std are then IEEE-deterministic double chains
    * over bit-identical inputs, with the zero-variance guard the same
    * CASE on both engines (the [[StatsOps.valueCorr]] discipline). */
  def dimProfile(sp: SparkSession, dir: String): DataFrame = {
    val x = col("x").cast("double")
    Engine.table(sp, dir, "embeddings")
      .select(posexplode(col("embedding")).as(Seq("dim_idx", "x")))
      .groupBy(col("dim_idx").cast("long").as("dim_idx"))
      .agg(count(lit(1)).as("n"),
        min(col("x")).cast("double").as("min_x"),
        max(col("x")).cast("double").as("max_x"),
        sum(x.cast("decimal(18,6)")).cast("double").as("sx"),
        sum((x * x).cast("decimal(18,6)")).cast("double").as("sxx"))
      .select(col("dim_idx"), col("n"), col("min_x"), col("max_x"),
        (col("sx") / col("n")).as("mean_x"),
        when(col("n") * col("sxx") - col("sx") * col("sx") > 0,
          sqrt(col("n") * col("sxx") - col("sx") * col("sx")) / col("n"))
          .otherwise(lit(0.0)).as("std_x"))
  }

  val dimProfileOracle: String = s"""
    WITH agg AS (
      SELECT CAST(s.i - 1 AS BIGINT) AS dim_idx,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(MIN(embedding[CAST(s.i AS INT)]) AS DOUBLE) AS min_x,
        CAST(MAX(embedding[CAST(s.i AS INT)]) AS DOUBLE) AS max_x,
        CAST(SUM(CAST(CAST(embedding[CAST(s.i AS INT)] AS DOUBLE)
          AS DECIMAL(18,6))) AS DOUBLE) AS sx,
        CAST(SUM(CAST(CAST(embedding[CAST(s.i AS INT)] AS DOUBLE)
          * CAST(embedding[CAST(s.i AS INT)] AS DOUBLE)
          AS DECIMAL(18,6))) AS DOUBLE) AS sxx
      FROM embeddings, generate_series(1, $Dim) AS s(i)
      GROUP BY s.i)
    SELECT dim_idx, n, min_x, max_x, sx / n AS mean_x,
      CASE WHEN n * sxx - sx * sx > 0
        THEN sqrt(n * sxx - sx * sx) / n ELSE 0.0 END AS std_x
    FROM agg"""

  /** Affine 8-bit embedding quantization, per-dimension stats. The
    * compression pass a 100-TB vector store runs before serving:
    * per dimension, clip to mean ± 3σ (the inference-quantization
    * convention — without the clip one outlier stretches the grid and
    * every inlier collapses onto a few codes), then map the clipped
    * range onto the 256-code grid: q = rint((x − lo)/scale),
    * scale = (hi − lo)/255. Emits the per-dim calibration row a
    * quantized store ships with its codes: grid (lo, hi, scale),
    * saturation count (values the clip moved — the knob telling the
    * operator whether 3σ is too tight for this dim), code mass
    * (sum_q), and reconstruction MSE including clipping error.
    *
    * Scale shape: two corpus passes, both canonical — (1) the
    * [[dimProfile]] moment aggregation (partial-agg collapses each
    * partition to ≤ Dim rows before the one Dim-key shuffle); (2) a
    * broadcast join of the Dim-row calibration table back onto the
    * element stream, partial-aggregated the same way. Nothing
    * downstream is larger than Dim rows. Two passes are inherent:
    * the grid must be final before any element quantizes.
    *
    * Float parity (fully SQL-oracled): moment sums run through
    * DECIMAL(18,6) (order-independent, engine-identical — the
    * [[dimProfile]] argument); every derived double (mean, σ, lo, hi,
    * scale, q, e) is the same IEEE expression chain over those
    * bit-identical inputs, with rint ↔ round_even matching Java's
    * half-even; the squared-error sum runs through DECIMAL(27,15)
    * (per-element e² ≤ ~1, 12 integer digits of headroom). */
  def quantizeInt8(sp: SparkSession, dir: String): DataFrame = {
    val x = col("x")
    val elems = Engine.table(sp, dir, "embeddings")
      .select(posexplode(col("embedding")).as(Seq("di", "xf")))
      .select(col("di").cast("long").as("dim_idx"),
        col("xf").cast("double").as("x"))
    val stats = elems.groupBy(col("dim_idx"))
      .agg(count(lit(1)).as("n"),
        sum(x.cast("decimal(18,6)")).cast("double").as("sx"),
        sum((x * x).cast("decimal(18,6)")).cast("double").as("sxx"))
      .select(col("dim_idx"), col("n"), (col("sx") / col("n")).as("mean_x"),
        when(col("n") * col("sxx") - col("sx") * col("sx") > 0,
          sqrt(col("n") * col("sxx") - col("sx") * col("sx")) / col("n"))
          .otherwise(lit(0.0)).as("std_x"))
      .select(col("dim_idx"), col("n"),
        (col("mean_x") - lit(3.0) * col("std_x")).as("lo"),
        (col("mean_x") + lit(3.0) * col("std_x")).as("hi"))
      .withColumn("scale", when(col("hi") > col("lo"),
        (col("hi") - col("lo")) / lit(255.0)).otherwise(lit(1.0)))
    elems.join(broadcast(stats), "dim_idx")
      .withColumn("xc", least(greatest(col("x"), col("lo")), col("hi")))
      .withColumn("q", least(greatest(
        rint((col("xc") - col("lo")) / col("scale")), lit(0.0)), lit(255.0))
        .cast("long"))
      .withColumn("e", col("x") - (col("lo") + col("q") * col("scale")))
      .groupBy(col("dim_idx"), col("n"), col("lo"), col("hi"), col("scale"))
      .agg(
        sum(when(col("x") < col("lo") || col("x") > col("hi"), 1L)
          .otherwise(0L)).as("n_sat"),
        sum(col("q")).as("sum_q"),
        (sum((col("e") * col("e")).cast("decimal(27,15)")).cast("double") /
          col("n")).as("mse_q"))
      .select(col("dim_idx"), col("n"), col("lo"), col("hi"), col("scale"),
        col("n_sat"), col("sum_q"), col("mse_q"))
  }

  val quantizeInt8Oracle: String = s"""
    WITH elems AS (
      SELECT CAST(s.i - 1 AS BIGINT) AS dim_idx,
        CAST(embedding[CAST(s.i AS INT)] AS DOUBLE) AS x
      FROM embeddings, generate_series(1, $Dim) AS s(i)),
    agg AS (
      SELECT dim_idx, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sx,
        CAST(SUM(CAST(x * x AS DECIMAL(18,6))) AS DOUBLE) AS sxx
      FROM elems GROUP BY dim_idx),
    grid0 AS (
      SELECT dim_idx, n,
        sx / n - 3.0 * (CASE WHEN n * sxx - sx * sx > 0
          THEN sqrt(n * sxx - sx * sx) / n ELSE 0.0 END) AS lo,
        sx / n + 3.0 * (CASE WHEN n * sxx - sx * sx > 0
          THEN sqrt(n * sxx - sx * sx) / n ELSE 0.0 END) AS hi
      FROM agg),
    grid AS (
      SELECT *, CASE WHEN hi > lo THEN (hi - lo) / 255.0 ELSE 1.0 END AS scale
      FROM grid0),
    quant AS (
      SELECT e.dim_idx, g.n, g.lo, g.hi, g.scale, e.x,
        CAST(LEAST(GREATEST(round_even(
          (LEAST(GREATEST(e.x, g.lo), g.hi) - g.lo) / g.scale, 0), 0.0), 255.0)
          AS BIGINT) AS q
      FROM elems e JOIN grid g USING (dim_idx)),
    err AS (
      SELECT *, x - (lo + q * scale) AS e FROM quant)
    SELECT dim_idx, n, lo, hi, scale,
      CAST(SUM(CASE WHEN x < lo OR x > hi THEN 1 ELSE 0 END) AS BIGINT)
        AS n_sat,
      CAST(SUM(q) AS BIGINT) AS sum_q,
      CAST(SUM(CAST(e * e AS DECIMAL(27,15))) AS DOUBLE) / n AS mse_q
    FROM err
    GROUP BY dim_idx, n, lo, hi, scale"""

  /** Prefix lengths evaluated by [[matryoshkaEval]]. */
  val MatryoshkaDims: Seq[Int] = Seq(8, 16, 32, 64)

  /** Matryoshka / truncated-dimension retrieval eval: recall@5 of
    * brute-force search over each embedding PREFIX (8/16/32/64 dims)
    * against full-dimension search — the measurement that decides how
    * many dimensions a vector store actually needs to serve (MRL-style
    * truncation: serve d′ ≪ d, re-rank the survivors at full d).
    *
    * One scored pass computes every prefix cosine simultaneously
    * (prefix dot products share the scan; each is its own
    * left-to-right fold so DuckDB's list_inner_product over the same
    * slice is bit-identical — the [[knnBruteForce]] parity argument),
    * then one rank window per prefix and an integer hit count against
    * the full-dim top-5. Scale shape: the scored product is
    * |queries| × corpus like [[knnBruteForce]] (the eval is run on a
    * query SAMPLE, not the corpus); everything after the windows is
    * ≤ |queries|·5 rows per prefix. Output is integers plus one exact
    * division → fully SQL-oracled. */
  def matryoshkaEval(sp: SparkSession, dir: String): DataFrame = {
    val all = vecs(sp, dir)
    val q = all.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val scored0 = q.join(all, col("vec_id") =!= col("query_id"))
    val scored = MatryoshkaDims.foldLeft(scored0) { (df, d) =>
      val (qp, vp) = (slice(col("qv"), 1, d), slice(col("v"), 1, d))
      df.withColumn(s"cos_$d", dot(qp, vp) /
        (sqrt(dot(qp, qp)) * sqrt(dot(vp, vp))))
    }
      // narrow (ids + one cosine per prefix, no vectors) and cached:
      // the frame feeds one rank window PER prefix plus the recall
      // join/count — uncached, the |q|×corpus scoring pass (4 prefix
      // dots per pair) re-executed per consumer (round-13 plan audit:
      // 36 parquet scans in the uncached initial plan). |q|·n rows of
      // 6 numbers — the knnBruteForce-class bounded pin.
      .select(col("query_id") +: col("vec_id") +:
        MatryoshkaDims.map(d => col(s"cos_$d")): _*)
      .cache()
    val full = MatryoshkaDims.last
    val tops = MatryoshkaDims.map { d =>
      d -> topK(scored, col(s"cos_$d").desc, 5, "rk")
        .select(col("query_id"), col("vec_id"))
    }.toMap
    val exact = tops(full)
    // the recall denominator is the MEASURED size of the full-dim top
    // set (queries × min(5, eligible neighbors)), not an assumed
    // queries×5 constant — on a corpus with vec_id gaps below 10 or
    // fewer than 5 eligible neighbors a hard-coded 50 would silently
    // mis-scale the metric (and the oracle, mirroring it, couldn't
    // catch it); one count over a ≤ |q|·5-row frame, broadcast back
    val nExact = exact.agg(count(lit(1)).as("n_exact"))
    MatryoshkaDims.map { d =>
      tops(d).join(exact, Seq("query_id", "vec_id"))
        .agg(count(lit(1)).as("hits"))
        .select(lit(d).cast("long").as("prefix_dim"), col("hits"))
    }.reduce(_ unionAll _)
      .crossJoin(broadcast(nExact))
      .withColumn("recall_at_5",
        col("hits").cast("double") / col("n_exact"))
  }

  val matryoshkaEvalOracle: String = {
    val full = MatryoshkaDims.last
    val arms = MatryoshkaDims.map { d =>
      s"""SELECT CAST($d AS BIGINT) AS prefix_dim,
        CAST(COUNT(*) AS BIGINT) AS hits
      FROM top_$d t JOIN top_$full f
        ON t.query_id = f.query_id AND t.vec_id = f.vec_id"""
    }.mkString("\nUNION ALL\n")
    val ctes = MatryoshkaDims.map { d =>
      s"""sc_$d AS (
        SELECT query_id, vec_id,
          row_number() OVER (PARTITION BY query_id ORDER BY
            list_inner_product(qv[1:$d], v[1:$d]) /
              (sqrt(list_inner_product(qv[1:$d], qv[1:$d])) *
               sqrt(list_inner_product(v[1:$d], v[1:$d]))) DESC,
            vec_id) AS rk
        FROM pairs),
      top_$d AS (SELECT query_id, vec_id FROM sc_$d WHERE rk <= 5)"""
    }.mkString(",\n")
    s"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    pairs AS (
      SELECT q.vec_id AS query_id, q.v AS qv, a.vec_id AS vec_id, a.v AS v
      FROM v q JOIN v a ON a.vec_id <> q.vec_id
      WHERE q.vec_id < 10),
    $ctes
    SELECT prefix_dim, hits,
      (SELECT COUNT(*) FROM top_$full) AS n_exact,
      CAST(hits AS DOUBLE) / (SELECT COUNT(*) FROM top_$full) AS recall_at_5
    FROM ($arms)"""
  }

  /** [[annBinary]] shortlist floor and corpus fraction: sized ∝ corpus
    * for the same reason as [[pqShortlist]] (a FIXED shortlist shrinks
    * relatively as the corpus grows and recall@5 decays with it —
    * measured here too: 0.66 at 500 vectors, 0.42 at 5 000 with a
    * fixed 50). 10% matches the PQ default: what uniform-random
    * vectors need; real embedding corpora with cluster structure
    * sustain the same recall at a far smaller fraction. No conf knob,
    * unlike PQ: this op is exactly SQL-oracled and the oracle must
    * compute the IDENTICAL shortlist bound, so the fraction is a
    * compile-time constant both sides embed. */
  val BinaryShortlistMin = 50
  val BinaryShortlistFrac = 0.1

  /** Binary (1-bit) embedding quantization + Hamming-shortlist ANN
    * with exact re-rank — the "binary quantization" serving path
    * modern vector stores ship (32× smaller than float32: Dim bits
    * per vector): bit i = (xᵢ > meanᵢ), the per-dimension-centered
    * sign code, packed into two 32-bit words; a query scans CODES
    * with XOR+popcount (a few cycles per vector instead of a
    * Dim-element float dot), keeps the best
    * max([[BinaryShortlistMin]], [[BinaryShortlistFrac]]·n) by
    * Hamming distance, and re-ranks only that shortlist with exact
    * cosine — the same coarse-then-exact contract as [[annIvfPq]]'s
    * ADC + re-rank.
    *
    * Scale shape: the code table build is two canonical passes (the
    * [[dimProfile]] moment aggregation for per-dim means — ≤ Dim rows
    * ever shuffled — then a broadcast-join of the Dim-row means onto
    * the element stream, partial-agged back to one 16-byte code per
    * vector, CACHED — it feeds both the query branch and the scan
    * side, and its count() sizes the shortlist, so the element pass
    * runs exactly once); the query scan broadcasts the 10-row query
    * codes and partial-aggregates the per-partition top-shortlist
    * before the one query-keyed exchange; re-rank touches
    * [[BinaryShortlistMin]]-bounded rows per query. At 100 TB the
    * float vectors are read once to build codes; every search after
    * that reads 16 B/vector.
    *
    * Fully SQL-oracled (no recall gate needed — the op is exact given
    * its code definition): means run the DECIMAL(18,6) dance, bits
    * compare bit-identical doubles, the packed words are exact
    * integer sums of distinct powers of two, Hamming is integer, the
    * shortlist and final ranks are row_number with total tiebreaks,
    * and the re-rank cosine reuses the [[knnBruteForce]]-proven
    * dot/norm chain. */
  def annBinary(sp: SparkSession, dir: String): DataFrame =
    annBinaryFrom(sp, Engine.table(sp, dir, "embeddings"))

  /** [[annBinary]] over an injected (vec_id, embedding) frame —
    * fixture entry point (spec plants hand-computable clusters). */
  private[graft] def annBinaryFrom(sp: SparkSession, emb: DataFrame)
      : DataFrame = {
    val elems = emb
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("di", "xf")))
      .select(col("vec_id"), col("di").cast("long").as("dim_idx"),
        col("xf").cast("double").as("x"))
    val means = elems.groupBy(col("dim_idx"))
      .agg((sum(col("x").cast("decimal(18,6)")).cast("double") /
        count(lit(1))).as("mean_x"))
    val pow = expr("shiftleft(CAST(1 AS BIGINT), CAST(dim_idx % 32 AS INT))")
    // cached: the code table feeds BOTH the query branch and the scan
    // side of the Hamming join — uncached, the element pass (explode +
    // means join + pack agg) would run twice, against the docstring's
    // "float vectors are read once to build codes" contract
    val sigs = elems.join(broadcast(means), "dim_idx")
      .select(col("vec_id"),
        when(col("x") > col("mean_x"), pow).otherwise(lit(0L)).as("p"),
        (col("dim_idx") < 32).as("lo"))
      .groupBy(col("vec_id"))
      .agg(sum(when(col("lo"), col("p")).otherwise(lit(0L))).as("w0"),
        sum(when(!col("lo"), col("p")).otherwise(lit(0L))).as("w1"))
      .cache()
    // one row per vector, so this count() == emb.count() — and it
    // doubles as the cache materialization, replacing the dedicated
    // corpus-count job the op used to run just to size the shortlist
    val shortlistN = math.max(BinaryShortlistMin,
      math.ceil(sigs.count() * BinaryShortlistFrac).toInt)
    val all = vecsFrom(emb)
    val qsig = sigs.filter(col("vec_id") < 10)
      .join(all, "vec_id")
      .select(col("vec_id").as("query_id"), col("w0").as("q0"),
        col("w1").as("q1"), col("v").as("qv"), col("nrm").as("qn"))
    val scored = broadcast(qsig).join(sigs, col("vec_id") =!= col("query_id"))
      .withColumn("hamming",
        expr("CAST(bit_count(w0 ^ q0) + bit_count(w1 ^ q1) AS BIGINT)"))
    val short = topK(scored, col("hamming"), shortlistN, "hrank")
      .select(col("query_id"), col("qv"), col("qn"), col("vec_id"),
        col("hamming"))
    neighbors(short.join(all, "vec_id").withColumn("cosine", exactCosine),
      col("hamming"))
  }

  val annBinaryOracle: String = s"""
    WITH elems AS (
      SELECT vec_id, CAST(s.i - 1 AS BIGINT) AS dim_idx,
        CAST(embedding[CAST(s.i AS INT)] AS DOUBLE) AS x
      FROM embeddings, generate_series(1, $Dim) AS s(i)),
    means AS (
      SELECT dim_idx,
        CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mean_x
      FROM elems GROUP BY dim_idx),
    sigs AS (
      SELECT vec_id,
        CAST(SUM(CASE WHEN x > mean_x AND dim_idx < 32
          THEN (CAST(1 AS BIGINT) << CAST(dim_idx % 32 AS INT))
          ELSE 0 END) AS BIGINT) AS w0,
        CAST(SUM(CASE WHEN x > mean_x AND dim_idx >= 32
          THEN (CAST(1 AS BIGINT) << CAST(dim_idx % 32 AS INT))
          ELSE 0 END) AS BIGINT) AS w1
      FROM elems JOIN means USING (dim_idx) GROUP BY vec_id),
    v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings),
    scored AS (
      SELECT q.vec_id AS query_id, s.vec_id,
        CAST(bit_count(xor(s.w0, q.w0)) + bit_count(xor(s.w1, q.w1))
          AS BIGINT) AS hamming
      FROM sigs q JOIN sigs s ON s.vec_id <> q.vec_id
      WHERE q.vec_id < 10),
    short AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
        ORDER BY hamming, vec_id) AS hrank
      FROM scored),
    rer AS (
      SELECT sh.query_id, sh.vec_id AS neighbor_id, sh.hamming,
        list_inner_product(qv.v, av.v) / (qv.nrm * av.nrm) AS cosine
      FROM short sh
      JOIN v qv ON qv.vec_id = sh.query_id
      JOIN v av ON av.vec_id = sh.vec_id
      WHERE sh.hrank <= GREATEST($BinaryShortlistMin, CAST(CEIL(
        (SELECT COUNT(*) FROM embeddings) * $BinaryShortlistFrac)
        AS BIGINT))),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
        ORDER BY cosine DESC, neighbor_id) AS rank
      FROM rer)
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, hamming,
      round(cosine, 4) AS cosine_r
    FROM ranked WHERE rank <= 5"""

  /** Neighbors per vector in [[knnGraph]]. */
  val KnnGraphK = 5

  /** Multi-probe flips per (vector, table) in [[knnGraph]] — CONSTANT
    * as the corpus (and so [[lshConfig]]'s bits) grows: probes flip
    * the [[buckets]] margin-ordered least-confident bits first (Lv et
    * al. multi-probe), so a fixed probe budget keeps most of the
    * all-bit-flip recall while candidate work per vector stays
    * O(tables · (flips+1) · cap) — independent of n. With
    * bits ∝ log n flips-per-bit probing would make the graph
    * O(n log n); this pins it to O(n). */
  val KnnProbeFlips = 4

  /** Per-(table, signature) bucket occupancy cap on the CANDIDATE side
    * of [[knnGraph]]'s bucket join. [[lshConfig]] keeps the *expected*
    * occupancy near 32, but the data that needs a kNN graph — a
    * pre-dedup corpus — is exactly the data with hot buckets
    * (duplicate clusters collide into one signature), and an uncapped
    * bucket self-join goes quadratic in the hottest bucket (measured
    * 5.9× wall at 10× rows). Capping the candidate side at 2× the
    * expected occupancy bounds every probe at O(cap) pairs; members
    * are kept by a deterministic hash order (a uniform, run-stable
    * sample), so a hot bucket of near-identical vectors still
    * contributes `cap` candidates — far more than the k = 5 any source
    * needs. The probe side stays complete: every vector still queries
    * all its buckets. Sized WITH [[KnnProbeFlips]] on the 10×
    * dup-heavy ScaleBench corpus: margin-ordered probes concentrate
    * on exactly the dense buckets, so probe count and cap trade
    * against each other — (4 flips, cap 64) holds the sf0.01 recall
    * gate at 0.878 and cuts the 10× wall ~2× vs (all-flips, 128). */
  val KnnBucketCap = 64

  /** Full approximate kNN GRAPH — every vector's top-k cosine
    * neighbors, not just a fixed query set: the building block under
    * SemDeDup-style curation, graph clustering, and diversity
    * sampling. Candidates come from the same corpus-sized LSH
    * bucketing as [[embeddingNearDupLsh]] (bucket-local pairs, the
    * all-pairs product never forms), scored with the identical
    * fold-order dot product, deduped across tables, and reduced to
    * top-k per SOURCE vector by a rank-limited window
    * (WindowGroupLimit trims before the final exchange). A vector
    * whose buckets held fewer than k peers gets a shorter neighbor
    * list — recall, not silent padding — which the per-round quality
    * gate measures against an exact brute-force sample. No SQL
    * oracle: the op is approximate by construction (rows-only +
    * gate, the ANN family convention). */
  def knnGraph(sp: SparkSession, dir: String): DataFrame = {
    import sp.implicits._
    val vv = vecs(sp, dir)
    val n = vv.count()
    val (tables, bits) = lshConfig(n)
    val b = buckets(vv, tables, bits)
    // every vector is a query: margin-ordered multi-probe on the probe
    // side (exact-bucket collisions alone catch near-dups, not general
    // top-k neighbors; [[KnnProbeFlips]] least-confident flips keep
    // the probe budget CONSTANT as bits grow with the corpus),
    // candidate ids deduped BEFORE the vectors join back (the
    // duplication factor is tables × (flips+1), far too high to score
    // through)
    val flips = math.min(bits, KnnProbeFlips)
    // JOIN-KEY partitioning at pair-volume width (probes × expected
    // occupancy 32, ~5M pairs per task). The round-12 form spread the
    // PRE-explode probe rows by src — protection a BROADCAST bucket
    // join needs (it inherits the probe side's partitioning, and the
    // scan's few splits put every candidate pair in one task) — but at
    // corpus scale AQE never broadcasts the capped side, and the
    // sort-merge join the planner picks instead RE-exchanged both
    // sides by (tbl, sig) at the static 32-partition width: the
    // 109-way src spread collapsed into 32 sort-heavy pair-production
    // tasks and the src exchange became pure overhead. Measured solo
    // at the 100× corpus (SOLO_sim_knn_graph.json: idle host,
    // steal < 0.2 %, fingerprint-identical plans): 33.8/63.9/41.4 s —
    // a 1.9× rep-to-rep spread with NO plan flip and NO contention,
    // i.e. the memory-pressure-dependent spill behavior of two
    // multi-GB sorts. So partition BOTH sides on the JOIN KEYS at
    // `parts` — probe post-explode (the explode must precede its
    // exchange: a flipped signature lands in another partition),
    // candidate before the cap window (the window needs the same
    // (tbl, sig) exchange, so one shuffle serves both it and the
    // join) — and hint a shuffled-hash join. No sort anywhere in the
    // join, pair production runs `parts`-wide, and the broadcast
    // regime keeps its spread (the probe exchange survives either
    // strategy).
    val pairsPerTask = 5e6
    val parts = math.max(sp.sparkContext.defaultParallelism,
      math.ceil(n.toDouble * tables * (flips + 1) * 32 / pairsPerTask).toInt)
    val probeSide = b
      .select(col("vec_id").as("src"), col("tbl").as("qtbl"),
        col("sig").as("psig"), col("ord"),
        col("v").as("va"), col("nrm").as("na"))
      .select(col("src"), col("qtbl"),
        explode(array(col("psig") +:
          (0 until flips).map(q => expr(
            s"psig ^ shiftleft(1L, cast((ord >> ${q * 4}) & 15 as int))")): _*))
          .as("qsig"),
        col("va"), col("na"))
      .repartition(parts, col("qtbl"), col("qsig"))
    // candidate-side bucket cap ([[KnnBucketCap]]): row_number over a
    // deterministic hash order + filter is a WindowGroupLimit, so the
    // pass stays linear even when a duplicate cluster melts into one
    // hot bucket. The member VECTOR rides along (528 B/row over a
    // tables·n-row table — bounded), so scoring can happen inside the
    // join stage. The build side of the shuffled-hash join holds only
    // this cap-bounded table's partition slice (~total/parts — a few
    // MB at any scale, since parts grows ∝ n). Known trade: the
    // explicit repartition blocks the map-side partial WindowGroupLimit
    // trim, so a melted hot bucket ships untrimmed through this ONE
    // exchange (it shipped through an exchange of the same table
    // before too — the trim only helped buckets already over the cap);
    // the cap still bounds the join work, which is the quadratic
    // hazard the window exists for.
    val bw = Window.partitionBy(col("tbl"), col("sig"))
      .orderBy(xxhash64(col("dst"), col("tbl"), col("sig")), col("dst"))
    val capped = b.select(col("vec_id").as("dst"), col("tbl"), col("sig"),
        col("v").as("vb"), col("nrm").as("nb"))
      .repartition(parts, col("tbl"), col("sig"))
      .withColumn("brn", row_number().over(bw))
      .filter(col("brn") <= KnnBucketCap)
      .drop("brn")
      .hint("shuffle_hash")
    // score INSIDE the join stage, then reduce to narrow rows before
    // anything shuffles again: the earlier distinct-then-join-vectors
    // form shipped two 64-double vectors per candidate pair through
    // the dedup and join exchanges — ~300 GB of spill at the 100×
    // corpus (measured to disk exhaustion). Here the wide join output
    // is consumed by the same-stage projection ([[dot]] stays inside
    // WholeStageCodegen with the fixed i-ascending fold), and only
    // (lo, hi, cosine) — 24 B — ever leaves the stage. A duplicate
    // candidate (a pair colliding in several tables/probes) is scored
    // more than once — redundant CPU, bit-identical results (the fold
    // is direction-blind: x·y per slot commutes). The unordered set
    // is the UNION of both probe directions, a superset of the
    // directed candidates, so recall only rises; a 2-row in-stage
    // explode mirrors each pair to both directions (explode, not
    // union — union would re-execute the scoring subtree).
    val scored = probeSide
      .join(capped,
        col("tbl") === col("qtbl") && col("sig") === col("qsig") &&
          col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("lo"),
        greatest(col("src"), col("dst")).as("hi"),
        (dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cosine"))
    // per-src top-k + exact-duplicate collapse in ONE aggregate
    // ([[graft.functions.TopKNbrAgg]]): the round-9 form shuffled the
    // full pair stream TWICE — 581M rows through a (lo,hi)
    // dropDuplicates that removed only 31 %, then 887M exploded rows
    // through the per-src rank-window exchange, measured 60 s + 100 s
    // of the 148 s 100× wall. The typed aggregate's map side reduces
    // every partition to ≤ k (id, cosine-bits) slots per source
    // INSIDE the scoring stage, so the only pair-scale exchange
    // carries partial k-entry buffers (millions of rows, not hundreds
    // of millions). Duplicates carry bit-identical cosines and
    // collapse in the insert scan; the buffer order
    // (cosine DESC, neighbor ASC) is the old window's sort order, so
    // the emitted graph is row-identical to the round-9 plan.
    import sp.implicits._
    val topk = udaf(new graft.functions.TopKNbrAgg(KnnGraphK))
    scored
      .select(explode(array(
        struct(col("lo").as("src"), col("hi").as("dst")),
        struct(col("hi").as("src"), col("lo").as("dst")))).as("p"),
        col("cosine"))
      .select(col("p.src").as("src"), col("p.dst").as("dst"), col("cosine"))
      .groupBy(col("src"))
      .agg(topk(col("dst"), col("cosine")).as("buf"))
      .as[(Long, Array[Long])]
      .flatMap { case (src, buf) =>
        Iterator.range(0, buf.length / 2)
          .takeWhile(i => buf(2 * i) != Long.MinValue)
          .map { i =>
            (src, i + 1, buf(2 * i),
              java.lang.Double.longBitsToDouble(buf(2 * i + 1)))
          }
      }
      .toDF("vec_id", "rk", "neighbor_id", "cosine")
      .select(col("vec_id"), col("rk"), col("neighbor_id"),
        round(col("cosine"), 4).as("cosine_r"))
  }

  /** Upper-triangle dimension COVARIANCE matrix — the input to
    * whitening transforms and OPQ-style rotation fits that
    * [[dimProfile]]'s diagonal can't provide. cov(i,j) =
    * (n·Σxᵢxⱼ − Σxᵢ·Σxⱼ) / n², j ≥ i.
    * Scale shape: one scan, one fixed-size accumulator array per task
    * (the Dim² products per vector are inherent CPU, but no
    * intermediate row ever materializes — the old Generate×Generate
    * plan paid a 2080× row blowup through the hash aggregate), one
    * matrix-sized exchange, and everything downstream is Dim²-bounded.
    * Float parity: per-product DECIMAL(18,6) quantization identical to
    * the DuckDB oracle's cast ([[Exact.q6dec]]), exact order-free long
    * sums, and a final IEEE double chain written identically on both
    * engines. */
  def covariance(sp: SparkSession, dir: String): DataFrame =
    covStats(sp, dir)._1

  /** Shared single-scan sufficient statistics behind [[covariance]]
    * and [[topEigen]]: one mapPartitions pass accumulates both the
    * upper-triangle product sums Σxᵢxⱼ and the per-dim linear sums
    * Σxᵢ (plus the count) into one fixed-size unscaled-long array, so
    * neither a second corpus scan for `sums` nor a [[dimProfile]]
    * call for means ever runs. Values are bit-identical to the
    * declarative decimal formulation (per-value quantization is the
    * same DECIMAL(18,6) cast, long addition is exact and order-free,
    * and the closing casts/arithmetic reuse the identical Column
    * chain). */
  private def covStats(sp: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    import sp.implicits._
    val d = Dim
    val nPairs = d * (d + 1) / 2
    // One tight JVM loop per row instead of a Dim(Dim+1)/2-row
    // Generate×Generate blowup: each task folds its rows into a single
    // unscaled-long accumulator array (layout: [0,nPairs) = Σ q(xᵢxⱼ)
    // upper triangle in (i, j≥i) order, [nPairs,nPairs+d) = Σ q(xᵢ),
    // last slot = row count). Exact.q6dec reproduces bit-for-bit the
    // DECIMAL(18,6) cast the old declarative plan (and the DuckDB
    // oracle) applies per product, and long addition is exact and
    // order-free, so the sums are identical to the decimal aggregation
    // — this is MLlib's RowMatrix Gramian shape (treeAggregate over a
    // per-partition accumulator), the idiomatic Spark form for
    // fixed-size sufficient statistics. Overflow bound: |xᵢxⱼ| ≤ B →
    // safe while n·B·10⁶ < 2⁶³ (B = 100 → 9e13 rows; the declarative
    // decimal plan this replaces had precision 28 ≈ the same bound).
    val partials = Engine.table(sp, dir, "embeddings")
      .select(col("embedding").cast("array<double>").as("e"))
      .as[Array[Double]]
      .mapPartitions { it =>
        val acc = new Array[Long](nPairs + d + 1)
        it.foreach { e =>
          var k = 0; var i = 0
          while (i < d) {
            val xi = e(i)
            acc(nPairs + i) += Exact.q6dec(xi)
            var j = i
            while (j < d) { acc(k) += Exact.q6dec(xi * e(j)); k += 1; j += 1 }
            i += 1
          }
          acc(nPairs + d) += 1L
        }
        if (acc(nPairs + d) == 0L) Iterator.empty else Iterator.single(acc)
      }
    // Combine the ≤ one-row-per-task partials declaratively (explode →
    // partial-agg collapses each partition to ≤ nPairs+d+1 rows before
    // the one matrix-sized exchange — no driver fold over a
    // partition-count-sized collect), then assemble the Dim²-sized
    // result on the driver like the eigensolve: bounded by the matrix,
    // not the corpus.
    val agg = partials.toDF("value")
      .select(posexplode(col("value")).as(Seq("k", "u")))
      .groupBy(col("k")).agg(sum(col("u")).as("su"))
      .collect()
    val acc = new Array[Long](nPairs + d + 1)
    agg.foreach(r => acc(r.getInt(0)) = r.getLong(1))
    val n = acc(nPairs + d)
    val sxD = Array.tabulate(d)(i => Exact.q6decToDouble(acc(nPairs + i)))
    // decimal→double casts via q6decToDouble = BigDecimal.doubleValue,
    // then the IDENTICAL Column chain the declarative plan ran — the
    // final covariance doubles are bit-equal to the old plan's
    val covRows =
      if (n == 0L) Seq.empty[(Long, Long, Long, Double, Double, Double)]
      else for { i <- 0 until d; j <- i until d } yield {
        val k = i * d - i * (i - 1) / 2 + (j - i)
        (i.toLong, j.toLong, n, Exact.q6decToDouble(acc(k)), sxD(i), sxD(j))
      }
    val cov = covRows.toDF("i", "j", "n", "sxy", "sxi", "sxj")
      .select(col("i"), col("j"), col("n"),
        ((col("n") * col("sxy") - col("sxi") * col("sxj")) /
          (col("n") * col("n"))).as("cov"))
    val sums =
      (if (n == 0L) Seq.empty[(Long, Double, Long)]
       else (0 until d).map(i => (i.toLong, sxD(i), n)))
        .toDF("d", "sx", "n")
    (cov, sums)
  }

  val covarianceOracle: String = s"""
    WITH prods AS (
      SELECT CAST(i.i - 1 AS BIGINT) AS i, CAST(j.j - 1 AS BIGINT) AS j,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CAST(CAST(embedding[CAST(i.i AS INT)] AS DOUBLE)
          * CAST(embedding[CAST(j.j AS INT)] AS DOUBLE)
          AS DECIMAL(18,6))) AS DOUBLE) AS sxy
      FROM embeddings, generate_series(1, $Dim) AS i(i),
        generate_series(1, $Dim) AS j(j)
      WHERE j.j >= i.i
      GROUP BY i.i, j.j),
    sums AS (
      SELECT CAST(d.i - 1 AS BIGINT) AS d,
        CAST(SUM(CAST(CAST(embedding[CAST(d.i AS INT)] AS DOUBLE)
          AS DECIMAL(18,6))) AS DOUBLE) AS sx
      FROM embeddings, generate_series(1, $Dim) AS d(i)
      GROUP BY d.i)
    SELECT p.i, p.j, p.n,
      (p.n * p.sxy - si.sx * sj.sx) / (p.n * p.n) AS cov
    FROM prods p
    JOIN sums si ON si.d = p.i
    JOIN sums sj ON sj.d = p.j"""

  /** Top principal component of the covariance matrix by driver-side
    * power iteration — C is Dim² no matter the corpus (the DISTRIBUTED
    * work is [[covariance]]; the eigensolve is a 64×64 loop), so this
    * is the honest scale split: heavy pass in the cluster, O(Dim²)
    * math on the driver. Deterministic: start vector = the row of the
    * largest diagonal entry, fixed 200 sweeps, sign fixed by making
    * the largest-|component| positive. */
  def topEigen(sp: SparkSession, dir: String): (Array[Double], Array[Double], Double) = {
    val (covDf, sumsDf) = covStats(sp, dir)
    val covRows = covDf.collect()
      .map(r => ((r.getLong(0).toInt, r.getLong(1).toInt), r.getDouble(3)))
    val d = Dim
    val c = Array.ofDim[Double](d, d)
    covRows.foreach { case ((i, j), v) => c(i)(j) = v; c(j)(i) = v }
    // means from the SAME cached single-scan stats (sx/n — the exact
    // doubles dimProfile's mean_x column computes, sans its extra
    // corpus pass)
    val means = sumsDf.collect()
      .map(r => r.getLong(0).toInt -> r.getDouble(1) / r.getLong(2))
      .sortBy(_._1).map(_._2)
    var v = c(Array.tabulate(d)(identity).maxBy(i => c(i)(i))).clone()
    var lambda = 0.0
    for (_ <- 1 to 200) {
      val w = new Array[Double](d)
      var i = 0
      while (i < d) {
        var s = 0.0; var j = 0
        while (j < d) { s += c(i)(j) * v(j); j += 1 }
        w(i) = s; i += 1
      }
      val n = math.sqrt(w.map(x => x * x).sum)
      lambda = n
      v = w.map(_ / n)
    }
    val top = v.indices.maxBy(i => math.abs(v(i)))
    if (v(top) < 0) v = v.map(-_)
    (v, means, lambda)
  }

  /** PCA-1 projection: every embedding's coordinate along the corpus's
    * top principal axis — the 1-d curriculum/visualization/diversity
    * coordinate, and the sanity probe before a whitening transform.
    * pc1(x) = Σ_k (x_k − mean_k)·v_k with a fixed k-ascending fold on
    * both the op and the gate recompute. No SQL oracle (an eigensolve
    * is not SQL); gated on (a) the projection variance DOMINATING
    * every single dimension's variance — what "top component" means —
    * and (b) exact driver-recompute equality on a sample. */
  def pcaProject(sp: SparkSession, dir: String): DataFrame = {
    import sp.implicits._
    val (v, means, _) = topEigen(sp, dir)
    val bcV = sp.sparkContext.broadcast(v)
    val bcM = sp.sparkContext.broadcast(means)
    Engine.table(sp, dir, "embeddings")
      .selectExpr("vec_id", "cast(embedding as array<double>) as x")
      .as[(Long, Seq[Double])]
      .mapPartitions { it =>
        val vv = bcV.value; val mm = bcM.value
        it.map { case (id, xs) =>
          val x = xs.toArray
          var s = 0.0; var k = 0
          while (k < x.length) { s += (x(k) - mm(k)) * vv(k); k += 1 }
          (id, s)
        }
      }
      .toDF("vec_id", "pc1")
  }

  /** Cluster count / Lloyd sweeps for [[kmeans]]; k is
    * conf-overridable (`spark.graft.kmeans.k`) because the right
    * cluster granularity is a corpus property, not an engine one. */
  val KmeansK = 16
  val KmeansIters = 5

  /** Distributed Lloyd fit over the FULL corpus: (final centroids,
    * per-iteration inertias). Unlike the ANN coarse quantizers (which
    * deliberately train on a ≤10k sample — routing only needs an
    * approximate partition), a clustering op's centroids are the
    * deliverable, so every iteration is a real corpus pass: broadcast
    * the k×Dim centroid matrix, fold each task's rows into ONE
    * fixed-size accumulator (per-cluster Σ q(xᵢ) unscaled longs +
    * counts + a quantized inertia sum — the [[covStats]] shape), and
    * combine declaratively before a matrix-sized driver assembly.
    * Exactness: quantized long sums are order-free, so the centroid
    * trajectory is bit-reproducible on ANY partitioning — the
    * property the exact-recompute gate pins. Seeding is the
    * deterministic D²-weighted [[kppSeeds]] over the id-hash sample.
    * Empty clusters keep their previous center ([[localLloyd]]'s
    * rule). Scale: per-iteration cost is one scan + k·Dim work per
    * row; nothing materialized grows with the corpus. */
  def kmeansFit(sp: SparkSession, dir: String)
      : (Array[Array[Double]], Array[Double]) = {
    import sp.implicits._
    val d = Dim
    val k = sp.conf.getOption("spark.graft.kmeans.k")
      .map(_.toInt).getOrElse(KmeansK)
    val all = vecs(sp, dir)
    val seeds = kppSeeds(
      lloydSample(sp, all, "spark.graft.kmeans.sampleMod", k), k)
    var cents = seeds
    val inertias = new Array[Double](KmeansIters)
    // cache the projected vectors across the sweeps: every iteration
    // re-reading + re-casting the parquet costs more than the Lloyd
    // arithmetic itself at bench scale, and the cached column is the
    // Dim-double vector only — the same footprint posture as the
    // logreg trainer's cached feature table
    val vv = all.select(col("v")).as[Seq[Double]].persist()
    try {
    for (t <- 0 until KmeansIters) {
      val kk = cents.length
      val bc = sp.sparkContext.broadcast(cents)
      // accumulator layout: [j·Dim+i) per-cluster coordinate sums,
      // [kk·Dim+j) counts, last slot quantized inertia
      val partials = vv.mapPartitions { it =>
        val c = bc.value
        val acc = new Array[Long](kk * d + kk + 1)
        var any = false
        it.foreach { vs =>
          val x = vs.toArray
          val (best, bestD) = nearest(x, c, 0, d)
          var i = 0
          while (i < d) { acc(best * d + i) += Exact.q6dec(x(i)); i += 1 }
          acc(kk * d + best) += 1L
          acc(kk * d + kk) += Exact.q6dec(bestD)
          any = true
        }
        if (any) Iterator.single(acc) else Iterator.empty
      }
      // driver-side partial sum (the logregFit round-13 move): one
      // bounded collect of ≤ #partitions accumulator arrays replaces a
      // per-sweep posexplode + groupBy shuffle stage. Long addition is
      // exact and order-free → centroid trajectory bit-identical.
      val acc = new Array[Long](kk * d + kk + 1)
      partials.collect().foreach { a =>
        var p = 0
        while (p < acc.length) { acc(p) += a(p); p += 1 }
      }
      inertias(t) = Exact.q6decToDouble(acc(kk * d + kk))
      cents = Array.tabulate(kk) { j =>
        val cnt = acc(kk * d + j)
        if (cnt == 0L) cents(j)
        else Array.tabulate(d)(i =>
          Exact.q6decToDouble(acc(j * d + i)) / cnt)
      }
      bc.destroy()
    }
    } finally vv.unpersist()
    (cents, inertias)
  }

  /** Full-corpus k-means ASSIGNMENT — the clustering primitive under
    * diversity sampling, per-cluster quota curation, and SemDeDup-
    * style semantic grouping (cluster first, dedup within clusters).
    * One broadcast map pass after [[kmeansFit]]; ties break to the
    * lowest cluster id (strict `<` in the argmin). No SQL oracle (an
    * iterative fit is not SQL); gated on exact driver recompute of a
    * sampled assignment against the fit's centroids plus the Lloyd
    * inertia-descent invariant. */
  def kmeans(sp: SparkSession, dir: String): DataFrame = {
    import sp.implicits._
    val d = Dim
    val (cents, _) = kmeansFit(sp, dir)
    val bc = sp.sparkContext.broadcast(cents)
    vecs(sp, dir).select(col("vec_id"), col("v"))
      .as[(Long, Seq[Double])]
      .mapPartitions { it =>
        val c = bc.value
        it.map { case (id, vs) =>
          val (best, bestD) = nearest(vs.toArray, c, 0, d)
          (id, best.toLong, bestD)
        }
      }
      .toDF("vec_id", "cluster", "dist2")
      .select(col("vec_id"), col("cluster"),
        round(col("dist2"), 4).as("dist2_r"))
  }

  /** Power-iteration sweeps in [[graphCentrality]]. */
  val CentIters = 8
  /** Damping factor (the standard 0.85), applied as a per-row double
    * multiply — deterministic scalar arithmetic on any plan. */
  val CentDamp = 0.85

  /** Session-scoped materialized kNN edge list — a real pipeline
    * computes the graph ONCE and runs every downstream graph op
    * (centrality, clustering, sampling) off the materialized k·n-row
    * edge table instead of re-running the whole LSH build per op.
    * Eager localCheckpoint both materializes and truncates the build
    * lineage (reliable checkpoint on a cluster); the cached frame is
    * narrow (two longs per edge), so memory is k·n·16 B — trivially
    * bounded. Keyed per (session, dir) so tests with different SF
    * dirs never cross-contaminate. [[knnGraph]] itself stays the raw
    * builder (its registered query measures the build). */
  // Keyed by (sessionUUID, dir), NOT by weak session reference: the
  // round-10 WeakHashMap design could never collect anything — the
  // cached DataFrame values strongly reference their SparkSession
  // (Dataset.sparkSession), i.e. the map's values referenced its own
  // keys. Eviction is explicit instead: every access purges entries
  // whose owning SparkContext has stopped (their checkpoint blocks
  // died with the context, and dropping the strong reference lets the
  // stopped session itself be collected). A recycled UUID cannot
  // occur (java.util.UUID per session), so no stale checkpoint can
  // ever serve another session. An entry is also dropped once its
  // checkpoint RDD is no longer persisted: a caller that releases every
  // persistent RDD (a runner's cleanup between queries) removes the
  // blocks the frame reads, and handing it out again fails with
  // CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND; the next access rebuilds it.
  private val knnEdgesCache =
    collection.mutable.Map.empty[(String, String), DataFrame]
  private def sessionKey(sp: SparkSession): String =
    org.apache.spark.sql.GraftShim.sessionUUID(sp)
  private def checkpointLive(df: DataFrame): Boolean = {
    val sc = df.sparkSession.sparkContext
    !sc.isStopped && df.queryExecution.logical.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }.exists(sc.getPersistentRDDs.contains)
  }
  private[graft] def sharedKnnEdges(sp: SparkSession, dir: String): DataFrame =
    knnEdgesCache.synchronized {
      knnEdgesCache.filterInPlace((_, df) => checkpointLive(df))
      knnEdgesCache.getOrElseUpdate((sessionKey(sp), dir),
        knnGraph(sp, dir)
          .select(col("vec_id").as("src"), col("neighbor_id").as("dst"),
            col("cosine_r"))
          .localCheckpoint(true))
    }

  /** PageRank-style CENTRALITY over a directed edge list — the
    * graph-based data-curation signal (central documents are
    * prototypical; low-centrality ones are outliers or bridge spam):
    * fixed [[CentIters]] power-iteration sweeps of
    * r′(v) = (1−d)/n + d·Σ_{u→v} r(u)/deg(u).
    * Determinism contract (the kmeans/logreg pattern): each
    * node's contribution r/deg is [[Exact.q6dec]]-quantized ONCE per
    * sweep, in-neighbor sums are exact order-free long addition
    * (groupBy + SUM(long)), and the closing (1−d)/n + d·(s/10⁶)
    * chain is per-row scalar arithmetic — bit-reproducible on any
    * partitioning, which the driver-recompute gate checks exactly.
    * Dangling mass (a vector whose buckets held no peers) is dropped,
    * not redistributed — the op is a ranking signal, not a
    * probability distribution, and redistribution would add an
    * all-to-all term for no curation value. Scale shape: the edge
    * list arrives MATERIALIZED (k·n narrow rows, no vectors); each
    * sweep is two key-hashed exchanges (ranks⋈degree, group-by-dst)
    * — textbook distributed PageRank, O(k·n) per sweep independent of
    * how expensive the graph build was. */
  def graphCentralityFrom(sp: SparkSession, edges: DataFrame,
      nodes: DataFrame): DataFrame = {
    val n = nodes.count()
    // Round-13 note: two restructurings were tried here and measured
    // SLOWER at sf0.1, so only the quantization changed:
    //  - attaching deg to the EDGE table turned one big-table join per
    //    sweep into two (1.84 → 2.3 s);
    //  - carrying the node set in `ranks` itself (dropping the
    //    per-sweep `nodes` re-scan) references the previous sweep's
    //    subtree TWICE per sweep — the logical plan doubles per
    //    iteration and analysis cost explodes; the nodes re-scan is
    //    what keeps lineage growth LINEAR in sweep count.
    // The per-contribution quantization is now the DECLARATIVE decimal
    // cast (bit-identical to Exact.q6dec by construction — q6dec IS the
    // double→DECIMAL(18,6) cast twin), so a sweep stays inside
    // WholeStageCodegen instead of crossing a typed-map serialization
    // boundary (guide §4.1).
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val base = (1.0 - CentDamp) / n
    var ranks = nodes.withColumn("r", lit(1.0 / n))
    for (_ <- 0 until CentIters) {
      val contribs = ranks
        .join(outdeg, ranks("vec_id") === outdeg("src"))
        .select(col("src"),
          expr("cast(cast(r / deg as decimal(18,6)) * 1000000 as bigint)")
            .as("cq"))
      val sums = edges.join(contribs, "src")
        .groupBy(col("dst")).agg(sum(col("cq")).as("s"))
      ranks = nodes
        .join(sums, nodes("vec_id") === sums("dst"), "left")
        .select(nodes("vec_id"),
          (lit(base) + lit(CentDamp) *
            (coalesce(col("s"), lit(0L)).cast("double") / 1e6)).as("r"))
    }
    // eager local checkpoint truncates the 8-sweep lineage (the
    // dedup_cluster_star pattern: reliable checkpoint on a cluster,
    // truncated plan locally)
    ranks.select(col("vec_id"), col("r").as("centrality"))
      .localCheckpoint(true)
  }

  /** Registered form of [[graphCentralityFrom]]: centrality over the
    * session-shared materialized kNN graph ([[sharedKnnEdges]]) — the
    * graph is built once per session/dir, not once per graph op. */
  def graphCentrality(sp: SparkSession, dir: String): DataFrame =
    graphCentralityFrom(sp, sharedKnnEdges(sp, dir),
      vecs(sp, dir).select(col("vec_id")))

  /** Bottom share of the corpus flagged by [[knnOutliers]]. */
  val KnnOutlierShare = 0.05

  /** Floor mean of integer micro-units: ⌊sum/k⌋. Spark's `div` and
    * Scala's `/` both truncate TOWARD ZERO, which differs from floor
    * on negative sums (−5 div 2 = −2, ⌊−5/2⌋ = −3); mean cosines can
    * be negative, so [[knnOutliers]] pins floor semantics explicitly.
    * The double division is exact here: |sum| ≤ k·10⁴ ≪ 2⁵³. */
  private[graft] def meanQ(sumQ: Column, k: Column): Column =
    floor(sumQ.cast("double") / k.cast("double")).cast("long")

  /** kNN-DISTANCE OUTLIERS (Ramaswamy et al., SIGMOD'00 — the classic
    * unsupervised density signal): a vector whose k nearest neighbors
    * are all FAR is isolated — corrupt, garbled, or out-of-
    * distribution — exactly what an embedding-corpus curation pass
    * drops or routes to review. Complements `embed_outlier_filter`
    * (distance to the LABEL centroid, supervised): this op needs no
    * labels. Score = mean cosine to the vector's kNN-graph neighbors;
    * flagged = the corpus's bottom [[KnnOutlierShare]] share.
    *
    * Second consumer of the session-shared materialized kNN edges
    * ([[sharedKnnEdges]], with [[graphCentrality]]) — the graph is
    * built once and every graph op runs off the k·n-row edge list.
    *
    * Exactness/determinism contract: cosine_r is a 4-dp value, so
    * CAST(.. AS DECIMAL(14,4))·10⁴ recovers exact integer micro-units;
    * per-vector sums are order-free long addition and the mean is a
    * FLOOR integer division ([[meanQ]] — explicit `floor`, not SQL
    * `div`'s truncation toward zero: mean cosines can be negative, and
    * the two disagree exactly there; the driver-recompute gate uses
    * `Math.floorDiv` to match). The outlier cut is an EXACT distribution
    * quantile in the `pipeline_quality_calibrate` shape: the value
    * domain is bounded (4-dp cosines → ≤ 2·10⁴+1 buckets), so the
    * threshold comes from a bucket-count aggregate plus a cumulative
    * window over the TINY distribution table — never a global sort of
    * the corpus. Vectors with no bucket collisions at all (k = 0) take
    * mean −1 and are always outliers. Gated on a bit-exact driver
    * recompute from the op's own edge list. */
  def knnOutliers(sp: SparkSession, dir: String): DataFrame = {
    val edges = sharedKnnEdges(sp, dir)
    val nodes = vecs(sp, dir).select(col("vec_id"))
    val qCol = expr("cast(cast(cosine_r as decimal(14,4)) * 10000 as bigint)")
    // eager checkpoint: `means` feeds three consumers (the threshold
    // distribution, the corpus count, and the final projection) —
    // without it each re-scans the embeddings and re-aggregates the
    // edge list; the table is n narrow rows, trivially bounded
    val means = nodes
      .join(edges.groupBy(col("src").as("vec_id"))
          .agg(count(lit(1)).as("k_nbrs"), sum(qCol).as("sum_q")),
        Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("k_nbrs"), lit(0L)).as("k_nbrs"),
        when(col("k_nbrs").isNull, lit(-10000L))
          .otherwise(meanQ(col("sum_q"), col("k_nbrs"))).as("mq"))
      .localCheckpoint(true)
    // exact share threshold over the bounded mean domain
    val dist = means.groupBy(col("mq")).agg(count(lit(1)).as("cnt"))
    val wCum = Window.orderBy(col("mq"))
      .rowsBetween(Window.unboundedPreceding, 0)
    // cum >= ceil(n · share) in pure integers: share = 1/20, and for
    // integers cum·20 >= n ⟺ cum >= ceil(n/20)
    val invShare = math.round(1.0 / KnnOutlierShare)
    val thr = dist
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .crossJoin(broadcast(means.agg(count(lit(1)).as("n"))))
      .filter(col("cum") * lit(invShare) >= col("n"))
      .agg(min(col("mq")).as("t"))
    means.crossJoin(broadcast(thr))
      .select(col("vec_id"), col("k_nbrs"),
        (col("mq").cast("double") / 1e4).as("mean_cos"),
        (col("mq") <= col("t")).as("is_outlier"))
  }

  /** Prototypes kept per cluster by [[clusterSample]]. */
  val ClusterSampleM = 10

  /** Cluster-prototype DIVERSITY SAMPLE — the k-means companion to
    * quota curation: keep the [[ClusterSampleM]] vectors closest to
    * each centroid, so a downstream pipeline can train/seed/inspect on
    * a corpus-shaped coreset instead of a uniform sample (SemDeDup-
    * style curation runs exactly this shape: cluster, then act within
    * clusters). One broadcast assignment pass after [[kmeansFit]],
    * then a per-cluster top-m by (dist², vec_id) — row_number + filter
    * is a WindowGroupLimit, so each task trims to m BEFORE the
    * exchange and the shuffle carries ≤ k·m·tasks rows, never the
    * corpus. Ties break on vec_id: deterministic on any partitioning.
    * No SQL oracle (the fit is iterative); gated on an exact driver
    * recompute of the selected set in QualityGates. */
  def clusterSample(sp: SparkSession, dir: String): DataFrame = {
    val assigned = kmeans(sp, dir)
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("dist2_r").asc, col("vec_id").asc)
    assigned.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= ClusterSampleM)
      .select(col("cluster"), col("rk"), col("vec_id"), col("dist2_r"))
  }

  /** Per-label embedding centroid, emitted long-form (label, dim_idx,
    * n, centroid) so every output cell is a scalar. Sums run through
    * DECIMAL(18,6) so partial-aggregation order cannot perturb the
    * result (same trick as the relational oracle sums) — the plan is
    * a map-side partial sum + one 640-key shuffle, the canonical
    * scalable aggregation shape.
    *
    * The mean is rounded to 6 dp in EXACT DECIMAL arithmetic (decimal
    * division, then a decimal HALF_UP cast): `round(s_double / n, 6)`
    * is not portable — when the true quotient sits exactly on a 5e-7
    * tie the engines perceive the double's binary expansion
    * differently and round apart (hit at sf0.1). The oracle emulates
    * the same HALF_UP with integer arithmetic. */
  def centroidPerLabel(sp: SparkSession, dir: String): DataFrame =
    Engine.table(sp, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim_idx", "x")))
      .groupBy(col("label"), col("dim_idx").cast("long").as("dim_idx"))
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast("double").cast("decimal(18,6)")).as("s"))
      .select(col("label"), col("dim_idx"), col("n"),
        (col("s") / col("n")).cast("decimal(18,6)").cast("double")
          .as("centroid"))

  /** HALF_UP(s/n) at 6 dp in pure integer arithmetic (S = s·10⁶ is
    * exact for a DECIMAL(18,6)): away-from-zero ties like BigDecimal. */
  private def sqlHalfUpDiv(s: String, n: String): String = s"""
    CAST(CASE WHEN $s >= 0
      THEN (2 * CAST($s * 1000000 AS BIGINT) + $n) // (2 * $n)
      ELSE -((-2 * CAST($s * 1000000 AS BIGINT) + $n) // (2 * $n))
    END AS DOUBLE) / 1000000"""

  val centroidPerLabelOracle: String = s"""
    WITH agg AS (
      SELECT label, CAST(s.i - 1 AS BIGINT) AS dim_idx,
        CAST(COUNT(*) AS BIGINT) AS n,
        SUM(CAST(CAST(embedding[CAST(s.i AS INT)] AS DOUBLE)
          AS DECIMAL(18,6))) AS s
      FROM embeddings, generate_series(1, $Dim) AS s(i)
      GROUP BY label, s.i)
    SELECT label, dim_idx, n, ${sqlHalfUpDiv("s", "n")} AS centroid
    FROM agg"""

  /** Vectors scoring below this cosine against their own label
    * centroid are flagged as outliers (~bottom 5% on the testdata). */
  val OutlierTau = 0.0

  /** Embedding outlier scoring: cosine of every vector to its label's
    * centroid, flagging low-affinity vectors (mislabeled / junk
    * embeddings — the standard curation filter before training on
    * labeled embeddings). Centroids use the same exact-decimal sums
    * and exact HALF_UP division as [[centroidPerLabel]]; the cosine
    * itself is NOT re-rounded — with bit-identical inputs the
    * sequential double dot/norm/divide chain is bit-identical across
    * engines (the same parity [[knnBruteForce]] relies on), whereas
    * rounding a double at a fixed scale has non-portable ties. The
    * centroid table is |labels| rows, so the scoring join is an AQE
    * broadcast and the whole op is one map-side aggregation + one map
    * pass — nothing grows with corpus size except the scan. */
  def outlierFilter(sp: SparkSession, dir: String): DataFrame = {
    val emb = Engine.table(sp, dir, "embeddings")
    val cent = emb
      .select(col("label"), posexplode(col("embedding")).as(Seq("d", "x")))
      .groupBy(col("label"), col("d"))
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast("double").cast("decimal(18,6)")).as("s"))
      .select(col("label"), col("d"),
        (col("s") / col("n")).cast("decimal(18,6)").cast("double").as("c"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("d"), col("c")))),
        s => s.getField("c")).as("cv"))
    val v = emb.select(col("vec_id"), col("label"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    v.join(cent, "label")
      .select(col("vec_id"), col("label"),
        (dot(col("v"), col("cv")) /
          (sqrt(dot(col("v"), col("v"))) * sqrt(dot(col("cv"), col("cv")))))
          .as("cos_centroid"))
      .withColumn("is_outlier", col("cos_centroid") < OutlierTau)
  }

  val outlierFilterOracle: String = s"""
    WITH agg AS (
      SELECT label, s.i AS d, CAST(COUNT(*) AS BIGINT) AS n,
        SUM(CAST(CAST(embedding[CAST(s.i AS INT)] AS DOUBLE)
          AS DECIMAL(18,6))) AS s
      FROM embeddings, generate_series(1, $Dim) AS s(i)
      GROUP BY label, s.i),
    cent AS (
      SELECT label, d, ${sqlHalfUpDiv("s", "n")} AS c FROM agg),
    cvec AS (SELECT label, list(c ORDER BY d) AS cv FROM cent GROUP BY label),
    v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings)
    SELECT vec_id, v.label,
      list_inner_product(v.v, cv) /
        (sqrt(list_inner_product(v.v, v.v)) * sqrt(list_inner_product(cv, cv)))
        AS cos_centroid,
      list_inner_product(v.v, cv) /
        (sqrt(list_inner_product(v.v, v.v)) * sqrt(list_inner_product(cv, cv)))
        < $OutlierTau AS is_outlier
    FROM v JOIN cvec ON v.label = cvec.label"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_knn_classify" -> (knnClassify _),
    "embed_centroid_per_label" -> (centroidPerLabel _),
    "embed_dim_profile" -> (dimProfile _),
    "embed_quantize_int8" -> (quantizeInt8 _),
    "embed_matryoshka_eval" -> (matryoshkaEval _),
    "embed_covariance" -> (covariance _),
    "sim_knn_graph" -> (knnGraph _),
    "embed_pca_project" -> (pcaProject _),
    "embed_outlier_filter" -> (outlierFilter _),
    "sim_knn_bruteforce" -> (knnBruteForce _),
    "sim_ann_lsh" -> (annLsh _),
    "sim_ann_ivf" -> (annIvf _),
    "sim_pq_encode" -> (pqEncode _),
    "sim_ann_pq" -> (annPq _),
    "sim_ann_ivf_pq" -> (annIvfPq _),
    "sim_ann_hnsw" -> (annHnsw _),
    "sim_ann_binary" -> (annBinary _),
    "sim_embedding_neardup" -> ((s, d) => embeddingNearDup(s, d)),
    "sim_neardup_lsh" -> (embeddingNearDupLsh _),
    "sim_kmeans" -> (kmeans _),
    "pipeline_cluster_sample" -> (clusterSample _),
    "sim_graph_centrality" -> (graphCentrality _),
    "sim_knn_outliers" -> (knnOutliers _),
    "dedup_semantic" -> (semanticDedup _))

  val oracles: Map[String, String] = Map(
    "sim_knn_classify" -> knnClassifyOracle,
    "embed_centroid_per_label" -> centroidPerLabelOracle,
    "embed_dim_profile" -> dimProfileOracle,
    "embed_quantize_int8" -> quantizeInt8Oracle,
    "embed_matryoshka_eval" -> matryoshkaEvalOracle,
    "embed_covariance" -> covarianceOracle,
    "embed_outlier_filter" -> outlierFilterOracle,
    "sim_knn_bruteforce" -> knnBruteForceOracle,
    "sim_ann_binary" -> annBinaryOracle,
    "sim_embedding_neardup" -> embeddingNearDupOracle)
}
