package graft.operators

import graft.Engine
import graft.functions.functions.word_ngrams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data curation operators over `documents`:
  *
  *  - decontamination: flag training documents that share any word
  *    5-gram with an evaluation set (the classic "remove benchmark
  *    contamination" pass before LLM training)
  *  - sequence packing: concatenate documents in a deterministic
  *    order and cut every `SeqLen` tokens — the GPT-style "pack then
  *    split" batching layout; each document gets its bin id, offset,
  *    and how many bins it straddles
  *  - n-gram familiarity: score each document by the mean corpus
  *    document-frequency of its word bigrams — rare-ngram outliers
  *    (garbled text, boilerplate explosions) score low
  *
  * All three are exactly SQL-expressible (integer arithmetic, at most
  * one final division), so each is DuckDB-oracled.
  *
  * Scale posture (100 TB): the gram joins shuffle on the gram key
  * (high cardinality, well-spread); the eval side of the
  * decontamination join is benchmark-sized and becomes a runtime
  * broadcast under AQE without being forced. Packing's global prefix
  * sum is the two-phase shape (range partition → per-partition
  * subtotals, a bounded driver collect → broadcast-seeded local
  * running sums) — one pass, no single-task scan.
  */
object CurationOps {

  /** Words per decontamination gram. The oracle's upper-exclusive
    * `range(1, GREATEST(len - 3, 2))` yields max(len - 4, 1) grams,
    * the count `word_ngrams` gives. */
  private val GramWords = 5

  /** Documents whose `source` marks them as the held-out eval set. */
  private val EvalSource = "src0"

  /** Each document's DISTINCT word 5-grams, deduped inside the row by
    * the codegen'd `word_ngrams` (a gram row comes from its doc's one
    * text row, so the in-row distinct equals a `.distinct()` over the
    * exploded stream without its hash aggregate). */
  private def gramsOf(sp: SparkSession, dir: String): DataFrame =
    Engine.table(sp, dir, "documents")
      .repartition(sp.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), col("source"),
        explode(word_ngrams(col("text"), GramWords, distinct = true)).as("g"))

  /** Training docs sharing ≥1 word 5-gram with the eval set, with the
    * count of distinct shared grams. */
  def decontaminate(sp: SparkSession, dir: String): DataFrame =
    // ONE corpus gram pass (round 13): the old eval-side
    // `filter → distinct` and train-side filter were two references to
    // the gram subtree whose distinct is exchange-free (pre-partitioned
    // by doc_id), so the scan + explode genuinely ran TWICE and the
    // join exchanged both. A max(in_eval) window over the gram key
    // replaces the self-join: one exchange on `g`, then the per-doc
    // count. Row-identical: gram rows are distinct per (doc, g), and
    // joining against the distinct eval-gram set multiplied by exactly
    // 1 — same rows as filtering on the flag.
    gramsOf(sp, dir)
      .withColumn("in_eval",
        max(when(col("source") === EvalSource, 1).otherwise(0))
          .over(Window.partitionBy(col("g"))))
      .filter(col("source") =!= EvalSource && col("in_eval") === 1)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared")) // grams are distinct per doc already

  val decontaminateOracle: String = s"""
    WITH words AS (
      SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
    grams AS (
      SELECT DISTINCT doc_id, source,
        unnest(list_transform(
          range(1, GREATEST(len(ws) - ${GramWords - 2}, 2)),
          i -> array_to_string(ws[i:i+${GramWords - 1}], ' '))) AS g
      FROM words),
    ev AS (SELECT DISTINCT g FROM grams WHERE source = '$EvalSource')
    SELECT g.doc_id, COUNT(*) AS n_shared
    FROM grams g JOIN ev ON g.g = ev.g
    WHERE g.source <> '$EvalSource'
    GROUP BY g.doc_id"""

  /** Contamination SCORE — [[decontaminate]]'s quantifying sibling:
    * instead of dropping overlapping docs, report each training doc's
    * overlap fraction (distinct shared 5-grams / distinct own
    * 5-grams), the number a curation run thresholds or audits. The
    * denominator comes from the per-doc distinct gram count (row-local
    * before the one aggregation), the numerator from the same
    * eval-gram equi-join as decontaminate (never a θ-join), LEFT so
    * clean docs report 0.0 rather than vanish. The fraction is ONE
    * double division of two exact integers — IEEE division is
    * deterministic, so both engines produce the identical double.
    * Scale: |grams| ≈ corpus words; join keyed on gram text. */
  def contaminationScore(sp: SparkSession, dir: String): DataFrame =
    // same one-pass window shape as [[decontaminate]] — and here the
    // numerator (shared grams) and denominator (own grams) fold into
    // ONE per-doc aggregate, so the old own⋈shared left join (plus its
    // third corpus-subtree execution) disappears. The flagged sum
    // equals the join count for the same reason as decontaminate.
    gramsOf(sp, dir)
      .withColumn("in_eval",
        max(when(col("source") === EvalSource, 1L).otherwise(0L))
          .over(Window.partitionBy(col("g"))))
      .filter(col("source") =!= EvalSource)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), sum(col("in_eval")).as("n_shared"))
      .select(col("doc_id"), col("n_grams"), col("n_shared"),
        (col("n_shared").cast("double") /
          col("n_grams").cast("double")).as("contamination"))


  val contaminationScoreOracle: String = s"""
    WITH words AS (
      SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
    grams AS (
      SELECT DISTINCT doc_id, source,
        unnest(list_transform(
          range(1, GREATEST(len(ws) - ${GramWords - 2}, 2)),
          i -> array_to_string(ws[i:i+${GramWords - 1}], ' '))) AS g
      FROM words),
    ev AS (SELECT DISTINCT g FROM grams WHERE source = '$EvalSource'),
    train AS (SELECT doc_id, g FROM grams WHERE source <> '$EvalSource'),
    own AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams
            FROM train GROUP BY doc_id),
    sh AS (SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
           FROM train t JOIN ev ON t.g = ev.g GROUP BY t.doc_id)
    SELECT own.doc_id, own.n_grams,
      COALESCE(sh.n_shared, 0) AS n_shared,
      CAST(COALESCE(sh.n_shared, 0) AS DOUBLE) / CAST(own.n_grams AS DOUBLE)
        AS contamination
    FROM own LEFT JOIN sh ON own.doc_id = sh.doc_id"""

  /** Context-window length for packing. */
  val SeqLen = 2048L

  /** Pack-then-split: documents concatenated in doc_id order, cut
    * every SeqLen tokens. Emits where each document lands: its bin,
    * offset inside the bin, and bins spanned. The global prefix sum
    * uses the same cached-pid two-phase shape as
    * [[TextOps.tokenBudget]] (see the cache note there: the pid is a
    * column inside the cached rows, so downstream stage collapsing
    * cannot corrupt offset seeding). */
  def packSequences(sp: SparkSession, dir: String): DataFrame = {
    val docs = Engine.table(sp, dir, "documents")
      .select(col("doc_id"),
        (length(col("text")) - length(replace(col("text"), lit(" "), lit(""))) + 1)
          .cast("long").as("n_tokens"))
    val parts = sp.sparkContext.defaultParallelism
    val sorted = docs
      .repartitionByRange(parts, col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
      .withColumn("pid", spark_partition_id())
      .cache()
    val subtotals = sorted
      .groupBy(col("pid")).agg(sum(col("n_tokens")).as("sub"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    val offsets: Map[Int, Long] = subtotals.map { case (pid, _) =>
      pid -> subtotals.collect { case (p2, s2) if p2 < pid => s2 }.sum
    }.toMap
    val bc = sp.sparkContext.broadcast(offsets)
    import sp.implicits._
    sorted.select(col("doc_id"), col("n_tokens"), col("pid"))
      .as[(Long, Long, Int)]
      .mapPartitions { it =>
        var curPid = -1
        var run = 0L
        it.map { case (id, nt, pid) =>
          if (pid != curPid) { curPid = pid; run = bc.value.getOrElse(pid, 0L) }
          val start = run
          run += nt
          (id, nt, start / SeqLen, start % SeqLen,
            (run - 1) / SeqLen - start / SeqLen + 1)
        }
      }
      .toDF("doc_id", "n_tokens", "bin_id", "bin_offset", "n_bins")
  }

  val packSequencesOracle: String = s"""
    SELECT doc_id, n_tokens,
      CAST((cum - n_tokens) // $SeqLen AS BIGINT) AS bin_id,
      CAST((cum - n_tokens) % $SeqLen AS BIGINT) AS bin_offset,
      CAST((cum - 1) // $SeqLen - (cum - n_tokens) // $SeqLen + 1 AS BIGINT) AS n_bins
    FROM (
      SELECT doc_id,
        CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS BIGINT) AS n_tokens,
        CAST(SUM(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1) OVER
          (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM documents)"""

  /** Mean corpus document-frequency of each document's word bigrams
    * (duplicates included). Two aggregations + one join, all-integer
    * until the final division, so oracle-exact. */
  def ngramFamiliarity(sp: SparkSession, dir: String): DataFrame = {
    val bigrams = Engine.table(sp, dir, "documents")
      .repartition(sp.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), explode(word_ngrams(col("text"), 2)).as("g"))
    val df = bigrams.select(col("doc_id"), col("g")).distinct()
      .groupBy(col("g")).agg(count(lit(1)).as("df"))
    bigrams.join(df, "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("df")).as("df_sum"))
      .withColumn("familiarity",
        col("df_sum").cast("double") / col("n_bigrams"))
  }

  val ngramFamiliarityOracle: String = """
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    bigrams AS (
      SELECT doc_id,
        unnest(list_transform(
          range(1, GREATEST(len(ws), 2)),
          i -> array_to_string(ws[i:i+1], ' '))) AS g
      FROM words),
    dfs AS (
      SELECT g, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM bigrams GROUP BY g)
    SELECT b.doc_id, COUNT(*) AS n_bigrams,
      CAST(SUM(d.df) AS BIGINT) AS df_sum,
      CAST(SUM(d.df) AS DOUBLE) / COUNT(*) AS familiarity
    FROM bigrams b JOIN dfs d ON b.g = d.g
    GROUP BY b.doc_id"""

  /** Deterministic train/val/test split (80/10/10) with a per-language
    * balance audit. Assignment is a doc_id modulus — row-local,
    * shuffle-free, reproducible across runs/engines, and stable under
    * re-ingestion (a document keeps its split forever, the property
    * eval-leak prevention actually needs). Per-stratum proportions
    * converge by id uniformity; an exact-rank variant would reuse the
    * [[packSequences]] two-phase prefix sum. The query emits the
    * (lang, split) balance table a pipeline gates on — the only
    * shuffle is that final small aggregation. */
  def splitStratified(sp: SparkSession, dir: String): DataFrame =
    Engine.table(sp, dir, "documents")
      .withColumn("split",
        when(col("doc_id") % 10 < 8, "train")
          .when(col("doc_id") % 10 === 8, "val")
          .otherwise("test"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"))

  val splitStratifiedOracle: String = """
    SELECT lang,
      CASE WHEN doc_id % 10 < 8 THEN 'train'
           WHEN doc_id % 10 = 8 THEN 'val' ELSE 'test' END AS split,
      COUNT(*) AS n_docs,
      CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents GROUP BY 1, 2"""

  /** Documents per output shard (config knob at scale: shards sized
    * so one shard ≈ one training file). */
  val ShardSize = 100L

  /** Deterministic global shuffle + fixed-size shard assignment — the
    * last stage of a training-data pipeline: every document gets a
    * pseudo-random but reproducible position (order by md5 of its id)
    * and a shard id cutting that order into [[ShardSize]]-document
    * files. Same two-phase global-rank shape as [[packSequences]]:
    * range-partition by the shuffle key, count per partition (an
    * O(partitions) driver collect), broadcast prefix offsets, then a
    * partition-local running index — no single-task global sort, no
    * window over the corpus. */
  def shuffleShards(sp: SparkSession, dir: String): DataFrame = {
    val docs = Engine.table(sp, dir, "documents")
      .select(col("doc_id"),
        md5(col("doc_id").cast("string").cast("binary")).as("shuf"))
    val parts = sp.sparkContext.defaultParallelism
    val sorted = docs
      .repartitionByRange(parts, col("shuf"), col("doc_id"))
      .sortWithinPartitions(col("shuf"), col("doc_id"))
      .withColumn("pid", spark_partition_id())
      .cache()
    val counts = sorted
      .groupBy(col("pid")).agg(count(lit(1)).as("c"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    val offsets: Map[Int, Long] = counts.map { case (pid, _) =>
      pid -> counts.collect { case (p2, c2) if p2 < pid => c2 }.sum
    }.toMap
    val bc = sp.sparkContext.broadcast(offsets)
    import sp.implicits._
    sorted.select(col("doc_id"), col("pid"))
      .as[(Long, Int)]
      .mapPartitions { it =>
        var curPid = -1
        var rank = 0L
        it.map { case (id, pid) =>
          if (pid != curPid) { curPid = pid; rank = bc.value.getOrElse(pid, 0L) }
          val r = rank
          rank += 1
          (id, r / ShardSize, r % ShardSize)
        }
      }
      .toDF("doc_id", "shard_id", "pos_in_shard")
  }

  /** Shard MANIFEST — the reproducibility artifact shipped next to a
    * training-data export: per shard, the document count and an
    * ORDER-INDEPENDENT content checksum (sum of a 52-bit prefix of
    * each document's md5), so a consumer can verify a transferred
    * shard without caring how rows were ordered inside it. 52 bits ×
    * [[ShardSize]] = 100 docs keeps the shard sum under 2⁵⁹ — no
    * overflow, and integer addition is associative, so any partition
    * order hashes identically (the same argument as Exact's scaled
    * sums). Scale: the shard assignment's two-phase rank + one
    * equi-join + one aggregate. */
  def shardManifest(sp: SparkSession, dir: String): DataFrame = {
    val content = Engine.table(sp, dir, "documents")
      .select(col("doc_id"),
        conv(substring(md5(col("text").cast("binary")), 1, 13), 16, 10)
          .cast("long").as("h"))
    shuffleShards(sp, dir)
      .join(content, "doc_id")
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("h")).as("checksum"))
  }

  val shuffleShardsOracle: String = s"""
    WITH r AS (
      SELECT doc_id,
        ROW_NUMBER() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1
          AS rk
      FROM documents)
    SELECT doc_id, rk // $ShardSize AS shard_id,
      rk % $ShardSize AS pos_in_shard
    FROM r"""

  val shardManifestOracle: String = s"""
    WITH r AS (
      SELECT doc_id,
        (ROW_NUMBER() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
          - 1) // $ShardSize AS shard_id
      FROM documents),
    m AS (
      SELECT doc_id,
        CAST('0x' || substring(md5(text), 1, 13) AS BIGINT) AS h
      FROM documents)
    SELECT r.shard_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(m.h) AS BIGINT) AS checksum
    FROM r JOIN m ON r.doc_id = m.doc_id
    GROUP BY r.shard_id"""

  /** Target mixture weights per language, in per-mille — the
    * training-recipe knob (the classic "40% English, 20% Chinese, …"
    * data card). Integer so every derived quantity stays exact. */
  val MixWeights: Seq[(String, Long)] = Seq(
    "en" -> 400L, "zh" -> 200L, "de" -> 150L, "fr" -> 150L, "es" -> 100L)

  /** Knuth multiplicative hash constants for the sampling decision —
    * plain integer arithmetic both engines compute bit-identically
    * (no engine-specific hash function in the cut). */
  val MixHashMul = 2654435761L
  val MixHashMod = 4294967296L // 2^32

  /** Weighted source-mixture sampling: downsample each language class
    * so the output follows [[MixWeights]] as closely as the corpus
    * allows — the recipe-mixing pass before training. The budget is
    * the largest total no class can't fill (min over classes of
    * n/w); each class then keeps a hash-thresholded subset of ≈ w·B
    * docs. The keep decision is a pure per-row predicate
    * (hash(doc_id) < class threshold), so after one tiny per-class
    * count aggregate the op is a map-side filter — no shuffle of the
    * corpus, no per-class sort, trivially parallel at 100 TB.
    * All arithmetic is integer (div = floor division on both
    * engines) → exact DuckDB oracle. The threshold product take·2³²
    * runs through DECIMAL(38,0) on both engines (the
    * [[mixTemperature]] pattern): at ≳2³¹ kept rows per class —
    * reachable at the op's pitched 100 TB — the int64 product wraps
    * (Spark silently, DuckDB raising); the 128-bit intermediate is
    * exact to n < 10²⁶ and `div` floors back to the same BIGINT
    * everywhere int64 didn't overflow. */
  def mixSources(sp: SparkSession, dir: String): DataFrame = {
    val docs = Engine.table(sp, dir, "documents")
    val w = sp.createDataFrame(MixWeights).toDF("lang", "wt")
    val cnt = docs.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .join(broadcast(w), "lang")
    val budget = cnt.agg(min(expr("n * 1000 div wt")).as("bud"))
    val thr = cnt.crossJoin(broadcast(budget))
      .withColumn("thr",
        expr(s"cast(wt * bud div 1000 as decimal(38,0)) * $MixHashMod div n"))
      .select(col("lang"), col("thr"))
    docs.join(broadcast(thr), "lang")
      .filter((col("doc_id") * MixHashMul) % MixHashMod < col("thr"))
      .select(col("doc_id"), col("lang"), col("source"))
  }

  val mixSourcesOracle: String = {
    val values = MixWeights
      .map { case (l, wt) => s"('$l', $wt)" }.mkString(", ")
    s"""
    WITH w(lang, wt) AS (VALUES $values),
    cnt AS (
      SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n, MAX(w.wt) AS wt
      FROM documents d JOIN w ON d.lang = w.lang GROUP BY d.lang),
    b AS (SELECT MIN(n * 1000 // wt) AS bud FROM cnt),
    f AS (
      SELECT lang,
        (CAST(wt * bud // 1000 AS HUGEINT) * $MixHashMod) // n AS thr
      FROM cnt CROSS JOIN b)
    SELECT d.doc_id, d.lang, d.source
    FROM documents d JOIN f ON d.lang = f.lang
    WHERE (d.doc_id * $MixHashMul) % $MixHashMod < f.thr"""
  }

  /** Sample size per language for [[weightedSample]]. */
  val WeightedSampleK = 40

  /** Probability-proportional-to-size sampling per language:
    * sequential Poisson sampling (Ohlsson '98, the PPS scheme used by
    * official statistics) — each document gets priority uᵢ/wᵢ with
    * uᵢ a per-id uniform variate and wᵢ its weight (n_chars: longer
    * documents carry proportionally more training tokens, so a
    * token-budget-aware subsample should prefer them); the k smallest
    * priorities per stratum win. Everything is INTEGER: uᵢ is the
    * same Knuth-hash variate as [[mixSources]], and the priority is
    * the floor-scaled ratio (uᵢ·10⁶) div wᵢ — u < 2³² keeps the
    * product < 2⁵², so both engines evaluate the identical BIGINT
    * (no float division, no libm — the repo-wide exactness
    * discipline). Scale shape: the per-stratum top-k is the
    * [[graft.operators.TextOps.samplePerLang]] two-phase prune —
    * per-partition row_number keeps ≤ k·P rows per language
    * (WindowGroupLimit trims before the exchange), the global window
    * ranks only survivors; the corpus itself never shuffles or
    * sorts. Same ≳2³¹-doc_id caveat as the other Knuth-hash cuts. */
  def weightedSample(sp: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Engine.table(sp, dir, "documents")
      .select(col("doc_id"), col("lang"),
        greatest(col("n_chars").cast("long"), lit(1L)).as("w"))
      .withColumn("priority", expr(
        s"((doc_id * $MixHashMul) % $MixHashMod) * 1000000 div w"))
    val local = docs.withColumn("pid", spark_partition_id())
    val perPart = Window.partitionBy(col("pid"), col("lang"))
      .orderBy(col("priority").asc, col("doc_id").asc)
    val pruned = local
      .withColumn("r1", row_number().over(perPart))
      .filter(col("r1") <= WeightedSampleK)
      .drop("pid", "r1")
    val global = Window.partitionBy(col("lang"))
      .orderBy(col("priority").asc, col("doc_id").asc)
    pruned
      .withColumn("rank", row_number().over(global).cast("long"))
      .filter(col("rank") <= WeightedSampleK)
      .select(col("lang"), col("doc_id"), col("w"), col("priority"),
        col("rank"))
  }

  val weightedSampleOracle: String = s"""
    SELECT lang, doc_id, w, priority, rank FROM (
      SELECT lang, doc_id, w, priority,
        CAST(ROW_NUMBER() OVER (PARTITION BY lang
          ORDER BY priority, doc_id) AS BIGINT) AS rank
      FROM (
        SELECT lang, doc_id,
          GREATEST(CAST(n_chars AS BIGINT), 1) AS w,
          (((doc_id * $MixHashMul) % $MixHashMod) * 1000000)
            // GREATEST(CAST(n_chars AS BIGINT), 1) AS priority
        FROM documents))
    WHERE rank <= $WeightedSampleK"""

  /** Temperature-scaled source mixing (α = 0.5): the √-upsampling
    * recipe LLM pretraining uses to keep big crawls from drowning
    * small high-quality sources — source s gets a target of
    * k_s = floor(N · √n_s / Σ√n) documents per epoch, so a 100×
    * larger source gets only 10× the slots. The output is an epoch
    * MANIFEST: per document, how many times it appears (small sources
    * upsample to n_copies ≥ 1, big ones thin to {0,1}), assigned by
    * the same deterministic multiplicative-hash slotting as
    * [[mixSources]]: base = k div n copies for everyone, plus one for
    * the ≈ k mod n documents whose hash slot falls under the
    * remainder threshold (hash-uniform, so the epoch total tracks k_s
    * as closely as the corpus hash allows — the [[mixSources]]
    * contract).
    *
    * Float parity: α = 0.5 means the only transcendental is sqrt —
    * correctly rounded by IEEE on BOTH engines (unlike ln/pow), so
    * √n is bit-exact. Σ√n is a sum of doubles whose ADDITION ORDER
    * must match: it is taken as a running window sum ordered by
    * source (both engines accumulate frames left-to-right), never a
    * hash-agg SUM. Everything after the one floor() is integer.
    * Scale: one tiny counts aggregate + a broadcast threshold table;
    * assignment is row-local. */
  def mixTemperature(sp: SparkSession, dir: String): DataFrame = {
    val docs = Engine.table(sp, dir, "documents")
    val cnt = docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val wCum = Window.orderBy(col("source"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val z = cnt
      .withColumn("cum", sum(sqrt(col("n").cast("double"))).over(wCum))
      .agg(max(col("cum")).as("z"), sum(col("n")).as("n_total"))
    val thr = cnt.crossJoin(broadcast(z))
      .withColumn("k",
        floor(col("n_total") * sqrt(col("n").cast("double")) / col("z"))
          .cast("long"))
      .select(col("source"), expr("k div n").as("base"),
        // (k % n) < n, so the 2^32 product overflows signed 64-bit
        // once one source holds >= 2^31 documents — a reachable corpus
        // size for the op's 100 TB pitch. DECIMAL(38,0) gives the
        // product 128-bit headroom (exact to n < 10^26); `div` floors
        // back to the same BIGINT the oracle computes, and the result
        // always fits (r·2^32/n < 2^32). Bit-identical to the old
        // arithmetic wherever that didn't overflow.
        expr(s"cast(k % n as decimal(38,0)) * ${MixHashMod} div n")
          .as("rem_thr"))
    docs.join(broadcast(thr), "source")
      .select(col("doc_id"), col("source"),
        (col("base") + when(
          (col("doc_id") * MixHashMul) % MixHashMod < col("rem_thr"), 1L)
          .otherwise(0L)).as("n_copies"))
  }

  val mixTemperatureOracle: String = s"""
    WITH cnt AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n
      FROM documents GROUP BY source),
    cum AS (
      SELECT source, n,
        SUM(sqrt(CAST(n AS DOUBLE))) OVER (ORDER BY source
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM cnt),
    zz AS (SELECT MAX(cum) AS z, CAST(SUM(n) AS BIGINT) AS n_total
           FROM cum),
    thr AS (
      SELECT source,
        k // n AS base,
        (CAST(k % n AS HUGEINT) * ${MixHashMod}) // n AS rem_thr
      FROM (
        SELECT source, n,
          CAST(FLOOR(n_total * sqrt(CAST(n AS DOUBLE)) / z) AS BIGINT) AS k
        FROM cnt CROSS JOIN zz))
    SELECT d.doc_id, d.source,
      t.base + (CASE WHEN (d.doc_id * ${MixHashMul}) % ${MixHashMod}
                          < t.rem_thr THEN 1 ELSE 0 END) AS n_copies
    FROM documents d JOIN thr t USING (source)"""

  /** Dataset release card: the one-row manifest a corpus ships with —
    * document/source/language counts, size extremes and totals, the
    * exact-duplicate rate (distinct content hashes vs rows), and mean
    * document length. One pass over the corpus; the only shuffles
    * carry distinct hashes/keys (COUNT(DISTINCT) expansion), the
    * md5 stream is 32 B/row. All integers until two final divisions
    * written identically on both engines — fully oracled. */
  def datasetCard(sp: SparkSession, dir: String): DataFrame =
    Engine.table(sp, dir, "documents")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_chars")).as("total_chars"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        countDistinct(md5(col("text").cast("binary"))).as("n_distinct_texts"))
      .select(col("n_docs"), col("n_sources"), col("n_langs"),
        col("total_chars"), col("min_chars"), col("max_chars"),
        col("n_distinct_texts"),
        ((col("n_docs") - col("n_distinct_texts")).cast("double") /
          col("n_docs")).as("exact_dup_rate"),
        (col("total_chars").cast("double") / col("n_docs")).as("mean_chars"))

  val datasetCardOracle: String = """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
      CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
      CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
      CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts,
      CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS DOUBLE) / COUNT(*)
        AS exact_dup_rate,
      CAST(CAST(SUM(n_chars) AS BIGINT) AS DOUBLE) / COUNT(*) AS mean_chars
    FROM documents"""

  /** Curriculum bucketing WITHOUT a global sort: assign each document
    * to a length decile by exact thresholds, not NTILE. NTILE needs a
    * total order over all rows (single-partition window at scale, and
    * its tie-splitting is row-order-dependent — nondeterministic
    * across engines); instead the value DISTRIBUTION is aggregated to
    * (value, count) — one partial-agg shuffle sized by distinct
    * values, not rows — the 9 cut points are taken from the cumulative
    * distribution, and rows bucket themselves against the broadcast
    * 1-row threshold table in a row-local pass. Rank arithmetic is
    * pure integer ((tot·d + 9) div 10 = ceil) — no float rank on
    * either engine. The single-partition cumulative window runs over
    * the tiny distribution only (documented lengthQuantiles shape).
    * Ties share a bucket (equal values are indistinguishable — the
    * deterministic choice), so bucket populations are near-equal, not
    * exactly n/10. */
  def curriculum(sp: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Engine.table(sp, dir, "documents")
    val counts = docs.groupBy(col("n_chars")).agg(count(lit(1)).as("c"))
    val wCum = Window.orderBy(col("n_chars"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = counts.withColumn("cum", sum(col("c")).over(wCum))
      .crossJoin(broadcast(counts.agg(sum(col("c")).as("tot"))))
    val th = cum.agg(
      min(when(col("cum") >= expr("(tot * 1 + 9) div 10"), col("n_chars"))).as("t1"),
      (2 to 9).map(d =>
        min(when(col("cum") >= expr(s"(tot * $d + 9) div 10"), col("n_chars")))
          .as(s"t$d")): _*)
    val bucket = (1 to 9)
      .map(d => when(col("n_chars") > col(s"t$d"), 1).otherwise(0))
      .reduce(_ + _) + lit(1)
    docs.crossJoin(broadcast(th))
      .select(col("doc_id"), col("n_chars"), bucket.as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
  }

  val curriculumOracle: String = {
    val ths = (1 to 9).map(d =>
      s"MIN(CASE WHEN cum >= (tot * $d + 9) // 10 THEN n_chars END) AS t$d")
      .mkString(",\n        ")
    val bucket = (1 to 9)
      .map(d => s"(CASE WHEN n_chars > t$d THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""
    WITH counts AS (
      SELECT n_chars, COUNT(*) AS c FROM documents GROUP BY n_chars),
    cum AS (
      SELECT n_chars,
        SUM(c) OVER (ORDER BY n_chars ROWS BETWEEN UNBOUNDED PRECEDING
          AND CURRENT ROW) AS cum,
        SUM(c) OVER () AS tot
      FROM counts),
    th AS (
      SELECT $ths
      FROM cum)
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
      MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
    FROM (SELECT doc_id, n_chars, 1 + $bucket AS bucket
          FROM documents CROSS JOIN th)
    GROUP BY bucket"""
  }

  /** Snapshot diff — the dataset-versioning audit: classify every
    * distinct content hash as `added` / `removed` / `kept` between
    * two corpus snapshots, with hash and document counts per class.
    * The release-note artifact of a dataset refresh ("v2 adds 1.2M
    * docs, drops 40k, keeps 98%").
    *
    * The two snapshots here are deterministic overlapping doc_id
    * slices of the one test corpus (v1 = id % 3 ≠ 0, v2 = id % 2 ≠ 0
    * — a real call passes two table versions); membership is by
    * CONTENT (md5 of text), so a doc re-ingested under a new id
    * counts as kept, the semantics a content-addressed diff needs.
    *
    * Scale shape: each side collapses to (hash, count) BEFORE the
    * diff — the full-outer equi-join runs on 32 B/row aggregates,
    * the same posture as exact dedup; the final class rollup is 3
    * rows. Integer counts → fully oracled. */
  def snapshotDiff(sp: SparkSession, dir: String): DataFrame = {
    val hashed = Engine.table(sp, dir, "documents")
      .select(col("doc_id"), md5(col("text")).as("h"))
    val v1 = hashed.filter(col("doc_id") % 3 =!= 0)
      .groupBy(col("h")).agg(count(lit(1)).as("c_old"))
    val v2 = hashed.filter(col("doc_id") % 2 =!= 0)
      .groupBy(col("h")).agg(count(lit(1)).as("c_new"))
    v1.join(v2, Seq("h"), "full_outer")
      .select(
        when(col("c_old").isNull, lit("added"))
          .when(col("c_new").isNull, lit("removed"))
          .otherwise(lit("kept")).as("status"),
        coalesce(col("c_new"), col("c_old")).as("nd"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_hashes"), sum(col("nd")).as("n_docs"))
  }

  val snapshotDiffOracle: String = """
    WITH hashed AS (SELECT doc_id, md5(text) AS h FROM documents),
    v1 AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS c_old FROM hashed
           WHERE doc_id % 3 <> 0 GROUP BY h),
    v2 AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS c_new FROM hashed
           WHERE doc_id % 2 <> 0 GROUP BY h)
    SELECT CASE WHEN c_old IS NULL THEN 'added'
                WHEN c_new IS NULL THEN 'removed'
                ELSE 'kept' END AS status,
      CAST(COUNT(*) AS BIGINT) AS n_hashes,
      CAST(SUM(COALESCE(c_new, c_old)) AS BIGINT) AS n_docs
    FROM v1 FULL OUTER JOIN v2 USING (h)
    GROUP BY 1"""

  /** Train/val/test leakage audit: near-duplicate pairs that STRADDLE
    * the split boundary — the evaluation-integrity check every dataset
    * release runs (a test doc with a train-side near-twin silently
    * inflates benchmark scores; decontamination only catches exact
    * n-gram overlap with the EXTERNAL eval set, this catches
    * internal-split leakage through near-dups). Reuses
    * [[DedupOps.ngramJaccard]]'s inverted-index pairs (no new heavy
    * shape) and [[splitStratified]]'s split rule; the split tagging
    * and cross-split filter are row-local. Fully oracled through the
    * shared pair SQL. */
  def splitLeakage(sp: SparkSession, dir: String): DataFrame = {
    def splitOf(c: org.apache.spark.sql.Column) =
      when(c % 10 < 8, "train").when(c % 10 === 8, "val").otherwise("test")
    DedupOps.ngramJaccard(sp, dir)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .withColumn("split_a", splitOf(col("doc_a")))
      .withColumn("split_b", splitOf(col("doc_b")))
      .filter(col("split_a") =!= col("split_b"))
  }

  val splitLeakageOracle: String = {
    def splitOf(c: String) =
      s"CASE WHEN $c % 10 < 8 THEN 'train' WHEN $c % 10 = 8 THEN 'val' ELSE 'test' END"
    s"""
    WITH pairs AS (${DedupOps.ngramJaccardOracle})
    SELECT doc_a, doc_b, jaccard,
      ${splitOf("doc_a")} AS split_a,
      ${splitOf("doc_b")} AS split_b
    FROM pairs
    WHERE (${splitOf("doc_a")}) <> (${splitOf("doc_b")})"""
  }

  /** [[endToEnd]] quality-filter thresholds (integer-exact: the
    * comparisons are pure BIGINT arithmetic in both engines). */
  val E2eMinTokens = 30L
  val E2eMinStopPct = 4L

  /** The WHOLE curation pipeline as ONE declarative, fully-oracled
    * query — exact dedup → quality filter → language rebalancing →
    * sequence packing — the composition a user actually runs, proving
    * the stages chain without materialization barriers:
    *
    *   1. exact dedup: keep the lowest doc_id per md5(text) — a
    *      row_number over the hash, trimmed per partition BEFORE the
    *      exchange (WindowGroupLimit), never a self-join;
    *   2. quality filter: whitespace token count ≥ [[E2eMinTokens]]
    *      and stopword share ≥ [[E2eMinStopPct]]% — all-BIGINT
    *      comparisons, no float thresholds to diverge on;
    *   3. language rebalancing: the [[mixSources]] Knuth-hash cut with
    *      [[MixWeights]], with per-language counts computed over the
    *      FILTERED survivors (the stages genuinely feed each other);
    *   4. packing: global doc_id-ordered token prefix sums →
    *      fixed-[[SeqLen]] bin assignment, via the same
    *      range-partition + driver-offset pass as [[packSequences]]
    *      (the only driver state is one subtotal per partition).
    *
    * Catalyst sees the whole DAG at once, so the text column is
    * pruned after stage 2 and the survivor set flows through without
    * a single intermediate write. Scale posture: two corpus scans
    * (the per-language survivor census that prices the mix cut, and
    * the main pass — the same shape as [[mixSources]]), two hash
    * exchanges (dedup window, final range partition), one broadcast
    * (per-lang thresholds), and the packing cache holds three
    * token-count columns, never text. */
  def endToEnd(sp: SparkSession, dir: String): DataFrame = {
    import sp.implicits._
    val padded = concat(lit(" "), col("text"), lit(" "))
    def occ(w: String) =
      ((length(padded) - length(replace(padded, lit(s" $w "), lit(" ")))) /
        (w.length + 1)).cast("long")
    val deduped = Engine.table(sp, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(md5(col("text").cast("binary")))
          .orderBy(col("doc_id"))))
      .filter(col("rk") === 1)
    val filtered = deduped
      .withColumn("n_tokens",
        (length(col("text")) - length(replace(col("text"), lit(" "), lit(""))) + 1)
          .cast("long"))
      .withColumn("n_stop", occ("the") + occ("a"))
      .filter(col("n_tokens") >= E2eMinTokens &&
        col("n_stop") * 100 >= col("n_tokens") * E2eMinStopPct)
      .select(col("doc_id"), col("lang"), col("n_tokens"))
    val w = sp.createDataFrame(MixWeights).toDF("lang", "wt")
    val cnt = filtered.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .join(broadcast(w), "lang")
    val budget = cnt.agg(min(expr("n * 1000 div wt")).as("bud"))
    val thr = cnt.crossJoin(broadcast(budget))
      .withColumn("thr",
        expr(s"cast(wt * bud div 1000 as decimal(38,0)) * $MixHashMod div n"))
      .select(col("lang"), col("thr"))
    val mixed = filtered.join(broadcast(thr), "lang")
      .filter((col("doc_id") * MixHashMul) % MixHashMod < col("thr"))
      .select(col("doc_id"), col("lang"), col("n_tokens"))
    // global prefix sum over the survivors (packSequences' machinery:
    // range-partition by doc_id, driver-side per-partition offsets,
    // one ordered in-partition pass)
    val parts = sp.sparkContext.defaultParallelism
    val sorted = mixed
      .repartitionByRange(parts, col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
      .withColumn("pid", spark_partition_id())
      .cache()
    val subtotals = sorted
      .groupBy(col("pid")).agg(sum(col("n_tokens")).as("sub"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    val offsets: Map[Int, Long] = subtotals.map { case (pid, _) =>
      pid -> subtotals.collect { case (p2, s2) if p2 < pid => s2 }.sum
    }.toMap
    val bc = sp.sparkContext.broadcast(offsets)
    sorted.select(col("doc_id"), col("lang"), col("n_tokens"), col("pid"))
      .as[(Long, String, Long, Int)]
      .mapPartitions { it =>
        var curPid = -1
        var run = 0L
        it.map { case (id, lang, nt, pid) =>
          if (pid != curPid) { curPid = pid; run = bc.value.getOrElse(pid, 0L) }
          val start = run
          run += nt
          (id, lang, nt, start / SeqLen, start % SeqLen,
            (run - 1) / SeqLen - start / SeqLen + 1)
        }
      }
      .toDF("doc_id", "lang", "n_tokens", "bin_id", "bin_offset", "n_bins")
  }

  val endToEndOracle: String = {
    val values = MixWeights
      .map { case (l, wt) => s"('$l', $wt)" }.mkString(", ")
    s"""
    WITH dd AS (
      SELECT doc_id, lang, text,
        ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rk
      FROM documents),
    q AS (
      SELECT doc_id, lang,
        CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS BIGINT)
          AS n_tokens,
        CAST((LENGTH(padded) - LENGTH(REPLACE(padded, ' the ', ' '))) / 4
          AS BIGINT) +
        CAST((LENGTH(padded) - LENGTH(REPLACE(padded, ' a ', ' '))) / 2
          AS BIGINT) AS n_stop
      FROM (SELECT *, ' ' || text || ' ' AS padded FROM dd WHERE rk = 1)),
    f AS (
      SELECT doc_id, lang, n_tokens FROM q
      WHERE n_tokens >= $E2eMinTokens
        AND n_stop * 100 >= n_tokens * $E2eMinStopPct),
    w(lang, wt) AS (VALUES $values),
    cnt AS (
      SELECT f.lang, CAST(COUNT(*) AS BIGINT) AS n, MAX(w.wt) AS wt
      FROM f JOIN w ON f.lang = w.lang GROUP BY f.lang),
    b AS (SELECT MIN(n * 1000 // wt) AS bud FROM cnt),
    thr AS (
      SELECT lang,
        (CAST(wt * bud // 1000 AS HUGEINT) * $MixHashMod) // n AS thr
      FROM cnt CROSS JOIN b),
    m AS (
      SELECT f.doc_id, f.lang, f.n_tokens
      FROM f JOIN thr ON f.lang = thr.lang
      WHERE (f.doc_id * $MixHashMul) % $MixHashMod < thr.thr),
    p AS (
      SELECT doc_id, lang, n_tokens,
        CAST(SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
          AS BIGINT) AS cum
      FROM m)
    SELECT doc_id, lang, n_tokens,
      CAST((cum - n_tokens) // $SeqLen AS BIGINT) AS bin_id,
      CAST((cum - n_tokens) % $SeqLen AS BIGINT) AS bin_offset,
      CAST((cum - 1) // $SeqLen - (cum - n_tokens) // $SeqLen + 1 AS BIGINT)
        AS n_bins
    FROM p"""
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_end_to_end" -> (endToEnd _),
    "pipeline_split_leakage" -> (splitLeakage _),
    "pipeline_mix_temperature" -> (mixTemperature _),
    "pipeline_dataset_card" -> (datasetCard _),
    "pipeline_snapshot_diff" -> (snapshotDiff _),
    "pipeline_curriculum" -> (curriculum _),
    "pipeline_contamination_score" -> (contaminationScore _),
    "pipeline_mix_sources" -> (mixSources _),
    "pipeline_decontaminate" -> (decontaminate _),
    "pipeline_shuffle_shards" -> (shuffleShards _),
    "pipeline_shard_manifest" -> (shardManifest _),
    "pipeline_pack_sequences" -> (packSequences _),
    "pipeline_split_stratified" -> (splitStratified _),
    "pipeline_weighted_sample" -> (weightedSample _),
    "text_ngram_familiarity" -> (ngramFamiliarity _))

  val oracles: Map[String, String] = Map(
    "pipeline_end_to_end" -> endToEndOracle,
    "pipeline_split_leakage" -> splitLeakageOracle,
    "pipeline_mix_temperature" -> mixTemperatureOracle,
    "pipeline_dataset_card" -> datasetCardOracle,
    "pipeline_snapshot_diff" -> snapshotDiffOracle,
    "pipeline_curriculum" -> curriculumOracle,
    "pipeline_contamination_score" -> contaminationScoreOracle,
    "pipeline_mix_sources" -> mixSourcesOracle,
    "pipeline_decontaminate" -> decontaminateOracle,
    "pipeline_shuffle_shards" -> shuffleShardsOracle,
    "pipeline_shard_manifest" -> shardManifestOracle,
    "pipeline_pack_sequences" -> packSequencesOracle,
    "pipeline_split_stratified" -> splitStratifiedOracle,
    "pipeline_weighted_sample" -> weightedSampleOracle,
    "text_ngram_familiarity" -> ngramFamiliarityOracle)
}
