package graft.operators

import graft.Engine
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table: token counting,
  * quality scoring, language identification, document fingerprinting.
  * All are single-pass, partition-local column expressions (no shuffle,
  * no UDF in the hot path except the fingerprint, which is a custom
  * Catalyst expression) — they stream at 100 TB.
  *
  * Oracle-parity rule: counts are derived with the replace-and-measure
  * trick (`length(x) - length(replace(x, w, ''))`), which is exact
  * integer arithmetic with identical non-overlapping left-to-right
  * semantics in Spark and DuckDB.
  */
object TextOps {

  /** #occurrences of `w` as a whole whitespace-delimited token, via
    * the replace-and-measure trick (portable to the DuckDB oracle). */
  private def occ(padded: Column, w: String): Column =
    ((length(padded) - length(replace(padded, lit(s" $w "), lit(" ")))) /
      (w.length + 1)).cast("long")

  private def sqlOcc(w: String): String =
    s"CAST((LENGTH(padded) - LENGTH(REPLACE(padded, ' $w ', ' '))) / ${w.length + 1} AS BIGINT)"

  /** Whitespace token count + average token length per document. */
  def tokenStats(sp: SparkSession, dir: String): DataFrame =
    Engine.table(sp, dir, "documents")
      .select(col("doc_id"),
        (length(col("text")) - length(replace(col("text"), lit(" "), lit(""))) + 1)
          .cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("len_chars"))
      .withColumn("avg_token_len",
        (col("len_chars") - (col("n_tokens") - 1)).cast("double") / col("n_tokens"))

  val tokenStatsOracle: String = """
    SELECT doc_id,
      CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS BIGINT) AS n_tokens,
      CAST(LENGTH(text) AS BIGINT) AS len_chars,
      CAST(LENGTH(text) - (LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1) + 1 AS DOUBLE)
        / (LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1) AS avg_token_len
    FROM documents"""

  /** Heuristic quality score: token count, stopword ratio ('the', 'a'),
    * type-ish diversity proxy. Pure integer counts + one final double
    * expression → bit-identical across engines. */
  def qualityScore(sp: SparkSession, dir: String): DataFrame = {
    val padded = concat(lit(" "), col("text"), lit(" "))
    Engine.table(sp, dir, "documents")
      .select(col("doc_id"), col("text"))
      .withColumn("n_tokens",
        (length(col("text")) - length(replace(col("text"), lit(" "), lit(""))) + 1).cast("long"))
      .withColumn("n_stop", (occ(padded, "the") + occ(padded, "a")).cast("long"))
      .select(col("doc_id"), col("n_tokens"), col("n_stop"),
        (col("n_stop").cast("double") / col("n_tokens")).as("stop_ratio"))
  }

  val qualityScoreOracle: String = s"""
    WITH p AS (SELECT doc_id, text, ' ' || text || ' ' AS padded FROM documents)
    SELECT doc_id,
      CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS BIGINT) AS n_tokens,
      ${sqlOcc("the")} + ${sqlOcc("a")} AS n_stop,
      CAST(${sqlOcc("the")} + ${sqlOcc("a")} AS DOUBLE)
        / (LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1) AS stop_ratio
    FROM p"""

  /** Deflate level for [[compressionRatio]] — zlib's default. Pinned
    * so the driver-side gate recompute and the distributed op always
    * agree bit-for-bit. */
  val DeflateLevel = 6

  /** Deflate compression ratio per document — the repetition signal
    * used by the Gopher/Dolma-family quality filters: templated or
    * machine-generated text compresses far below natural prose, so a
    * low compressed/raw ratio flags low-entropy documents that the
    * token-level repetition stats can miss (long-range repeats).
    * No SQL engine exposes deflate, so this is the documented
    * mapPartitions escape hatch: one Deflater per PARTITION (reset per
    * row — allocation-free in steady state), row-local, no shuffle —
    * streams at 100 TB exactly like [[graft.operators.MultimodalOps.byteEntropy]].
    * Not SQL-expressible → rows-only correctness + an exact-match
    * quality gate against a driver-side recompute (deflate at a fixed
    * level is deterministic for a given zlib, and gate and op run in
    * the same JVM). */
  def compressionRatio(sp: SparkSession, dir: String): DataFrame = {
    import sp.implicits._
    Engine.table(sp, dir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("blob"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val d = new java.util.zip.Deflater(DeflateLevel, false)
        // native zlib memory is not GC-tracked: release it when the
        // task ends rather than at finalization, which on a long-lived
        // executor running many tasks accumulates off-heap
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => d.end()))
        val buf = new Array[Byte](1 << 16)
        it.map { case (id, blob) =>
          d.reset()
          d.setInput(blob)
          d.finish()
          var clen = 0L
          while (!d.finished()) clen += d.deflate(buf)
          val ratio = if (blob.length == 0) 1.0
            else clen.toDouble / blob.length
          (id, blob.length.toLong, clen, ratio)
        }
      }
      .toDF("doc_id", "byte_len", "compressed_len", "compression_ratio")
  }

  /** Per-source rank calibration of the quality score: a raw ratio is
    * not comparable ACROSS ingest sources (a webcrawl source's median
    * stopword ratio differs from a books source's), so every curation
    * pipeline that thresholds "top X% quality" re-expresses the score
    * as its percentile WITHIN its source before filtering globally.
    * calibrated = percent_rank = (#docs in the same source with a
    * strictly smaller score) / (n_source − 1) — tie groups share the
    * rank of their first member, exactly SQL PERCENT_RANK().
    *
    * Scale shape: a naive window over raw docs sorts every document of
    * a source on one ordering — a full per-source sort that a skewed
    * source (one crawl = 80% of the corpus) turns into the job's
    * bottleneck. Instead aggregate to the (source, score) DISTRIBUTION
    * first (one partial-agg shuffle, output bounded by distinct scores
    * per source), run the cumulative window over that small aggregate,
    * and hash-join the per-score percentile back to the docs. The
    * heavy data is touched by exactly one shuffle each way and never
    * sorted. Scores are doubles, but both engines derive them from the
    * same integer division (proven hash-exact by text_quality_score),
    * so grouping/joining on score equality is bit-safe; the final
    * division is integer-in, IEEE-deterministic out. */
  def qualityCalibrate(sp: SparkSession, dir: String): DataFrame = {
    val padded = concat(lit(" "), col("text"), lit(" "))
    val scored = Engine.table(sp, dir, "documents")
      .withColumn("n_tokens",
        (length(col("text")) - length(replace(col("text"), lit(" "), lit(""))) + 1).cast("long"))
      .withColumn("n_stop", (occ(padded, "the") + occ(padded, "a")).cast("long"))
      .select(col("doc_id"), col("source"),
        (col("n_stop").cast("double") / col("n_tokens")).as("score"))
      // cached: feeds the distribution aggregate AND the join-back —
      // uncached, the text scan + stopword replace-and-measure ran
      // twice (round 13). One narrow row per doc, the sigs-cache class.
      .cache()
    val wCum = Window.partitionBy(col("source")).orderBy(col("score"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy(col("source"))
    val dist = scored.groupBy(col("source"), col("score"))
      .agg(count(lit(1)).as("c"))
      .withColumn("below", coalesce(sum(col("c")).over(wCum), lit(0L)))
      .withColumn("n_s", sum(col("c")).over(wAll))
      .select(col("source"), col("score"),
        when(col("n_s") > 1,
          col("below").cast("double") / (col("n_s") - lit(1)).cast("double"))
          .otherwise(lit(0.0)).as("calibrated"))
    scored.join(dist, Seq("source", "score"))
      .select(col("doc_id"), col("source"), col("score"), col("calibrated"))
  }

  /** The oracle states the SEMANTICS directly — PERCENT_RANK over raw
    * docs — which the distribution-aggregate plan must reproduce. */
  val qualityCalibrateOracle: String = s"""
    WITH p AS (SELECT doc_id, source, text, ' ' || text || ' ' AS padded
               FROM documents),
    s AS (
      SELECT doc_id, source,
        CAST(${sqlOcc("the")} + ${sqlOcc("a")} AS DOUBLE)
          / (LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1) AS score
      FROM p)
    SELECT doc_id, source, score,
      PERCENT_RANK() OVER (PARTITION BY source ORDER BY score) AS calibrated
    FROM s"""

  /** Character-class profile per document: counts of ASCII letters,
    * digits, punctuation, whitespace, and NON-ASCII codepoints, plus
    * the non-ASCII ratio — the mojibake/binary-spill detector that
    * runs before any tokenizer (a doc whose non-ASCII ratio spikes
    * against its language's norm is mis-decoded, not multilingual).
    * Counting is remove-and-measure with PURE-ASCII regex classes —
    * the subset where RE2/Java/DuckDB regex semantics provably agree
    * (no unicode property classes, whose engine tables drift) — so
    * every count is exact integer arithmetic on both engines.
    * Row-local, shuffle-free, codegen'd. */
  def charClassProfile(sp: SparkSession, dir: String): DataFrame = {
    def removed(c: Column, cls: String): Column =
      (length(col("text")) - length(regexp_replace(c, cls, ""))).cast("long")
    Engine.table(sp, dir, "documents")
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        removed(col("text"), "[A-Za-z]").as("n_letters"),
        removed(col("text"), "[0-9]").as("n_digits"),
        removed(col("text"), """[!-/:-@\[-`{-~]""").as("n_punct"),
        removed(col("text"), """[ \t\n\r]""").as("n_space"),
        removed(col("text"), """[\x00-\x7F]""").as("n_non_ascii"))
      .withColumn("n_non_ascii",
        col("n_chars") - col("n_non_ascii"))
      .withColumn("non_ascii_ratio",
        when(col("n_chars") > 0,
          col("n_non_ascii").cast("double") / col("n_chars"))
          .otherwise(lit(0.0)))
  }

  val charClassProfileOracle: String = """
    SELECT doc_id, n_chars, n_letters, n_digits, n_punct, n_space,
      n_chars - n_ascii AS n_non_ascii,
      CASE WHEN n_chars > 0
        THEN CAST(n_chars - n_ascii AS DOUBLE) / n_chars ELSE 0.0
      END AS non_ascii_ratio
    FROM (
      SELECT doc_id, CAST(LENGTH(text) AS BIGINT) AS n_chars,
        CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[A-Za-z]', '', 'g'))
          AS BIGINT) AS n_letters,
        CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[0-9]', '', 'g'))
          AS BIGINT) AS n_digits,
        CAST(LENGTH(text) - LENGTH(regexp_replace(text,
          '[!-/:-@\[-`{-~]', '', 'g')) AS BIGINT) AS n_punct,
        CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[ \t\n\r]', '', 'g'))
          AS BIGINT) AS n_space,
        CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[\x00-\x7F]', '', 'g'))
          AS BIGINT) AS n_ascii
      FROM documents)"""

  /** Corpus document-frequency table: how many documents contain each
    * token at least once, thresholded at df ≥ 5 (the inverted-index
    * statistic behind stopword discovery, boilerplate detection, and
    * IDF weighting). Scale shape: `array_distinct` dedups tokens
    * ROW-LOCALLY before the explode, so the shuffle carries distinct
    * (doc, token) pairs — bounded by vocabulary × docs, never raw
    * token occurrences; the df filter prunes the long tail at the
    * aggregate. Integer counts → exactly oracled. */
  def tokenDf(sp: SparkSession, dir: String): DataFrame =
    Engine.table(sp, dir, "documents")
      .select(explode(array_distinct(split(col("text"), " "))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 5)

  val tokenDfOracle: String = """
    SELECT token, CAST(COUNT(*) AS BIGINT) AS df
    FROM (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
          FROM documents)
    GROUP BY token HAVING COUNT(*) >= 5"""

  private val KeywordsK = 5

  /** Per-document keyword extraction: the [[KeywordsK]] most SALIENT
    * tokens per document, ranked by (tf DESC, df ASC, token ASC) —
    * high in this document, rare in the corpus, the tf-idf ORDERING
    * without tf·log(N/df)'s float hazard (libm log differs in the
    * last ulp across engines; a lexicographic integer rank cannot).
    * Scale shape: tf is a row-local explode + (doc, token) count;
    * the corpus df table joins on token (vocabulary-sized — a shuffle
    * join, deliberately NOT broadcast: at 100 TB the vocabulary
    * doesn't fit an executor broadcast); the per-doc top-K is a
    * row_number window bounded by rk ≤ K, which Spark plans as
    * WindowGroupLimit — each map task keeps K rows per doc before the
    * shuffle. Fully integer → fully oracled. */
  def docKeywords(sp: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = Engine.table(sp, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) >= 2)
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    // df derived from tf (round 13), attached as a WINDOW count
    // (round 14): tf has exactly one row per (doc, token), so its
    // per-token row count IS the document frequency for every token
    // tf can join — the old array_distinct explode was a second full
    // corpus pass whose extra coverage (length-1 tokens) never
    // survives the join. Round 13 derived df as tf.groupBy(token) and
    // joined it back, betting on ReusedExchange — which provably
    // CANNOT fire there: column pruning strips the `tf` count from
    // the df branch's aggregate, so the two exchange subtrees are not
    // canonically equal and the corpus was scanned + exploded TWICE
    // (the committed r13 plan shows both subtrees; the op regressed
    // 1.15×). count over a token-partitioned window computes the same
    // df per row in tf's OWN lineage — one scan, one explode, and one
    // exchange on token replacing the join's two.
    val df = count(lit(1)).over(Window.partitionBy(col("token")))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tf").desc, col("df").asc, col("token").asc)
    tf.withColumn("df", df)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= KeywordsK)
      .select(col("doc_id"), col("rk"), col("token"), col("tf"), col("df"))
  }

  val docKeywordsOracle: String = s"""
    WITH tf AS (
      SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents)
      WHERE length(token) >= 2 GROUP BY doc_id, token),
    df AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS df
      FROM (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents)
      GROUP BY token)
    SELECT doc_id, rk, token, tf, df FROM (
      SELECT tf.doc_id, tf.token, tf.tf, df.df,
        CAST(ROW_NUMBER() OVER (PARTITION BY tf.doc_id
          ORDER BY tf.tf DESC, df.df ASC, tf.token ASC) AS INT) AS rk
      FROM tf JOIN df ON tf.token = df.token)
    WHERE rk <= $KeywordsK"""

  /** Paragraph granularity for [[boilerplate]]: the synthetic corpus
    * is newline-free, so a "paragraph" is a fixed run of [[ParaWords]]
    * consecutive words (non-overlapping chunks — the same convention a
    * real corpus would apply per \n\n-split block). */
  val ParaWords = 5

  /** A paragraph present in more than this many documents is
    * boilerplate (headers, licenses, navigation chrome). */
  val BoilerDfCap = 2

  /** Boilerplate SPAN detection — the surfacing pass for what the
    * substring-dedup fingerprint cap (DedupOps.FpDfCap) silently
    * drops: split each document into paragraphs, hash them, count the
    * corpus-wide document frequency per paragraph hash, and join the
    * hot set back to flag per-document boilerplate load. Scale shape:
    * the paragraph split is row-local (pre-partitioned by doc_id, so
    * the per-doc distinct is exchange-free), the only shuffles are one
    * hash aggregation on a 128-bit paragraph hash (32 B/row at 100 TB,
    * same argument as exact dedup) and the df join back; the hot set
    * is a df-thresholded fraction of the paragraph space, never
    * broadcast by force. Integer counts + one exact int/int division →
    * fully oracled. */
  def boilerplate(sp: SparkSession, dir: String): DataFrame = {
    val ws = split(col("text"), " ")
    val paras = Engine.table(sp, dir, "documents")
      .repartition(sp.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), ws.as("ws"))
      .select(col("doc_id"), explode(transform(
        expr(s"sequence(1, (size(ws) + ${ParaWords - 1}) div $ParaWords)"),
        i => concat_ws(" ",
          slice(col("ws"), (i - 1) * ParaWords + 1, lit(ParaWords))))).as("para"))
      // set semantics per document (a paragraph repeated within one
      // doc counts once toward df); hash first so the distinct and
      // every later shuffle carry 16 bytes, not the paragraph text
      .select(col("doc_id"), md5(col("para").cast("binary")).as("ph"))
      .distinct()
    // df via ONE window exchange on the hash (round 13): `paras` is
    // distinct per (doc_id, ph), so count().over(ph) IS the per-
    // paragraph document frequency — the old groupBy(ph) + join-back
    // referenced the paras subtree twice (scan + explode ran twice)
    // and exchanged the stream for the join anyway.
    paras
      .withColumn("df", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("ph"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_paras"),
        sum(when(col("df") > BoilerDfCap, 1L).otherwise(0L))
          .as("n_boilerplate"))
      .withColumn("boiler_frac",
        col("n_boilerplate").cast("double") / col("n_paras"))
  }

  val boilerplateOracle: String = s"""
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    paras AS (
      SELECT DISTINCT doc_id,
        array_to_string(ws[(i-1)*$ParaWords+1 : i*$ParaWords], ' ') AS para
      FROM words,
        unnest(range(1, (len(ws) + ${ParaWords - 1}) // $ParaWords + 1)) AS t(i)),
    df AS (SELECT para, COUNT(*) AS df FROM paras GROUP BY para)
    SELECT p.doc_id, CAST(COUNT(*) AS BIGINT) AS n_paras,
      CAST(SUM(CASE WHEN d.df > $BoilerDfCap THEN 1 ELSE 0 END) AS BIGINT)
        AS n_boilerplate,
      CAST(SUM(CASE WHEN d.df > $BoilerDfCap THEN 1 ELSE 0 END) AS DOUBLE)
        / COUNT(*) AS boiler_frac
    FROM paras p JOIN df d USING (para)
    GROUP BY p.doc_id"""

  /** Boilerplate REMOVAL — the action [[boilerplate]] measures: drop
    * every paragraph whose corpus-wide document frequency exceeds
    * [[BoilerDfCap]] and reconstruct the cleaned text from the
    * surviving paragraphs in document order. Same scale shape as the
    * detector (the df aggregate carries 16-byte hashes; the hot set is
    * joined as a left-anti, never force-broadcast); the reconstruction
    * is one groupBy(doc_id) whose collect_list is bounded by document
    * size — the same per-doc bound every row-local text op already
    * carries. Deterministic order via array_sort on (idx, para) →
    * exact ordered-string_agg oracle. Docs whose every paragraph is
    * boilerplate keep an empty clean_text rather than vanishing. */
  def boilerplateStrip(sp: SparkSession, dir: String): DataFrame = {
    val ws = split(col("text"), " ")
    val occ = Engine.table(sp, dir, "documents")
      .repartition(sp.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), ws.as("ws"))
      .select(col("doc_id"), posexplode(transform(
        expr(s"sequence(1, (size(ws) + ${ParaWords - 1}) div $ParaWords)"),
        i => concat_ws(" ",
          slice(col("ws"), (i - 1) * ParaWords + 1, lit(ParaWords))))))
      .toDF("doc_id", "idx", "para")
      .withColumn("ph", md5(col("para").cast("binary")))
    // df is per-DOCUMENT (set semantics), same definition as the
    // detector — hash-only shuffle
    val hot = occ.select(col("doc_id"), col("ph")).distinct()
      .groupBy(col("ph")).agg(count(lit(1)).as("df"))
      .filter(col("df") > BoilerDfCap).select(col("ph"))
    // ONE reconstruction pass (round 13): the old kept/totals/cleaned
    // trio referenced the uncached occ subtree three times — three
    // scan+explode runs — and finished with a totals⋈cleaned join.
    // Joining the (tiny, distinct-per-ph) hot set as a left-join FLAG
    // instead of an anti-join keeps every occurrence row, so totals,
    // kept-count and the ordered reconstruction fold into a single
    // groupBy(doc_id): collect_list skips the when()-nulled hot rows,
    // count(when) counts the survivors. Two corpus passes total (df +
    // reconstruction), no corpus-sized cache, row-identical output
    // (hot has one row per ph, so the left join multiplies by exactly
    // 1; an all-boilerplate doc gets an empty collect_list → "").
    occ.join(hot.withColumn("is_hot", lit(true)), Seq("ph"), "left")
      .groupBy(col("doc_id")).agg(
        count(lit(1)).as("n_total"),
        count(when(col("is_hot").isNull, lit(1))).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("is_hot").isNull,
            struct(col("idx"), col("para"))))),
          x => x("para")), " ").as("clean_text"))
      .select(col("doc_id"), col("clean_text"), col("n_kept"),
        (col("n_total") - col("n_kept")).as("n_removed"))
  }

  val boilerplateStripOracle: String = s"""
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    occ AS (
      SELECT doc_id, i AS idx,
        array_to_string(ws[(i-1)*$ParaWords+1 : i*$ParaWords], ' ') AS para
      FROM words,
        unnest(range(1, (len(ws) + ${ParaWords - 1}) // $ParaWords + 1)) AS t(i)),
    df AS (
      SELECT para, COUNT(*) AS df
      FROM (SELECT DISTINCT doc_id, para FROM occ) GROUP BY para),
    hot AS (SELECT para FROM df WHERE df > $BoilerDfCap),
    kept AS (SELECT o.* FROM occ o WHERE o.para NOT IN (SELECT para FROM hot)),
    cleaned AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
        string_agg(para, ' ' ORDER BY idx) AS clean_text
      FROM kept GROUP BY doc_id),
    totals AS (SELECT doc_id, COUNT(*) AS n_total FROM occ GROUP BY doc_id)
    SELECT t.doc_id, COALESCE(c.clean_text, '') AS clean_text,
      COALESCE(c.n_kept, 0) AS n_kept,
      CAST(t.n_total - COALESCE(c.n_kept, 0) AS BIGINT) AS n_removed
    FROM totals t LEFT JOIN cleaned c USING (doc_id)"""

  /** Canonical text normalization — the first pass of most curation
    * pipelines: lowercase, collapse whitespace runs, trim. Row-local
    * (no shuffle); `changed` flags rows the pass rewrote so the
    * pipeline can measure normalization pressure per source. */
  def normalize(sp: SparkSession, dir: String): DataFrame =
    Engine.table(sp, dir, "documents")
      .select(col("doc_id"),
        trim(regexp_replace(lower(col("text")), "\\s+", " ")).as("norm_text"),
        col("text"))
      .select(col("doc_id"), col("norm_text"),
        (col("norm_text") =!= col("text")).as("changed"))

  val normalizeOracle: String = """
    SELECT doc_id,
      TRIM(REGEXP_REPLACE(LOWER(text), '\s+', ' ', 'g')) AS norm_text,
      TRIM(REGEXP_REPLACE(LOWER(text), '\s+', ' ', 'g')) <> text AS changed
    FROM documents"""

  /** Top-10 documents per language by token count — the "keep the
    * best k per stratum" selection every curation pipeline ends with.
    * Ranking keys are pure integers (token count desc, doc_id) so
    * rank decisions are engine-portable with no float-ordering
    * hazard. Scale shape: rank-limit windows get Spark's
    * WindowGroupLimit — each map task keeps only its local top-k
    * BEFORE the shuffle (pinned in PlanQualitySpec), so the shuffle
    * carries k·partitions rows per group, not the corpus. */
  def topkPerLang(sp: SparkSession, dir: String): DataFrame = {
    val d = Engine.table(sp, dir, "documents")
      .select(col("lang"), col("doc_id"),
        (length(col("text")) - length(replace(col("text"), lit(" "), lit("")))
          + 1).cast("long").as("n_tokens"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("n_tokens").desc, col("doc_id"))
    d.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 10)
      .select(col("lang"), col("rk"), col("doc_id"), col("n_tokens"))
  }

  val topkPerLangOracle: String = """
    WITH d AS (
      SELECT lang, doc_id,
        CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS BIGINT)
          AS n_tokens
      FROM documents)
    SELECT lang,
      CAST(ROW_NUMBER() OVER (
        PARTITION BY lang ORDER BY n_tokens DESC, doc_id) AS BIGINT) AS rk,
      doc_id, n_tokens
    FROM d
    QUALIFY rk <= 10"""

  private val LangMarkers = Seq(
    "en" -> Seq("the", "and", "of"),
    "de" -> Seq("der", "und", "die"),
    "fr" -> Seq("le", "et", "les"),
    "es" -> Seq("el", "y", "los"),
    "zh" -> Seq("de", "shi", "zai"))

  /** `documents` with one `score_<lang>` marker count per language. */
  private def langScores(sp: SparkSession, dir: String): DataFrame = {
    val padded = concat(lit(" "), col("text"), lit(" "))
    Engine.table(sp, dir, "documents")
      .select(col("doc_id"), col("text"))
      .withColumns(LangMarkers.map { case (l, ws) =>
        s"score_$l" -> ws.map(w => occ(padded, w)).reduce(_ + _)
      }.toMap)
  }

  /** The top marker count over [[langScores]]; a document has a language
    * (is not "unknown") exactly when it is above 0. */
  private val bestLangScore: Column =
    greatest(LangMarkers.map { case (l, _) => col(s"score_$l") }: _*)

  /** Language-ID by stopword-marker voting over {en,de,fr,es,zh} with a
    * deterministic tie-break. Portable CASE chain (first max wins). */
  def langId(sp: SparkSession, dir: String): DataFrame = {
    val pred = LangMarkers.foldRight(lit("unknown"): Column) { case ((l, _), acc) =>
      when(col(s"score_$l") === bestLangScore && bestLangScore > 0, lit(l)).otherwise(acc)
    }
    // foldRight gives priority en > de > fr > es > zh on ties.
    langScores(sp, dir).select(col("doc_id"), pred.as("pred_lang"))
  }

  val langIdOracle: String = {
    val markers = Seq(
      "en" -> Seq("the", "and", "of"),
      "de" -> Seq("der", "und", "die"),
      "fr" -> Seq("le", "et", "les"),
      "es" -> Seq("el", "y", "los"),
      "zh" -> Seq("de", "shi", "zai"))
    val scores = markers.map { case (l, ws) =>
      s"(${ws.map(sqlOcc).mkString(" + ")}) AS score_$l"
    }.mkString(",\n      ")
    val best = "GREATEST(score_en, score_de, score_fr, score_es, score_zh)"
    val cases = Seq("en", "de", "fr", "es", "zh")
      .map(l => s"WHEN score_$l = $best AND $best > 0 THEN '$l'")
      .mkString("\n        ")
    s"""
    WITH p AS (SELECT doc_id, ' ' || text || ' ' AS padded FROM documents),
    s AS (SELECT doc_id,
      $scores
    FROM p)
    SELECT doc_id,
      CASE $cases
        ELSE 'unknown' END AS pred_lang
    FROM s"""
  }

  /** Language confusion matrix: declared `lang` column × predicted
    * [[langId]] label with counts — the audit every pipeline runs on
    * its language classifier before trusting per-language sampling
    * decisions. One equi-join + one hash aggregation over a
    * (langs × labels)-sized result; integer counts → exactly
    * oracled by wrapping the lang-id oracle as a subquery. */
  def langConfusion(sp: SparkSession, dir: String): DataFrame =
    langId(sp, dir)
      .join(Engine.table(sp, dir, "documents").select(col("doc_id"), col("lang")),
        "doc_id")
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))

  val langConfusionOracle: String = s"""
    SELECT d.lang, pred.pred_lang, CAST(COUNT(*) AS BIGINT) AS n
    FROM ($langIdOracle) pred
    JOIN documents d USING (doc_id)
    GROUP BY d.lang, pred.pred_lang"""

  /** Winnowing-style document fingerprint: min polynomial rolling hash
    * over character k-grams (k=16), via the custom Catalyst expression
    * [[graft.functions.RollingMinHash]]. No SQL oracle (not
    * expressible) — covered by TextOpsSpec instead. */
  def fingerprint(sp: SparkSession, dir: String): DataFrame =
    Engine.table(sp, dir, "documents")
      .select(col("doc_id"),
        graft.functions.functions.rolling_min_hash(col("text"), 16).as("fp"))

  /** Corpus token histogram: explode → hash-shuffle count → frequent
    * tokens (the vocabulary-building shape; explode parallelized like
    * the dedup shingles). */
  def tokenHistogram(sp: SparkSession, dir: String): DataFrame =
    Engine.table(sp, dir, "documents")
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= 100)

  val tokenHistogramOracle: String = """
    SELECT token, COUNT(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token HAVING COUNT(*) >= 100"""

  private[graft] val HhK = 64

  /** Two-pass exact heavy hitters over the token stream, built on a
    * Misra-Gries sketch (functions.MisraGriesAgg): pass 1 reduces the
    * corpus to ≤ [[HhK]] candidate tokens with CONSTANT memory per
    * partial aggregate — the shuffle carries one ≤64-entry map per
    * partition, never the distinct-token distribution the exact
    * histogram shuffles; pass 2 exact-counts only the candidates via
    * a broadcast semi-join and keeps counts ≥ n/k + 1. The MG
    * guarantee (undercount ≤ n/k for any merge order) means every
    * token above that threshold IS among the candidates, so the
    * output equals the exact answer — a sketch op with a full oracle,
    * deterministic despite the sketch's partition-dependent
    * intermediate state. The 100 TB shape for "top stopwords over
    * everything": two corpus passes, O(k) shuffle and driver state. */
  def heavyHitters(sp: SparkSession, dir: String): DataFrame = {
    val toks = Engine.table(sp, dir, "documents")
      .select(explode(split(col("text"), " ")).as("token"))
    val mg = udaf(new graft.functions.MisraGriesAgg(HhK))
    val cands = toks.agg(mg(col("token")).as("summary"))
      .select(explode(map_keys(col("summary"))).as("token"))
    val total = toks.agg(count(lit(1)).as("n"))
    toks.join(broadcast(cands), "token")
      .groupBy(col("token")).agg(count(lit(1)).as("n_occ"))
      .crossJoin(broadcast(total))
      .filter(col("n_occ") >= expr(s"n div $HhK + 1"))
      .select(col("token"), col("n_occ"))
  }

  val heavyHittersOracle: String = s"""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents),
    tot AS (SELECT COUNT(*) AS n FROM toks)
    SELECT token, CAST(COUNT(*) AS BIGINT) AS n_occ
    FROM toks GROUP BY token
    HAVING COUNT(*) >= (SELECT n FROM tot) // $HhK + 1"""

  /** One BPE-training iteration: the adjacent-symbol pair counts that
    * pick the next merge (Sennrich et al. 2016's inner loop,
    * distributed). The crucial scale move is counting over the WORD
    * FREQUENCY TABLE, not the corpus: explode tokens once, reduce to
    * (word, freq) — vocabulary-sized, orders of magnitude smaller than
    * the corpus — then expand each distinct word into its len-1
    * adjacent pairs and weight by freq. At 100 TB the corpus-side
    * explode is the only pass over the data; every later merge
    * iteration would re-run only the vocabulary-sized expansion.
    * Top-K is orderBy+limit → TakeOrderedAndProject (no global sort);
    * the (n DESC, pair ASC) tie-break makes the cut deterministic on
    * both engines. Character semantics: Spark substring/length and
    * DuckDB substring/length both index CODE POINTS, so multibyte
    * text pairs identically. */
  def bpePairs(sp: SparkSession, dir: String): DataFrame = {
    val wc = Engine.table(sp, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy(col("w"))
      .agg(count(lit(1)).as("f"))
    wc.select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"), col("f"))
      .groupBy(col("pair"))
      .agg(sum(col("f")).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(50)
  }

  val bpePairsOracle: String = """
    WITH wc AS (
      SELECT w, COUNT(*) AS f
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE length(w) >= 2 GROUP BY w),
    pairs AS (
      SELECT substring(w, CAST(i AS INT), 2) AS pair, f
      FROM wc, unnest(range(1, length(w))) AS t(i))
    SELECT pair, CAST(SUM(f) AS BIGINT) AS n
    FROM pairs GROUP BY pair ORDER BY n DESC, pair LIMIT 50"""

  private[graft] val BpeIters = 10

  /** Merge every adjacent occurrence of `pair` in a symbol sequence,
    * left to right — the BPE apply step, shared VERBATIM by the
    * distributed trainer and the pure-Scala reference twin so the two
    * can only diverge in the part under test (the distributed pair
    * count / top-1 selection). */
  private[graft] def mergePair(syms: Array[String], pair: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) + syms(i + 1) == pair) {
        out += pair; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  /** Vocabulary cap under which [[bpeTrain]] runs the merge loop on
    * the driver. 2M distinct words × ~40 B is well under 100 MB of
    * driver heap; Heaps' law keeps clean-corpus vocabularies below
    * this even at 100 TB, but web junk (hashes, URLs) can blow past
    * it, hence the distributed overflow path rather than an assert. */
  private[graft] val BpeLocalVocabMax = 2L * 1000 * 1000

  /** Full BPE TRAINING — [[bpePairs]] is one iteration; this is the
    * whole Sennrich loop: k rounds of (count adjacent symbol pairs
    * over the word-frequency table → pick the most frequent → merge
    * it everywhere). The corpus-scale work is the WORD COUNT — one
    * explode + one partial-aggregated shuffle, the only pass over the
    * data even at 100 TB. The merge loop then runs over the
    * vocabulary, which is Heaps-bounded and orders of magnitude
    * smaller than the corpus: when it fits under [[BpeLocalVocabMax]]
    * the loop runs driver-local ([[bpeTrainReference]] — how
    * production tokenizer trainers work: distributed count, local
    * merges), and above the cap it falls back to
    * [[bpeTrainDistributed]], k rounds of flatMap + count shuffle +
    * 1-row TakeOrdered over the vocabulary Dataset. Both paths share
    * [[mergePair]] and the (count DESC, pair ASC) tie-break, so the
    * merge list is identical by construction; the QualityGates gate
    * forces the DISTRIBUTED path and asserts exact equality against
    * the in-memory twin, and OperatorSmokeSpec pins the two paths
    * row-identical on real data. Output: (rank, pair, n) — the
    * learned merge table, the artifact a tokenizer ships. */
  def bpeTrain(sp: SparkSession, dir: String): DataFrame =
    bpeTrain(sp, dir, BpeLocalVocabMax)

  private[graft] def bpeTrain(sp: SparkSession, dir: String,
      localVocabMax: Long): DataFrame = {
    import sp.implicits._
    val wc = Engine.table(sp, dir, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .as[(String, Long)]
      .cache()
    val merges =
      if (wc.count() <= localVocabMax) bpeTrainReference(wc.collect().toSeq)
      else bpeTrainDistributed(sp, wc)
    wc.unpersist()
    sp.createDataFrame(merges).toDF("rank", "pair", "n")
  }

  /** The distributed merge loop — the overflow path for vocabularies
    * too large to collect. Each round is one flatMap + one
    * partial-aggregated count shuffle + a 1-row TakeOrdered, then a
    * row-local merge pass; rounds cache their symbol table and drop
    * the predecessor so lineage stays O(1) deep. */
  private[graft] def bpeTrainDistributed(sp: SparkSession,
      wc: org.apache.spark.sql.Dataset[(String, Long)]): Seq[(Int, String, Long)] = {
    import sp.implicits._
    var words = wc.map { case (w, f) =>
      (w.toCharArray.map(_.toString), f)
    }.cache()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    for (it <- 0 until BpeIters) {
      val top = words.flatMap { case (syms, f) =>
        (0 until syms.length - 1).map(i => (syms(i) + syms(i + 1), f))
      }.toDF("pair", "f")
        .groupBy(col("pair")).agg(sum(col("f")).as("n"))
        .orderBy(col("n").desc, col("pair").asc)
        .limit(1).collect()
      if (top.nonEmpty) {
        val (pair, n) = (top(0).getString(0), top(0).getLong(1))
        merges += ((it, pair, n))
        val prev = words
        words = words.map { case (syms, f) => (mergePair(syms, pair), f) }
          .cache()
        words.count() // materialize before dropping the predecessor
        prev.unpersist()
      }
    }
    words.unpersist()
    merges.toSeq
  }

  /** Pure-Scala reference twin of [[bpeTrain]] for the exact-equality
    * gate: same word counts, same tie-break, same [[mergePair]], but
    * plain in-memory maps instead of distributed aggregation. */
  private[graft] def bpeTrainReference(
      wordCounts: Seq[(String, Long)]): Seq[(Int, String, Long)] = {
    var words = wordCounts.map { case (w, f) => (w.toCharArray.map(_.toString), f) }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    for (it <- 0 until BpeIters) {
      val counts = scala.collection.mutable.HashMap.empty[String, Long]
      for ((syms, f) <- words; i <- 0 until syms.length - 1)
        counts.updateWith(syms(i) + syms(i + 1)) {
          case Some(c) => Some(c + f); case None => Some(f)
        }
      if (counts.nonEmpty) {
        val (pair, n) = counts.toSeq.minBy { case (p, c) => (-c, p) }
        merges += ((it, pair, n))
        words = words.map { case (syms, f) => (mergePair(syms, pair), f) }
      }
    }
    merges.toSeq
  }

  /** Composed preprocessing pipeline — the shape a training-data run
    * chains: quality gate (token count + stopword ratio) → language
    * filter → exact-dedup survivor set. One declarative plan; Catalyst
    * fuses the three stages into a single pass + one aggregation. */
  def qualityFilterPipeline(sp: SparkSession, dir: String): DataFrame = {
    val scored = qualityScore(sp, dir)
    // a known language is a top marker count above 0 (the oracle's own
    // predicate): filtering on langId's pred_lang instead inlines its
    // whole CASE chain into the scan, whose generated code outgrows
    // Janino's 64 KB method limit, so the stage ran interpreted
    val known = langScores(sp, dir).filter(bestLangScore > 0).select(col("doc_id"))
    scored.join(known, "doc_id")
      .filter(col("n_tokens") >= 20 && col("stop_ratio") < 0.25)
      .join(Engine.table(sp, dir, "documents"), "doc_id")
      .groupBy(md5(col("text").cast("binary")).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"))
      .select(col("keep_id"))
  }

  val qualityFilterPipelineOracle: String = {
    // inline the quality + langid oracle logic over one CTE chain
    val occ = (w: String) =>
      s"CAST((LENGTH(padded) - LENGTH(REPLACE(padded, ' $w ', ' '))) / ${w.length + 1} AS BIGINT)"
    val markers = Seq(
      "en" -> Seq("the", "and", "of"), "de" -> Seq("der", "und", "die"),
      "fr" -> Seq("le", "et", "les"), "es" -> Seq("el", "y", "los"),
      "zh" -> Seq("de", "shi", "zai"))
    val scores = markers.map { case (l, ws) =>
      s"(${ws.map(occ).mkString(" + ")}) AS score_$l" }.mkString(", ")
    s"""
    WITH p AS (
      SELECT doc_id, text, ' ' || text || ' ' AS padded,
        CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS BIGINT) AS n_tokens
      FROM documents),
    s AS (SELECT doc_id, text, n_tokens,
      CAST(${occ("the")} + ${occ("a")} AS DOUBLE) / n_tokens AS stop_ratio,
      $scores FROM p),
    kept AS (
      SELECT doc_id, text FROM s
      WHERE n_tokens >= 20 AND stop_ratio < 0.25
        AND GREATEST(score_en, score_de, score_fr, score_es, score_zh) > 0)
    SELECT MIN(doc_id) AS keep_id FROM kept GROUP BY md5(text)"""
  }

  /** BPE-style pre-tokenization count: tokens are space-prefixed
    * letter runs, digit runs, or punctuation runs (the GPT-2
    * pre-tokenizer shape, minus contraction special cases). The three
    * alternatives are disjoint per start position, so Java (Spark) and
    * RE2 (DuckDB) agree match-for-match — oracle-safe. */
  private val BpePattern = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"

  def tokenBpe(sp: SparkSession, dir: String): DataFrame =
    Engine.table(sp, dir, "documents")
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(BpePattern), lit(0)))
          .as("n_bpe_tokens"))

  val tokenBpeOracle: String = s"""
    SELECT doc_id,
      CAST(len(regexp_extract_all(text, '$BpePattern')) AS INT) AS n_bpe_tokens
    FROM documents"""

  /** PII scrubbing — the redaction stage every training-data pipeline
    * runs: emails, URLs and long digit runs replaced by placeholder
    * tokens, with per-document match counts for audit. Conservative
    * regexes chosen to behave identically under Java (Spark) and RE2
    * (DuckDB); single pass, codegen'd, shuffle-free. */
  private val EmailRe = "[A-Za-z0-9.]+@[A-Za-z0-9.]+"
  private val UrlRe = "https?://[^ ]+"
  private val DigitRunRe = "[0-9]{6,}"

  def redactPii(sp: SparkSession, dir: String): DataFrame =
    Engine.table(sp, dir, "documents")
      .select(col("doc_id"),
        regexp_count(col("text"), lit(EmailRe)).cast("long").as("n_emails"),
        regexp_count(col("text"), lit(UrlRe)).cast("long").as("n_urls"),
        regexp_count(col("text"), lit(DigitRunRe)).cast("long").as("n_digit_runs"),
        length(
          regexp_replace(
            regexp_replace(
              regexp_replace(col("text"), EmailRe, "<EMAIL>"),
              UrlRe, "<URL>"),
            DigitRunRe, "<NUM>")).cast("long").as("redacted_len"))

  val redactPiiOracle: String = s"""
    SELECT doc_id,
      CAST(len(regexp_extract_all(text, '$EmailRe')) AS BIGINT) AS n_emails,
      CAST(len(regexp_extract_all(text, '$UrlRe')) AS BIGINT) AS n_urls,
      CAST(len(regexp_extract_all(text, '$DigitRunRe')) AS BIGINT) AS n_digit_runs,
      CAST(LENGTH(
        regexp_replace(
          regexp_replace(
            regexp_replace(text, '$EmailRe', '<EMAIL>', 'g'),
            '$UrlRe', '<URL>', 'g'),
          '$DigitRunRe', '<NUM>', 'g')) AS BIGINT) AS redacted_len
    FROM documents"""

  /** Training-data curation: the K highest-token-count documents per
    * language (ties to the smallest doc_id). Two-phase so it survives
    * language skew at corpus scale: phase 1 takes a per-input-partition
    * top-K per language (the exchange keys on (partition, lang) —
    * high cardinality, no single-language hot task), pruning to at most
    * K·P rows per language before phase 2 ranks those survivors
    * globally. The global top-K is always contained in the union of
    * per-partition top-Ks, so the result is exact. */
  val SampleTopK = 50

  def samplePerLang(sp: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Engine.table(sp, dir, "documents")
      .select(col("doc_id"), col("lang"),
        (length(col("text")) - length(replace(col("text"), lit(" "), lit(""))) + 1)
          .cast("long").as("n_tokens"))
    val local = docs.withColumn("pid", spark_partition_id())
    val perPart = Window.partitionBy(col("pid"), col("lang"))
      .orderBy(col("n_tokens").desc, col("doc_id").asc)
    val pruned = local
      .withColumn("r1", row_number().over(perPart))
      .filter(col("r1") <= SampleTopK)
      .drop("pid", "r1")
    val global = Window.partitionBy(col("lang"))
      .orderBy(col("n_tokens").desc, col("doc_id").asc)
    pruned
      .withColumn("rank", row_number().over(global).cast("long"))
      .filter(col("rank") <= SampleTopK)
      .select(col("lang"), col("doc_id"), col("n_tokens"), col("rank"))
  }

  val samplePerLangOracle: String = s"""
    SELECT lang, doc_id, n_tokens, rank FROM (
      SELECT lang, doc_id,
        CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS BIGINT) AS n_tokens,
        CAST(ROW_NUMBER() OVER (PARTITION BY lang
          ORDER BY LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 DESC, doc_id) AS BIGINT) AS rank
      FROM documents)
    WHERE rank <= $SampleTopK"""

  /** Training-data curation: take documents per language in doc_id
    * order while the running token total stays within a budget.
    * A per-language prefix sum is inherently sequential, so the scale
    * shape is two-phase: range-partition by (lang, doc_id), aggregate
    * one subtotal row per (partition, language) — a driver collect
    * bounded by partitions × languages, like the SPN trainer's bounded
    * sample — and seed each partition's running sum with the broadcast
    * offset of earlier partitions. No single-language hot task, one
    * pass over the data. */
  val TokenBudget = 5000L

  def tokenBudget(sp: SparkSession, dir: String): DataFrame = {
    val docs = Engine.table(sp, dir, "documents")
      .select(col("doc_id"), col("lang"),
        (length(col("text")) - length(replace(col("text"), lit(" "), lit(""))) + 1)
          .cast("long").as("n_tokens"))
    val parts = sp.sparkContext.defaultParallelism
    // The cache pins ONE physical range partitioning (the partitioner
    // samples per job and could otherwise shift boundaries between the
    // subtotal job and the final pass), and the partition id is stored
    // AS A COLUMN inside the cached data: downstream stage collapsing
    // (e.g. a consumer's coalesce(1) folds this mapPartitions into one
    // task where TaskContext would report a single id) cannot corrupt
    // the offset seeding, because the running sum re-seeds on every
    // (pid, lang) change read from the rows themselves.
    val sorted = docs
      .repartitionByRange(parts, col("lang"), col("doc_id"))
      .sortWithinPartitions(col("lang"), col("doc_id"))
      .withColumn("pid", spark_partition_id())
      .cache()
    // bounded driver collect: one subtotal per (partition, language)
    val subtotals = sorted
      .groupBy(col("pid"), col("lang")).agg(sum(col("n_tokens")).as("sub"))
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    val offsets: Map[(Int, String), Long] = subtotals.map { case (pid, lang, _) =>
      (pid, lang) -> subtotals.collect {
        case (p2, l2, s2) if l2 == lang && p2 < pid => s2
      }.sum
    }.toMap
    val bc = sp.sparkContext.broadcast(offsets)
    import sp.implicits._
    sorted.select(col("doc_id"), col("lang"), col("n_tokens"), col("pid"))
      .as[(Long, String, Long, Int)]
      .mapPartitions { it =>
        var curLang: String = null
        var curPid = -1
        var run = 0L
        it.map { case (id, lang, nt, pid) =>
          if (lang != curLang || pid != curPid) {
            curLang = lang
            curPid = pid
            run = bc.value.getOrElse((pid, lang), 0L)
          }
          run += nt
          (id, lang, nt, run)
        }
      }
      .toDF("doc_id", "lang", "n_tokens", "cum_tokens")
      .filter(col("cum_tokens") <= TokenBudget)
  }

  val tokenBudgetOracle: String = s"""
    SELECT doc_id, lang, n_tokens, cum_tokens FROM (
      SELECT doc_id, lang,
        CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS BIGINT) AS n_tokens,
        CAST(SUM(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1) OVER
          (PARTITION BY lang ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      FROM documents)
    WHERE cum_tokens <= $TokenBudget"""

  /** Unigram-LM surprisal filter with head/middle/tail bucketing —
    * the CCNet perplexity-filtering pass (Wenzek et al., LREC 2020:
    * score each document under a corpus LM, keep/route by perplexity
    * tertile). The LM here is the corpus's own unigram model
    * p(w) = c(w)/N (the scored corpus IS the training corpus, so
    * every token has c ≥ 1 and no smoothing mass is needed); the
    * per-doc score is the average negative log-likelihood in nats,
    * nll(d) = ln N − (Σ_{w∈d} ln c(w)) / |d|, and buckets are
    * z-score bands around the corpus nll distribution (tail =
    * above mean+σ: the most-surprising docs a quality pipeline
    * routes to review/drop; head = below mean−σ: the most-predictable,
    * boilerplate-leaning docs).
    *
    * Scale shape: two corpus passes — (1) explode → token-keyed
    * partial-agg count, cached + counted (vocabulary-sized result,
    * Heaps' law keeps it broadcastable at 100 TB; above
    * [[BpeLocalVocabMax]] — a junk-blown vocabulary — the surprisal
    * join drops the broadcast hint and runs as a plain shuffled hash
    * join, same posture as [[bpeTrain]]'s local-vs-distributed
    * branch), (2) explode → join the per-token surprisal → doc-keyed
    * partial-agg. The bucket stats are one scalar aggregate over the
    * doc-level frame (partial-agged, never wider than one row),
    * broadcast back. Nothing driver-side beyond the vocab count,
    * nothing wider than the vocabulary.
    *
    * Tokenization is `split(text, ' ')` WITHOUT an empty-token
    * filter, by design: whitespace runs contribute empty-string
    * tokens to the LM mass, N, and n_tok on BOTH engines (DuckDB
    * `string_split` keeps empties identically), so oracle parity
    * holds; a doc that is mostly runs of spaces scoring as repetitive
    * boilerplate (head bucket) is the intended CCNet-ish behavior.
    *
    * Float parity (fully SQL-oracled): per-token ln c(w) is rounded
    * through DECIMAL(18,6) (a 6-dp-rounded double can never tie —
    * the [[graft.operators.SimilarityOps.dimProfile]] argument), so
    * the per-doc sums are exact, order-free and engine-identical;
    * ln N takes the same decimal routing; nll is then one IEEE double
    * chain over bit-identical inputs written identically on both
    * engines, and the z-score stats reuse the dimProfile moment
    * dance (decimal sums, guarded sqrt). */
  def perplexityBucket(sp: SparkSession, dir: String): DataFrame =
    perplexityBucketFrom(sp, Engine.table(sp, dir, "documents"))

  /** [[perplexityBucket]] over an injected (doc_id, text) frame —
    * fixture entry point (spec plants hand-computable token counts
    * and, via `vocabCap`, forces the over-cap plain-join path). */
  private[graft] def perplexityBucketFrom(sp: SparkSession,
      docs: DataFrame, vocabCap: Long = BpeLocalVocabMax): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
    // cache: lq, consts and the cap count all read this vocab-sized
    // frame — uncached it would re-run the corpus explode+agg per use
    val vocab = toks.groupBy(col("token")).agg(count(lit(1)).as("c"))
      .cache()
    val underCap = vocab.count() <= vocabCap
    val lq0 = vocab.select(col("token"),
      log(col("c")).cast("decimal(18,6)").as("lq"))
    val lq = if (underCap) broadcast(lq0) else lq0
    val consts = vocab.agg(
      log(sum(col("c"))).cast("decimal(18,6)").cast("double").as("ln_n"))
    // cached: one narrow row per doc (id + 2 numbers) — the z-score
    // stats aggregate AND the final bucket projection both read it;
    // uncached, the second corpus pass (explode + surprisal join +
    // doc aggregate) ran TWICE per invocation (round 13)
    val doc = toks.join(lq, "token")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"), sum(col("lq")).cast("double").as("slq"))
      .cache()
    val scored = doc.crossJoin(broadcast(consts))
      .select(col("doc_id"), col("n_tok"),
        (col("ln_n") - col("slq") / col("n_tok")).as("nll"))
    val stats = scored.agg(
        count(lit(1)).as("nd"),
        sum(col("nll").cast("decimal(18,6)")).cast("double").as("snll"),
        sum((col("nll") * col("nll")).cast("decimal(18,6)"))
          .cast("double").as("snll2"))
      .select((col("snll") / col("nd")).as("mu"),
        when(col("nd") * col("snll2") - col("snll") * col("snll") > 0,
          sqrt(col("nd") * col("snll2") - col("snll") * col("snll")) /
            col("nd"))
          .otherwise(lit(0.0)).as("sd"))
    scored.crossJoin(broadcast(stats))
      .select(col("doc_id"), col("n_tok"), col("nll"),
        when(col("nll") > col("mu") + col("sd"), lit("tail"))
          .when(col("nll") < col("mu") - col("sd"), lit("head"))
          .otherwise(lit("middle")).as("bucket"))
  }

  val perplexityBucketOracle: String = """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents),
    vocab AS (SELECT token, COUNT(*) AS c FROM toks GROUP BY token),
    consts AS (
      SELECT CAST(CAST(ln(CAST(SUM(c) AS DOUBLE)) AS DECIMAL(18,6))
        AS DOUBLE) AS ln_n FROM vocab),
    lq AS (
      SELECT token, CAST(ln(CAST(c AS DOUBLE)) AS DECIMAL(18,6)) AS lq
      FROM vocab),
    doc AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
        CAST(SUM(lq) AS DOUBLE) AS slq
      FROM toks JOIN lq USING (token) GROUP BY doc_id),
    scored AS (
      SELECT doc_id, n_tok, ln_n - slq / n_tok AS nll FROM doc, consts),
    st0 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS nd,
        CAST(SUM(CAST(nll AS DECIMAL(18,6))) AS DOUBLE) AS snll,
        CAST(SUM(CAST(nll * nll AS DECIMAL(18,6))) AS DOUBLE) AS snll2
      FROM scored),
    st AS (
      SELECT snll / nd AS mu,
        CASE WHEN nd * snll2 - snll * snll > 0
          THEN sqrt(nd * snll2 - snll * snll) / nd ELSE 0.0 END AS sd
      FROM st0)
    SELECT doc_id, n_tok, nll,
      CASE WHEN nll > mu + sd THEN 'tail'
           WHEN nll < mu - sd THEN 'head'
           ELSE 'middle' END AS bucket
    FROM scored, st"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_perplexity_bucket" -> (perplexityBucket _),
    "text_redact_pii" -> (redactPii _),
    "pipeline_sample_per_lang" -> (samplePerLang _),
    "pipeline_topk_per_lang" -> (topkPerLang _),
    "text_normalize" -> (normalize _),
    "text_token_df" -> (tokenDf _),
    "text_boilerplate" -> (boilerplate _),
    "text_boilerplate_strip" -> (boilerplateStrip _),
    "text_lang_confusion" -> (langConfusion _),
    "pipeline_token_budget" -> (tokenBudget _),
    "pipeline_quality_filter" -> (qualityFilterPipeline _),
    "text_token_stats" -> (tokenStats _),
    "text_quality_score" -> (qualityScore _),
    "pipeline_quality_calibrate" -> (qualityCalibrate _),
    "text_compression_ratio" -> (compressionRatio _),
    "text_charclass_profile" -> (charClassProfile _),
    "text_lang_id" -> (langId _),
    "text_fingerprint" -> (fingerprint _),
    "text_token_histogram" -> (tokenHistogram _),
    "text_token_bpe" -> (tokenBpe _),
    "text_bpe_pairs" -> (bpePairs _),
    "text_heavy_hitters" -> (heavyHitters _),
    "text_doc_keywords" -> (docKeywords _),
    "text_bpe_train" -> (bpeTrain _))

  val oracles: Map[String, String] = Map(
    "text_perplexity_bucket" -> perplexityBucketOracle,
    "text_redact_pii" -> redactPiiOracle,
    "pipeline_sample_per_lang" -> samplePerLangOracle,
    "pipeline_topk_per_lang" -> topkPerLangOracle,
    "text_normalize" -> normalizeOracle,
    "text_token_df" -> tokenDfOracle,
    "text_boilerplate" -> boilerplateOracle,
    "text_boilerplate_strip" -> boilerplateStripOracle,
    "text_lang_confusion" -> langConfusionOracle,
    "pipeline_token_budget" -> tokenBudgetOracle,
    "pipeline_quality_filter" -> qualityFilterPipelineOracle,
    "text_token_stats" -> tokenStatsOracle,
    "text_quality_score" -> qualityScoreOracle,
    "pipeline_quality_calibrate" -> qualityCalibrateOracle,
    "text_charclass_profile" -> charClassProfileOracle,
    "text_lang_id" -> langIdOracle,
    "text_token_histogram" -> tokenHistogramOracle,
    "text_token_bpe" -> tokenBpeOracle,
    "text_bpe_pairs" -> bpePairsOracle,
    "text_heavy_hitters" -> heavyHittersOracle,
    "text_doc_keywords" -> docKeywordsOracle)
}
