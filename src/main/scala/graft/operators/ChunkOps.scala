package graft.operators

import graft.Engine
import graft.functions.functions.word_ngrams
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Document shaping and intra-document repetition analysis over
  * `documents`:
  *
  *  - sliding-window chunking: cut each document into fixed-size
  *    character windows with overlap (the RAG / context-window
  *    pre-processing pass). One `explode` over a `sequence` of chunk
  *    starts — row-local, zero shuffle, and the fan-out factor is
  *    `ceil(n_chars / stride)`, so output size is predictable at any
  *    scale.
  *  - repetition stats: the Gopher-style within-document repetition
  *    signals (distinct-word ratio, top-word fraction, duplicate
  *    bigram fraction) used to drop degenerate/boilerplate documents
  *    before LLM training. Computed entirely inside the row with
  *    array higher-order functions (`array_sort` + `aggregate` run
  *    counting) — **no shuffle at all**, the cheapest possible shape
  *    at 100 TB: a single map pass over the corpus.
  *
  * Both are exactly SQL-expressible (integer counts, one final
  * division) → DuckDB-oracled.
  */
object ChunkOps {

  /** Window size / stride in characters (overlap = Chunk - Stride). */
  val Chunk = 200L
  val Stride = 150L

  /** Explode each document into overlapping [start, start+Chunk)
    * character windows. Chunk starts are `0, Stride, 2·Stride, …` up
    * to the last start < n_chars. */
  def chunkSliding(sp: SparkSession, dir: String): DataFrame =
    Engine.table(sp, dir, "documents")
      .select(col("doc_id"), col("text"), col("n_chars"))
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0L),
          greatest(col("n_chars") - 1L, lit(0L)), lit(Stride))).as("cstart"))
      .select(
        col("doc_id"),
        (col("cstart") / Stride).cast("long").as("chunk_id"),
        col("cstart"),
        col("text").substr((col("cstart") + 1L).cast("int"),
          lit(Chunk.toInt)).as("chunk_text"))
      .withColumn("chunk_len", length(col("chunk_text")).cast("long"))
      .drop("text")

  /** DuckDB's generate_series table function rejects lateral column
    * arguments; the scalar `range` list function accepts them.
    * `range(0, n, s)` is stop-exclusive = Spark's stop-inclusive
    * `sequence(0, n-1, s)`; GREATEST(n_chars, 1) keeps empty docs at
    * exactly one (empty) chunk like the Spark side's GREATEST(n-1,0). */
  val chunkSlidingOracle: String = s"""
    SELECT doc_id,
      CAST(i // $Stride AS BIGINT) AS chunk_id,
      CAST(i AS BIGINT) AS cstart,
      substr(text, CAST(i + 1 AS INT), $Chunk) AS chunk_text,
      CAST(length(substr(text, CAST(i + 1 AS INT), $Chunk)) AS BIGINT) AS chunk_len
    FROM (
      SELECT doc_id, text,
        unnest(range(0, GREATEST(n_chars, 1), $Stride)) AS i
      FROM documents)"""

  /** Token window / stride for token-based chunking (overlap =
    * TokChunk - TokStride tokens). */
  val TokChunk = 64
  val TokStride = 48

  /** Token-window chunking: cut each document into overlapping
    * fixed-TOKEN-count windows (context-window packing prep — chunk
    * boundaries respect token, not byte, positions). Same row-local
    * explode shape as [[chunkSliding]]: zero shuffle, fan-out
    * `ceil(n_tokens / stride)`. Tokens are whitespace words (the same
    * tokenizer as the repetition/token-stats ops). */
  def chunkTokens(sp: SparkSession, dir: String): DataFrame =
    Engine.table(sp, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(1),
          greatest(size(col("ws")), lit(1)), lit(TokStride))).as("tstart"))
      .select(
        col("doc_id"),
        ((col("tstart") - 1) / TokStride).cast("long").as("chunk_id"),
        (col("tstart") - 1).cast("long").as("tok_start"),
        concat_ws(" ", slice(col("ws"), col("tstart"), lit(TokChunk)))
          .as("chunk_text"),
        least(size(col("ws")) - col("tstart") + 1, lit(TokChunk))
          .cast("long").as("n_tokens"))

  /** `range` is stop-exclusive (Spark `sequence` stop-inclusive), so
    * `range(1, n+1, s)` matches `sequence(1, n, s)`; GREATEST keeps
    * empty docs at one chunk. list slicing is 1-based inclusive on
    * both sides. */
  val chunkTokensOracle: String = s"""
    SELECT doc_id,
      CAST((i - 1) // $TokStride AS BIGINT) AS chunk_id,
      CAST(i - 1 AS BIGINT) AS tok_start,
      array_to_string(ws[CAST(i AS INT):CAST(i + $TokChunk - 1 AS INT)], ' ')
        AS chunk_text,
      CAST(LEAST(len(ws) - i + 1, $TokChunk) AS BIGINT) AS n_tokens
    FROM (
      SELECT doc_id, ws, unnest(range(1, GREATEST(len(ws), 1) + 1, $TokStride)) AS i
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))"""

  /** Longest run of equal adjacent elements in a sorted array = the
    * count of the most frequent element. Implemented with the
    * `aggregate` higher-order function over struct state — evaluated
    * per row, no shuffle. The empty-string initial `prev` is safe:
    * the run counter starts at 0, so a genuine "" first element still
    * counts as a run of 1. */
  private def maxRunCount(sortedArr: Column): Column =
    aggregate(
      sortedArr,
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("mx")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("mx"), run).as("mx"))
      },
      acc => acc.getField("mx"))

  /** Per-document repetition signals (Rae et al. 2021, "Scaling
    * Language Models" §A1.1 repetition filters):
    * distinct-word ratio, most-frequent-word fraction, duplicate
    * bigram fraction. */
  def repetitionStats(sp: SparkSession, dir: String): DataFrame = {
    Engine.table(sp, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("ws"),
        word_ngrams(col("text"), 2).as("bg"))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_words"),
        size(array_distinct(col("ws"))).cast("long").as("n_distinct"),
        maxRunCount(array_sort(col("ws"))).as("top_word_n"),
        col("bg"))
      .withColumn("n_bigrams", size(col("bg")).cast("long"))
      .withColumn("n_distinct_bigrams",
        size(array_distinct(col("bg"))).cast("long"))
      .drop("bg")
      .withColumn("distinct_ratio",
        round(col("n_distinct").cast("double") / col("n_words"), 6))
      .withColumn("top_word_frac",
        round(col("top_word_n").cast("double") / col("n_words"), 6))
      .withColumn("dup_bigram_frac",
        round(lit(1.0) - col("n_distinct_bigrams").cast("double")
          / col("n_bigrams"), 6))
  }

  val repetitionStatsOracle: String = """
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws,
        list_transform(range(1, GREATEST(len(string_split(text, ' ')), 2)),
          i -> array_to_string(string_split(text, ' ')[i:i+1], ' ')) AS bg
      FROM documents)
    SELECT doc_id,
      CAST(len(ws) AS BIGINT) AS n_words,
      CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct,
      CAST(list_max(list_transform(list_distinct(ws),
        w2 -> len(list_filter(ws, x -> x = w2)))) AS BIGINT) AS top_word_n,
      CAST(len(bg) AS BIGINT) AS n_bigrams,
      CAST(len(list_distinct(bg)) AS BIGINT) AS n_distinct_bigrams,
      round(CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws), 6) AS distinct_ratio,
      round(CAST(list_max(list_transform(list_distinct(ws),
        w2 -> len(list_filter(ws, x -> x = w2)))) AS DOUBLE) / len(ws), 6)
        AS top_word_frac,
      round(1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg), 6)
        AS dup_bigram_frac
    FROM w"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "doc_chunk_sliding" -> (chunkSliding _),
    "doc_chunk_tokens" -> (chunkTokens _),
    "text_repetition_stats" -> (repetitionStats _))

  val oracles: Map[String, String] = Map(
    "doc_chunk_sliding" -> chunkSlidingOracle,
    "doc_chunk_tokens" -> chunkTokensOracle,
    "text_repetition_stats" -> repetitionStatsOracle)
}
