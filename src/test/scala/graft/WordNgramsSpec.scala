package graft

import graft.functions.functions.word_ngrams
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.debug.codegenString
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** `word_ngrams` against the higher-order-function form it replaced in
  * the shingle and gram builders, on edge-case texts and the test
  * corpora, through both the interpreted and the compiled path. */
class WordNgramsSpec extends AnyFunSuite {
  import TestSession._

  /** The interpreted form: `split` on one space, a window of `n` words
    * per start position, `array_distinct` for the distinct form. */
  private def hof(text: Column, n: Int, distinct: Boolean): Column = {
    val ws = split(text, " ")
    val grams = transform(sequence(lit(1), greatest(size(ws) - (n - 1), lit(1))),
      i => concat_ws(" ", slice(ws, i, lit(n))))
    if (distinct) array_distinct(grams) else grams
  }

  private val modes = Seq(
    "interpreted" -> Map("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"),
    "codegen" -> Map("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false"))

  private def withConf[T](kv: Map[String, String])(body: => T): T = {
    val old = kv.keys.map(k => k -> spark.conf.getOption(k)).toMap
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  private val edgeTexts: Seq[String] = Seq(null, "", " ", "  ", "a", "a b", "a b c",
    "a  b", " a b", "a b ", "  a  b  c  ", "x x x x x x", "b a b a b a",
    "𝄞 music 😀 a b 𝄞 music 😀 a b", "naïve café 日本語 テキスト naïve café",
    "the quick brown fox jumps over the lazy dog the quick brown fox")

  /** The edge texts from an RDD (a LocalRelation would be folded by the
    * optimizer, which evaluates projections interpreted), plus one
    * invalid UTF-8 text cast from bytes. */
  private def edgeFrame: DataFrame = {
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    val rows = edgeTexts.zipWithIndex.map { case (t, i) => Row(i.toLong, t) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .union(spark.range(1).select(lit(-1L).as("doc_id"),
        unhex(lit("61C32062FF2063")).cast("string").as("text")))
  }

  private def mismatches(docs: DataFrame, n: Int, distinct: Boolean): Long =
    docs.filter(!(word_ngrams(col("text"), n, distinct) <=> hof(col("text"), n, distinct)))
      .count()

  test("word_ngrams equals the HOF form on edge texts and both corpora, interpreted and compiled") {
    val frames = Seq("edge texts" -> edgeFrame) ++
      Seq(sf, sf01).map(d => d -> Engine.table(spark, d, "documents"))
    for ((mode, conf) <- modes; (what, docs) <- frames; n <- Seq(2, 3, 5);
         distinct <- Seq(false, true)) withConf(conf) {
      assert(mismatches(docs, n, distinct) == 0, s"$mode, $what, n=$n, distinct=$distinct")
    }
  }

  test("word_ngrams keeps empty words, gives [\"\"] for NULL and '', and dedups in first-occurrence order") {
    val cases = Seq(
      (null, 3, false) -> Seq(""),
      ("", 3, false) -> Seq(""),
      ("a", 3, false) -> Seq("a"),
      ("a b", 3, false) -> Seq("a b"),
      ("a  b", 2, false) -> Seq("a ", " b"),
      (" a b", 2, false) -> Seq(" a", "a b"),
      ("a b ", 2, false) -> Seq("a b", "b "),
      ("x x x x", 2, false) -> Seq("x x", "x x", "x x"),
      ("x x x x", 2, true) -> Seq("x x"),
      ("b a b a", 2, true) -> Seq("b a", "a b"))
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    for ((mode, conf) <- modes; (((text, n, distinct), want), i) <- cases.zipWithIndex)
      withConf(conf) {
        val df = spark.createDataFrame(
          spark.sparkContext.parallelize(Seq(Row(i.toLong, text)), 1), schema)
        val got = df.select(word_ngrams(col("text"), n, distinct)).head().getSeq[String](0)
        assert(got == want, s"$mode: word_ngrams(${Option(text)}, $n, $distinct)")
      }
  }

  test("word_ngrams compiles into the whole-stage codegen stage") {
    withConf(modes.toMap.apply("codegen")) {
      val df = Engine.table(spark, sf, "documents")
        .select(col("doc_id"), explode(word_ngrams(col("text"), 3, true)).as("g"))
      val code = codegenString(df.queryExecution.executedPlan)
      assert(code.contains("graft.functions.WordNgrams.grams("), code.take(2000))
      assert(df.count() > 0)
    }
  }

  test("src/main builds word n-grams only through word_ngrams") {
    // the interpreted idiom: a transform over sequence(…) whose lambda
    // joins a slice of the word array with one space
    val hofGrams = """(?s)transform\(\s*sequence\((?:(?!transform\().){0,300}?concat_ws\(\s*"\s"\s*,\s*slice\(""".r
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, s"no sources under $root")
    val offenders = files.filter(f => hofGrams.findFirstIn(Files.readString(f)).isDefined)
    assert(offenders.isEmpty,
      s"word n-grams built with transform(sequence(…)): ${offenders.mkString(", ")}")
  }
}
