package graft

import graft.tools.ScaleBench
import java.nio.file.{Files, Paths}
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** `Engine.parquetSchema` reads the schema from a footer on the driver;
  * it must be exactly the schema Spark's own inference gives. */
class ParquetSchemaSpec extends AnyFunSuite {
  import TestSession._

  private def sameAsSpark(path: String): Unit =
    assert(Engine.parquetSchema(spark, path) == spark.read.parquet(path).schema, path)

  test("footer schema equals Spark's inferred schema for every testdata table") {
    val testdata = Paths.get(sf).getParent
    for (scale <- Seq("sf0.001", "sf0.01", "sf0.1"); t <- Engine.tableNames)
      sameAsSpark(testdata.resolve(s"$scale/$t.parquet").toString)
  }

  test("footer schema equals Spark's inferred schema for a Spark-written multi-part directory") {
    val out = Files.createTempDirectory("graft_footer_derived")
    ScaleBench.derive(spark, sf, out.toString, 2)
    for (t <- Seq("documents", "embeddings", "events")) {
      val dir = out.resolve(s"$t.parquet")
      val files = Files.list(dir).iterator.asScala.map(_.getFileName.toString).toSeq
      assert(files.contains("_SUCCESS"), files)
      assert(files.count(_.endsWith(".parquet")) > 1, s"$t is one part: $files")
      sameAsSpark(dir.toString)
    }
  }

  test("a _common_metadata summary wins over _metadata and data files, as in Spark") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_footer_summary")
    def single(df: org.apache.spark.sql.DataFrame, as: String): Unit = {
      val stage = Files.createTempDirectory("graft_footer_stage")
      df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = Files.list(stage).iterator.asScala
        .find(_.toString.endsWith(".parquet")).get
      Files.move(part, dir.resolve(as))
    }
    single(Seq((1L, "a")).toDF("id", "s"), "part-0.parquet")
    sameAsSpark(dir.toString)
    single(Seq((1L, "a", 2.0)).toDF("id", "s", "x"), "_metadata")
    sameAsSpark(dir.toString)
    assert(Engine.parquetSchema(spark, dir.toString).fieldNames.toSeq == Seq("id", "s", "x"))
    single(Seq((1L, "a", 2.0, 3)).toDF("id", "s", "x", "y"), "_common_metadata")
    sameAsSpark(dir.toString)
    assert(Engine.parquetSchema(spark, dir.toString).fieldNames.toSeq == Seq("id", "s", "x", "y"))
  }

  test("TIMESTAMP(NANOS) events: same schema as Spark and the same µs values through Engine.table") {
    val dir = Files.createTempDirectory("graft_footer_nanos")
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  required int64 event_id;
        |  required int64 ts (TIMESTAMP(NANOS,true));
        |  required int64 user_id;
        |  required binary event_type (STRING);
        |  required double value;
        |  optional binary props (STRING);
        |}""".stripMargin)
    // negative and sub-µs instants pin the ns → µs conversion
    val nanos = Seq(0L, 999L, 1000L, 1_700_000_000_123_456_789L, -1L, -1500L)
    val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(dir.resolve("events.parquet").toString),
        new Configuration()))
      .withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    try nanos.zipWithIndex.foreach { case (ns, i) =>
      writer.write(rows.newGroup().append("event_id", i.toLong).append("ts", ns)
        .append("user_id", 7L).append("event_type", "view").append("value", 1.5))
    } finally writer.close()

    val events = Engine.table(spark, dir.toString, "events") // sets nanosAsLong
    val path = dir.resolve("events.parquet").toString
    sameAsSpark(path)
    assert(Engine.parquetSchema(spark, path)("ts").dataType == LongType)
    val got = events.orderBy("event_id").select(expr("unix_micros(ts)"))
      .collect().map(_.getLong(0)).toSeq
    // `ts div 1000`: integral division, as the conversion always was
    assert(got == nanos.map(_ / 1000))
  }

  test("an empty directory fails with the same error as Spark's inference") {
    val empty = Files.createTempDirectory("graft_footer_empty").toString
    val spark0 = intercept[AnalysisException](spark.read.parquet(empty))
    val ours = intercept[AnalysisException](Engine.parquetSchema(spark, empty))
    assert(spark0.getCondition == "UNABLE_TO_INFER_SCHEMA")
    assert(ours.getCondition == spark0.getCondition)
  }

  test("src/main reads parquet only through Engine.parquet") {
    // Engine.parquet and its footer shim are the one reader; any other
    // schema-inferring read is a regression to a job per table
    val helper = Set("graft/Engine.scala", "parquet/ParquetFooterShim.scala")
    val inferring = Seq("""\.read\s*\.parquet\(""", """\.read\s*\.format\(\s*"parquet"\s*\)""")
      .map(_.r)
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(helper.forall(h => files.exists(_.endsWith(h))), s"helper not found under $root")
    val offenders = files.filter { f =>
      !helper.exists(f.endsWith) &&
        inferring.exists(_.findFirstIn(Files.readString(f)).isDefined)
    }
    assert(offenders.isEmpty, s"schema-inferring parquet reads: ${offenders.mkString(", ")}")
  }
}
