package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      // the production cache size: Spark reads it once per JVM, at the
      // first compile (see Engine.session)
      .config("spark.sql.codegen.cache.maxEntries", Engine.CodegenCacheEntries.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
  /** The sf0.01 corpus beside [[sf]]. */
  val sf01: String = new java.io.File(new java.io.File(sf).getParentFile, "sf0.01").getPath
}

/** Every declared query must run end-to-end on sf0.001 and the
  * flagship entry must return rows — mirrors the driver's t1 smoke. */
class OperatorSmokeSpec extends AnyFunSuite {
  import TestSession._

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name runs on sf0.001") {
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty)
      df.write.format("noop").mode("overwrite").save()
    }
  }

  test("bpeTrain local and distributed merge loops are row-identical") {
    import graft.operators.TextOps
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq
    val local = rows(TextOps.bpeTrain(spark, sf, localVocabMax = Long.MaxValue))
    val dist = rows(TextOps.bpeTrain(spark, sf, localVocabMax = -1L))
    assert(local == dist)
    assert(local.size == TextOps.BpeIters)
  }
}
