package graft

import graft.optimizer.JoinReorderRule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

object TestSession {
  import org.scalatest.Assertions.assert

  /** The production session (`JoinReorderRule` included) on 8 cores. */
  lazy val spark: SparkSession = Engine.session("graft-test", cpus = 8)

  /** A result's rows as sorted strings, for order-free comparison. */
  def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.toString).sorted.toSeq

  /** `body` planned without `JoinReorderRule`, the baseline a
    * reordering test compares against: Spark's own
    * `spark.sql.optimizer.excludedRules` drops the rule, and the
    * optimizer reads it on every execution. The rule's global state
    * (injected cardinalities, cost model, SPNs, `graft.*` confs)
    * therefore steers nothing here; its `reorderCount` shows that
    * nothing was reordered. */
  def withoutReorderRule[T](body: => T): T = {
    val key = "spark.sql.optimizer.excludedRules"
    val before = JoinReorderRule.reorderCount
    spark.conf.set(key, "graft.optimizer.JoinReorderRule")
    val r = try body finally spark.conf.unset(key)
    assert(JoinReorderRule.reorderCount == before, "the baseline was reordered")
    r
  }

  /** Asserts that `df` (by name: each run builds and plans it anew)
    * gives the same rows planned by `JoinReorderRule`, which reorders
    * it, as without it. */
  def assertReorderKeepsRows(df: => DataFrame): Unit = {
    val base = withoutReorderRule(sortedRows(df))
    val before = JoinReorderRule.reorderCount
    assert(sortedRows(df) == base)
    assert(JoinReorderRule.reorderCount > before, "the rule did not reorder")
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
