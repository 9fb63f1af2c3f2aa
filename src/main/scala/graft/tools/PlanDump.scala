package graft.tools

import graft.{Engine, SparkEntry}

/** Dump the optimized logical plan and `.explain("formatted")` for
  * named queries — the before/after plan evidence an optimization
  * round commits under `plans/rNN/`.
  *
  * Usage: runMain graft.tools.PlanDump <outDir> <suffix> <q1,q2,...>
  * writes `<outDir>/<query>_<suffix>.txt` per query. The physical plan
  * is the pre-execution formatted plan (AQE initial) — join
  * strategies, Exchange placement, PushedFilters and ReadSchema are
  * all visible there; for final adaptive plans use [[SoloProfile]].
  * The text is [[normalize]]d, so dumps of the same plan from two
  * builds or two runs are byte-identical and `diff` shows only real
  * plan changes.
  */
object PlanDump {
  /** Strip the per-run tokens from a plan string: expression ids
    * (`doc_id#12L` → `doc_id#L`), object hashes (`Foo@1b2c3d` →
    * `Foo@`), exchange ids (`plan_id=7` → `plan_id=`), the RDD id
    * and call-site line of a checkpointed scan (`MapPartitionsRDD[190]
    * at localCheckpoint at DedupOps.scala:730` → `MapPartitionsRDD[]
    * at localCheckpoint at DedupOps.scala`), the JVM's name for a
    * typed closure (`Ops$$$Lambda$4722/0x00007f0521331cb0@` →
    * `Ops$$$Lambda@`) and the session-wide counter in a higher-order
    * function's variable (`lambda x_7#` → `lambda x_#`). */
  def normalize(plan: String): String =
    plan.replaceAll("#\\d+", "#")
      .replaceAll("\\$Lambda\\$\\d+/0x[0-9a-f]+", "\\$Lambda")
      .replaceAll("lambda (\\w+?)_\\d+#", "lambda $1_#")
      .replaceAll("@[0-9a-f]+", "@")
      .replaceAll("plan_id=\\d+", "plan_id=")
      .replaceAll("RDD\\[\\d+\\]", "RDD[]")
      .replaceAll("(\\.scala):\\d+", "$1")

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(",").toSeq.filter(_.nonEmpty)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Engine.session("graft-plandump")
    new java.io.File(outDir).mkdirs()
    names.foreach { n =>
      try {
        val qe = SparkEntry.queries(n)(spark, dir).queryExecution
        val plan = "== Optimized Logical Plan ==\n" + qe.optimizedPlan +
          "\n" + qe.explainString(org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${n}_$suffix.txt"), normalize(plan))
        System.err.println(s"[plandump] $n -> $outDir/${n}_$suffix.txt")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $n FAILED: ${e.getMessage}")
      }
      spark.sharedState.cacheManager.clearCache()
    }
    spark.stop()
  }
}
