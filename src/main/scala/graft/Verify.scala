package graft
import graft.tools.Harness.jsonString
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // dev mode: extra args name specific queries to dump (skips the
    // quality gates); the driver always calls with exactly two args
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args.drop(2).toSet) else None
    val spark = Engine.session("graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // per-op cache()s are dead after the dump — don't let 80+
      // queries' worth of them pile up in one session
      spark.sharedState.cacheManager.clearCache()
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // quantitative gates for the no-oracle (approximate) ops: score
    // each against its exact twin and surface the numbers next to the
    // correctness dump so "no_oracle" rows carry an auditable metric
    if (only.isEmpty) try {
      val gates = graft.tools.QualityGates.compute(spark, sfDir)
      val gatesJson = graft.tools.QualityGates.toJson(gates)
      Files.writeString(Paths.get(s"$outDir/quality.json"), gatesJson)
      // mirror the gate values into the working directory so the
      // no_oracle rows' evidence outlives outDir; like Bench's records,
      // an sf0.001 dev run must not rewrite the committed QUALITY.json
      val mirror = graft.tools.Harness.recordPath("QUALITY.json")
      try Files.writeString(Paths.get(mirror), gatesJson)
      catch { case e: Throwable =>
        System.err.println(s"[verify] $mirror mirror failed: ${e.getMessage}")
      }
      gates.foreach { g =>
        System.err.println(f"[quality] ${g.query}%-22s ${g.metric}%-26s " +
          f"${g.value}%.4f >= ${g.threshold}%.2f ${if (g.pass) "PASS" else "FAIL"}")
      }
      spark.sharedState.cacheManager.clearCache()
    } catch { case e: Throwable =>
      System.err.println(s"[verify] quality gates failed: ${e.getMessage}")
    }
    spark.stop()
  }
}
