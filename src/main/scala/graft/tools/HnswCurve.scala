package graft.tools

import graft.{Engine, SparkEntry}
import org.apache.spark.sql.SparkSession

/** Record the HNSW recall/latency curve behind the committed
  * `hnswEfFor` step schedule: sweep the search beam width at the
  * base corpus AND the 100× ScaleBench corpus (recall decays with
  * corpus size at fixed ef, so the operating point must be justified
  * where it is weakest), scoring recall@5 against brute force and
  * timing the full op (build + search) like ScaleBench does.
  *
  * Usage: `runMain graft.tools.HnswCurve [baseDir] [scratchDir] [out]
  * [efList]`. Defaults: /root/testdata/sf0.1, /tmp/graft_scale/x100
  * (must already be derived — run ScaleBench first), HNSW_CURVE.json,
  * 32,64,128,256. Writes one JSON object per (corpus, ef) cell. */
object HnswCurve {

  def main(args: Array[String]): Unit = {
    val baseDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val scratch = args.lift(1).getOrElse("/tmp/graft_scale/x100")
    val outPath = args.lift(2).getOrElse("HNSW_CURVE.json")
    val efs = args.lift(3).getOrElse("32,64,128,256")
      .split(',').map(_.trim.toInt).toSeq
    val reps = 3
    val spark = Engine.session("graft-hnsw-curve")

    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet

    def cell(dir: String, ef: Int): (Double, Double) = {
      val bf = pairs(SparkEntry.queries("sim_knn_bruteforce")(spark, dir))
      spark.sharedState.cacheManager.clearCache()
      def run() = graft.operators.SimilarityOps.annHnswWith(spark, dir, Some(ef))
      val got = pairs(run())
      val recall =
        if (bf.isEmpty) 1.0 else (got & bf).size.toDouble / bf.size
      spark.sharedState.cacheManager.clearCache()
      run().write.format("noop").mode("overwrite").save() // warm-up
      val wall = Harness.median((1 to reps).map { _ =>
        spark.sharedState.cacheManager.clearCache()
        val t0 = System.nanoTime
        run().write.format("noop").mode("overwrite").save()
        (System.nanoTime - t0) / 1e9
      })
      (recall, wall)
    }

    def fmt(d: Double) = f"$d%.4f"
    val corpora = Seq("base" -> baseDir, "x100" -> scratch)
      .filter { case (_, d) =>
        java.nio.file.Files.exists(
          java.nio.file.Paths.get(s"$d/embeddings.parquet")) }
    val body = corpora.map { case (tag, dir) =>
      val cells = efs.map { ef =>
        val (recall, wall) = cell(dir, ef)
        System.err.println(
          f"[hnsw-curve] $tag%-5s ef=$ef%-4d recall@5 $recall%.3f  median $wall%6.2f s")
        s""""$ef":{"recall_at_5":${fmt(recall)},"median_s":${fmt(wall)}}"""
      }
      s""""$tag":{"dir":"$dir",${cells.mkString(",")}}"""
    }
    val json = s"""{"m":${graft.operators.SimilarityOps.HnswM},""" +
      s""""ef_construction":${graft.operators.SimilarityOps.HnswEfConstruction},""" +
      s""""shard_rows":${graft.operators.SimilarityOps.HnswShardRows},""" +
      s""""ef_schedule":"n<=65536:64, else:256 (hnswEfFor)",""" +
      body.mkString(",") + "}"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json)
    println(json)
    spark.stop()
  }
}
