package graft.tools

import graft.{Engine, ProcStat, SparkEntry}

/** Solo profiler for single operators: the instrument the round-12
  * `sim_knn_graph` question needed. The 100× sweep measured the op at
  * 29.6 s committed vs 62-72 s in two driver reruns — a 2.4× swing on
  * one op while its group neighbors moved ~1.3×, beyond what the
  * recorded 5-11 % hypervisor steal explains. Group sweeps cannot
  * separate the three candidate causes (host contention, an AQE
  * strategy flip between runs, JVM-state contamination from group
  * predecessors); this tool isolates all three:
  *
  *  - SOLO, fresh JVM: `runMain graft.tools.SoloProfile <ops> <dir>` is
  *    itself the fresh JVM, started behind the [[Harness]] idle gate;
  *    each op gets one untimed cold run before its timed reps, and
  *    every rep is cold.
  *  - Per-REP steal: each timed rep carries its own [[ProcStat]]
  *    window plus the 1-min loadavg at rep start, so a contended rep
  *    is visible next to its wall — not averaged into a sweep-wide
  *    number.
  *  - Per-REP final plan: each rep executes through the DataFrame's
  *    own QueryExecution (`toRdd` + a foreach job — the same physical
  *    plan a noop write runs, minus the write wrapper) so the
  *    AdaptiveSparkPlan it holds afterwards IS the final plan of the
  *    measured run. The record carries each plan's
  *    [[Harness.fingerprint]] (join strategies, shuffle and broadcast
  *    exchanges, in-memory scans, AQE skew/coalesce markers) and flags
  *    `plan_flip` when any two reps disagree — the "AQE flips the
  *    bucket-join strategy between runs" hypothesis becomes a recorded
  *    yes/no instead of a suspicion.
  *
  * Usage: runMain graft.tools.SoloProfile <op[,op...]> <dir> [reps=3]
  *        [out=SOLO_<op>.json] — one record per op; `out` names the
  *        record of a single op. The dir is any corpus directory
  *        (oracle SF or a ScaleBench-derived N× scratch; the caller
  *        derives scratch corpora first, e.g. via [[ScaleBench]]). */
object SoloProfile {

  def main(args: Array[String]): Unit = {
    val ops = args.lift(0).getOrElse(
      sys.error("usage: SoloProfile <op[,op...]> <dir> [reps] [out]")).split(',').toSeq
    val dir = args.lift(1).getOrElse(sys.error("missing <dir>"))
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    require(args.length < 4 || ops.length == 1, "[out] names the record of a single op")
    val idleWaitedS = Harness.awaitIdle("solo")
    val spark = Engine.session("graft-solo")
    ops.foreach { op =>
      val outPath = args.lift(3).getOrElse(s"SOLO_$op.json")
      Harness.coldRun(spark, op, dir)
      val runs = (1 to reps).map { i =>
        val load0 = Harness.loadAvg
        val st0 = ProcStat.snapshot()
        // the compiles are counted over build and execution, like
        // Harness.coldRun's; the wall covers execution only
        val c0 = Harness.codegen()
        val qe = SparkEntry.queries(op)(spark, dir).queryExecution
        // execute the DataFrame's OWN QueryExecution so the adaptive
        // plan we stringify below is the one this timed run finalized
        // (a noop write plans a fresh QueryExecution internally and
        // discards it)
        val t0 = System.nanoTime
        spark.sparkContext.runJob(qe.toRdd,
          (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) =>
            { while (it.hasNext) it.next(); () })
        val wall = (System.nanoTime - t0) / 1e9
        val timedRun = Harness.Timed(wall, Harness.codegen() - c0)
        val steal = ProcStat.stealPctBetween(st0, ProcStat.snapshot())
        val plan = qe.executedPlan.toString
        spark.sharedState.cacheManager.clearCache()
        val fp = Harness.fingerprint(plan)
        System.err.println(f"[solo] $op rep $i: wall $wall%7.2f s  steal $steal%5.2f%%  load@start $load0%4.1f  " +
          f"compiles ${timedRun.codegen.compiles} (${timedRun.codegen.ms}%.0f ms)  " +
          fp.filter(_._2 > 0).map { case (k, v) => s"$k=$v" }.mkString(" "))
        (wall, steal, load0, fp, plan, timedRun)
      }

      val fps = runs.map(_._4)
      val walls = runs.map(_._1)
      // plan dumped once per DISTINCT fingerprint — evidence, not bulk
      runs.map(r => (r._4, r._5)).distinctBy(_._1).zipWithIndex.foreach { case ((_, p), i) =>
        val f = java.nio.file.Paths.get(outPath.stripSuffix(".json") + s"_plan$i.txt")
        java.nio.file.Files.writeString(f, p)
        System.err.println(s"[solo] plan variant $i -> $f")
      }

      def fmt(d: Double) = f"$d%.4f"
      val json = s"""{"op":"$op","dir":${Harness.jsonString(dir)},"reps":$reps,""" +
        s""""idle_waited_s":${fmt(idleWaitedS)},"walls_s":[${walls.map(fmt).mkString(",")}],""" +
        s""""steal_pct":[${runs.map(r => fmt(r._2)).mkString(",")}],""" +
        s""""load_at_start":[${runs.map(r => fmt(r._3)).mkString(",")}],""" +
        s""""spread":${fmt(walls.max / walls.min)},${Harness.Timed.json(runs.map(_._6))},""" +
        s""""plan_flip":${fps.distinct.length > 1},""" +
        s""""plan_fingerprints":[""" +
        fps.map(fp => "{" + fp.toSeq.sortBy(_._1).map {
          case (k, v) => s""""$k":$v""" }.mkString(",") + "}").mkString(",") +
        "]}"
      java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json)
      println(json)
    }
    spark.stop()
  }
}
