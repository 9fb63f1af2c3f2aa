package graft

/** The one /proc/stat reader. Its callers: [[graft.tools.Harness]]
  * (external-CPU share and steal around every forked child of
  * [[Bench]] and [[graft.tools.ScaleBench]]), [[graft.tools.SoloProfile]]
  * (steal per rep), ScaleBench (steal over the whole sweep) and
  * perfbench's probe — one copy so a fix to the jiffy arithmetic can
  * never apply to one measurement and not another.
  *
  * Field semantics (proc(5), aggregate `cpu` line):
  * user nice system idle iowait irq softirq steal guest guest_nice.
  * `guest`/`guest_nice` are ALREADY folded into user/nice by the
  * kernel, so a total that sums all ten fields double-counts guest
  * time and understates steal% exactly on the virtualized hosts the
  * metric exists for — the total here sums only the first 8 fields
  * (user..steal). */
object ProcStat {

  /** (steal, total) jiffies from the aggregate cpu line; None when
    * /proc/stat is unreadable (off-Linux) — the caller must treat a
    * missing snapshot as "measurement unavailable", never as zero
    * (a (0,0) sentinel diffed against a live snapshot computes
    * steal-since-boot and can spuriously trip contention flags). */
  def snapshot(): Option[(Long, Long)] =
    scala.util.Try {
      val parts = scala.io.Source.fromFile("/proc/stat").getLines()
        .next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (parts.length > 7) parts(7) else 0L, parts.take(8).sum)
    }.toOption

  /** Steal percentage across the window [before, after]; -1.0 when
    * either snapshot is missing or the window is empty — recorded as
    * "unavailable" (negative) rather than a fake 0 or a since-boot
    * number. */
  def stealPctBetween(before: Option[(Long, Long)],
      after: Option[(Long, Long)]): Double = (before, after) match {
    case (Some((s0, t0)), Some((s1, t1))) if t1 > t0 =>
      100.0 * (s1 - s0) / (t1 - t0)
    case _ => -1.0
  }

  /** Seconds of busy CPU accumulated across ALL cores since boot
    * (everything except idle+iowait over the 8 non-guest fields,
    * USER_HZ jiffies). None off-Linux — the contention measurement
    * degrades to absent, never wrong. */
  def busySeconds(): Option[Double] =
    scala.util.Try {
      val f = scala.io.Source.fromFile("/proc/stat").getLines()
        .next().trim.split("\\s+").drop(1).map(_.toDouble).take(8)
      f.zipWithIndex.collect { case (v, i) if i != 3 && i != 4 => v }.sum / 100.0
    }.toOption
}
