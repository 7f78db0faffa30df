package graft.tools

/** Guarded /proc/stat sampler shared by [[graft.Bench]] and the
  * perfbench harness (`perfbench/src/perfbench/PerfBench.scala`)
  * (r17, ADVICE items 2/3): steal (field 8) and iowait (field 5)
  * cumulative jiffies (USER_HZ=100) summed over all cpus. Returns None
  * when the file is unreadable or malformed — a caller must SKIP steal
  * accounting for an interval when either endpoint sample is missing,
  * never substitute zeros: a (0,0) fallback paired with one good sample
  * makes the delta the full cumulative counter (or negative), which
  * stamps a bogus steal% that dirties every pass and burns the retry
  * budget. */
object ProcStat {
  def stealIowait(): Option[(Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+")
        Some((f(8).toLong, f(5).toLong))
      } finally src.close()
    } catch { case _: Throwable => None }

  /** Percentage of an interval's cpu-seconds (wall × ncpus) that the
    * delta between two jiffie samples represents; -1.0 sentinel when
    * either sample is missing (excluded from max-tracking and visibly
    * distinct from a measured 0.0 in artifacts). */
  def pct(before: Option[(Long, Long)], after: Option[(Long, Long)],
      wallSec: Double, ncpus: Int, field: ((Long, Long)) => Long): Double =
    (before, after) match {
      case (Some(b), Some(a)) if wallSec > 0 =>
        (field(a) - field(b)) / 100.0 / (wallSec * ncpus) * 100.0
      case _ => -1.0
    }
}
