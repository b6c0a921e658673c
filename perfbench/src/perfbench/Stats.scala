package perfbench

import scala.collection.mutable

object Stats {
  /** Nearest-rank percentile, `q` in (0, 1]. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def nowMs: Double = System.nanoTime() / 1e6 + Clock.offsetMs
}

/** Progress lines on standard error, stamped with seconds since JVM start. */
object Log {
  private val t0 = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  def apply(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - t0) / 1e3}%.1f s: $msg")
}

/** Maps the monotonic clock onto epoch milliseconds once per JVM, so the
  * benchmark's own timings and Spark's epoch-stamped events share one axis.
  */
object Clock {
  val offsetMs: Double = System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
}

/** What one run reports: `correct`, `attempted`, `failed`, the end-to-end and
  * per-layer metrics, and the named figures each workload prints.
  */
final class Report(val workload: String) {
  var attempted = 0
  var failed = 0
  var correct = true
  val e2e = mutable.LinkedHashMap[String, (Double, String)]()
  val layer = mutable.LinkedHashMap[String, (Double, String)]()
  /** Workload-specific figures, printed as `name value unit (n=..)`. */
  val named = mutable.LinkedHashMap[String, (Double, String, Int)]()
  val info = mutable.LinkedHashMap[String, String]()

  def fail(what: String, ops: Int = 1): Unit = {
    failed += ops
    System.err.println(s"[perfbench] FAILED $what")
  }
  def mismatch(what: String, ops: Int): Unit = { correct = false; fail(what, ops) }
}
