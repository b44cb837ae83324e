package graftbench

import scala.collection.mutable
import scala.util.control.NonFatal

/** Latency summaries.
  *
  * Quantiles use the Harrell–Davis estimator: a Beta-weighted average of all
  * order statistics. Operation latencies cluster by operation kind (a dbt
  * project mixes 20 ms views with 2 s merges), and a single order statistic
  * jumps across the gap between two clusters from one run to the next; the
  * weighted average moves smoothly instead.
  */
object Stats {

  /** Harrell–Davis estimate of the `p` quantile, 0 < p < 1. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    require(p > 0 && p < 1, s"quantile $p outside (0, 1)")
    val s = xs.sorted
    val n = s.size
    val a = p * (n + 1)
    val b = (1 - p) * (n + 1)
    def cdf(x: Double): Double =
      if (x <= 0) 0.0 else if (x >= 1) 1.0
      else org.apache.commons.math3.special.Beta.regularizedBeta(x, a, b)
    s.indices.map(i => s(i) * (cdf((i + 1).toDouble / n) - cdf(i.toDouble / n))).sum
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The tail latency: the quantile at the highest percentile that leaves
    * at least `beyond` samples above it — 100·(n − beyond)/n — with the
    * percentile and the sample count recorded beside it. With fewer than
    * 2·beyond samples no percentile above the median qualifies, and the
    * median is reported.
    */
  final case class Tail(percentile: Double, valueMs: Double, samples: Int)

  def tail(xs: Seq[Double], beyond: Int = 10): Tail = {
    val n = xs.size
    val p = math.max(1.0 - beyond.toDouble / n, 0.5)
    Tail(100 * p, quantile(xs, p), n)
  }
}

/** Operation and check accounting for one workload pass: every operation and
  * every correctness check is attempted once; an operation that throws or a
  * check that does not hold counts as failed. Latencies are kept for the
  * operations that succeeded.
  */
final class Ops(tracer: Tracer) {
  val latenciesMs: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  /** (operation name, latency) in run order, for the run record. */
  val timeline: mutable.ArrayBuffer[(String, Double)] = mutable.ArrayBuffer.empty
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  private var attemptedN = 0
  private var failedN = 0

  def attempted: Int = attemptedN
  def failed: Int = failedN
  def failedFrac: Double = if (attemptedN == 0) 0.0 else failedN.toDouble / attemptedN

  /** Run one timed operation. A throwing operation is recorded as failed and
    * yields None; the workload carries on.
    */
  def op[T](name: String)(f: => T): Option[T] = {
    attemptedN += 1
    tracer.beginOp()
    val t0 = System.nanoTime()
    try {
      val out = f
      val ms = (System.nanoTime() - t0) / 1e6
      latenciesMs += ms
      timeline += name -> ms
      Some(out)
    } catch {
      case NonFatal(e) =>
        failedN += 1
        failures += s"op $name: ${e.getClass.getSimpleName}: ${e.getMessage}"
        System.err.println(s"[perfbench] operation $name failed")
        e.printStackTrace()
        None
    }
  }

  /** Run one untimed step of the fixed work (set-up inside a pass); a
    * throwing step counts as a failed operation. */
  def step[T](name: String)(f: => T): Option[T] = {
    val n = latenciesMs.size
    val out = op(name)(f)
    if (latenciesMs.size > n) latenciesMs.remove(n)
    out
  }

  /** Record one correctness check; a check that throws is a failed check. */
  def check(name: String)(cond: => Boolean, detail: => String = ""): Boolean = {
    attemptedN += 1
    val ok = try cond catch {
      case NonFatal(e) => e.printStackTrace(); false
    }
    if (!ok) {
      failedN += 1
      failures += s"check $name failed $detail"
      System.err.println(s"[perfbench] check $name failed $detail")
    }
    ok
  }
}
