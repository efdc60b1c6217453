package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

/** Failure-honest operation timing. Every timed call is counted as
  * attempted; a call that throws is counted as failed, named in the output,
  * and never enters a latency sample (a thrown query must not read as a fast
  * one). Output checks are kept apart from call failures: a call can succeed
  * and still return a wrong answer, which fails the run's `correct` flag. */
final class Recorder {
  import Recorder.Failure

  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val attemptedBy = mutable.LinkedHashMap.empty[String, Long]
  val failures = mutable.ArrayBuffer.empty[Failure]
  val checkFailures = mutable.ArrayBuffer.empty[String]

  /** Time `op` as one operation of `kind`. Returns the result and its wall
    * milliseconds, or None when the call threw. */
  def time[A](kind: String, label: String)(op: => A): Option[(A, Double)] = {
    attemptedBy(kind) = attemptedBy.getOrElse(kind, 0L) + 1
    val t0 = System.nanoTime()
    try {
      val r = op
      val ms = (System.nanoTime() - t0) / 1e6
      samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
      Some((r, ms))
    } catch {
      case NonFatal(e) =>
        failures += Failure(kind, label, s"${e.getClass.getName}: ${e.getMessage}")
        None
    }
  }

  /** Record a failed output check; the run then reports `correct = false`. */
  def check(ok: Boolean, what: => String): Unit =
    if (!ok && checkFailures.size < 50) checkFailures += what

  def samplesOf(kind: String): Seq[Double] =
    samples.get(kind).map(_.toSeq).getOrElse(Seq.empty)
  def attempted: Long = attemptedBy.values.sum
  def failed: Long = failures.size.toLong
  def kinds: Seq[String] = attemptedBy.keys.toSeq
}

object Recorder {
  final case class Failure(kind: String, label: String, error: String)
}

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
