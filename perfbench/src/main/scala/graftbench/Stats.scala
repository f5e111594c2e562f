package graftbench

import scala.util.control.NonFatal

/** Order statistics for latency samples. */
object Stats {

  /** Median; the mean of the two middle values on an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Harrell–Davis estimate of the p-quantile: a Beta-weighted average
    * of all order statistics. Latencies of a mixed op sequence cluster by
    * op type; the plain sample median then jumps between clusters from
    * run to run, while this estimate moves smoothly. Infinite (failed)
    * samples make it infinite. */
  def hdQuantile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty && p > 0 && p < 1, s"quantile $p of ${xs.length} samples")
    val s = xs.sorted
    val n = s.length
    if (n == 1) return s.head
    val a = p * (n + 1)
    val b = (1 - p) * (n + 1)
    def cdf(x: Double) = org.apache.commons.math3.special.Beta.regularizedBeta(x, a, b)
    (1 to n).map { i =>
      val w = cdf(i.toDouble / n) - cdf((i - 1).toDouble / n)
      if (w == 0) 0.0 else w * s(i - 1)
    }.sum
  }

  def mean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "mean of no samples")
    xs.sum / xs.length
  }

  /** Nearest-rank percentile: the smallest sample with at least p% of
    * the samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty && p > 0 && p <= 100, s"percentile $p of ${xs.length} samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1))
  }

  /** Percentiles reported for a tail, highest first. */
  val TailLevels: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** The highest tail percentile that has at least ten samples beyond
    * it (p90 needs 100 samples, p99 needs 1000), if any. */
  def supportedTail(n: Int): Option[Double] =
    TailLevels.find(p => n * (100.0 - p) / 100.0 >= 10.0 - 1e-9)
}

/** One timed client call. A call that threw is `failed`; its latency
  * counts as missed (infinite) in every percentile. */
final case class Sample(op: String, kind: Sample.Kind, ms: Double, failed: Boolean) {
  def latency: Double = if (failed) Double.PositiveInfinity else ms
}

object Sample {
  sealed trait Kind
  case object Read extends Kind
  case object Write extends Kind
  /** Index builds and other set-up calls. */
  case object Build extends Kind
}

/** Times client calls and keeps every sample in memory. */
final class Recorder(tracer: Tracer) {
  private val buf = scala.collection.mutable.ArrayBuffer.empty[Sample]
  private val errors = scala.collection.mutable.ArrayBuffer.empty[String]
  private var wrong = 0

  def samples: Seq[Sample] = buf.toSeq
  def errorMessages: Seq[String] = errors.toSeq

  /** Runs `f` as one call of `op`; None when it threw. */
  def call[A](op: String, kind: Sample.Kind)(f: => A): Option[A] = {
    val span = tracer.begin(op)
    val t0 = System.nanoTime()
    val out =
      try Some(f)
      catch {
        case NonFatal(e) =>
          errors += s"$op threw ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
          None
      }
    val ms = (System.nanoTime() - t0) / 1e6
    tracer.end(span)
    buf += Sample(op, kind, ms, failed = out.isEmpty)
    out
  }

  /** Records a wrong answer found by a check. */
  def wrongAnswer(op: String, why: String): Unit = {
    wrong += 1
    errors += s"$op wrong: $why".take(400)
  }

  def attempted: Int = buf.length
  def failed: Int = buf.count(_.failed) + wrong

  def of(kind: Sample.Kind): Seq[Sample] = buf.filter(_.kind == kind).toSeq
}
