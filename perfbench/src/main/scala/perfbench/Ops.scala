package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** Order statistics over timing samples. */
object Stats {
  /** Linear-interpolated quantile, `q` in [0, 1]; NaN on no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Failure accounting for every timed operation of a run.
  *
  * An operation that throws is counted as attempted and failed, keyed by
  * its kind and exception class, and contributes NO timing sample: the
  * caller only ever sees a duration for an operation that returned. Setup
  * and warm-up operations go through the same path (`phase = "setup"`), so
  * a failure there is reported instead of swallowed. */
final class Ops {
  private val attemptedN = new AtomicLong
  private val failedN = new AtomicLong
  private val byClass = new ConcurrentHashMap[String, AtomicLong]
  private val firstMessage = new ConcurrentHashMap[String, String]

  /** Run `body`; on success return its value and wall time in seconds. */
  def timed[T](kind: String, phase: String = "timed")(body: => T): Option[(T, Double)] = {
    attemptedN.incrementAndGet()
    val t0 = System.nanoTime()
    try {
      val v = body
      Some((v, (System.nanoTime() - t0) / 1e9))
    } catch {
      case e: InterruptedException => throw e
      case e: Throwable =>
        failedN.incrementAndGet()
        val key = s"$phase:$kind:${e.getClass.getName}"
        byClass.computeIfAbsent(key, _ => new AtomicLong).incrementAndGet()
        firstMessage.putIfAbsent(key, String.valueOf(e.getMessage).take(300))
        None
    }
  }

  def attempted: Long = attemptedN.get()
  def failed: Long = failedN.get()
  def failedShare: Double = if (attempted == 0) 0.0 else failed.toDouble / attempted

  /** (phase:kind:exception class) -> (count, first message). */
  def failures: Map[String, (Long, String)] =
    byClass.asScala.map { case (k, n) => k -> ((n.get(), firstMessage.get(k))) }.toMap
}
