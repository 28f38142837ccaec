package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

final case class Metric(name: String, value: Double, unit: String)
final case class Check(name: String, ok: Boolean, detail: String)

/** What a workload reports: the end-to-end numbers every workload defines,
  * and its per-layer numbers (read only from traced runs). */
final case class Outcome(
    setupS: Double,     // state build, session compile and warm pass, this run's median
    opP50Ms: Double,    // foreground operation latency
    opP75Ms: Double,
    throughput: Double, // foreground work completed per second
    layers: Seq[Metric])

/** Everything a workload needs for one run. */
final class RunCtx(val spark: SparkSession, val seed: Long, val seconds: Int,
                   val dataDir: String, val workDir: String) {
  val ops = new Ops
  private val checkLog = new ConcurrentLinkedQueue[Check]

  /** Record an output check (always outside a timed region). */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    checkLog.add(Check(name, ok, if (ok) "" else detail))
  def checks: Seq[Check] = checkLog.asScala.toSeq

  def say(msg: String): Unit = println(s"[perfbench] $msg")
}

/** GC time of this JVM, summed over collectors, in ms. */
object Jvm {
  def gcMs: Double = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum.toDouble
}
