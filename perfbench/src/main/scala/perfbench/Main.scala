package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  * `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --work DIR --fingerprints FILE [--spans FILE]`.
  *
  * Prints a line per metric and check, then, as the last line of standard
  * output, one JSON object: `correct`, `attempted`, `failed` and `metrics`
  * (the end-to-end metrics untraced, the per-layer metrics traced). Exits
  * non-zero, without a result line, if the run could not complete. */
object Main {
  /** The end-to-end metrics every workload reports, with their units. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "op_p75_ms" -> "ms", "throughput_per_s" -> "1/s")

  val Workloads = Seq("batch_mix", "ingest_serve")

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = args.getOrElse(k, sys.error(s"missing --$k"))
    val workload = arg("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toInt
    val trace = arg("trace") == "1"
    val workDir = Paths.get(arg("work")).toAbsolutePath.toString
    sys.addShutdownHook(deleteTree(Paths.get(workDir)))

    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors
    val spark = graft.util.EngineConf.tuned(SparkSession.builder())
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.util.Logs.quietKBoundedWindowWarnings()
    if (trace) Trace.enable(spark.sparkContext)
    val startS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val ctx = new RunCtx(spark, seed, seconds, Paths.get(arg("data")).toAbsolutePath.toString,
      workDir)
    ctx.say(s"workload=$workload seed=$seed seconds=$seconds trace=${if (trace) 1 else 0} " +
      s"cores=$cores")
    val out = workload match {
      case "batch_mix" => BatchMix.run(ctx, readFingerprints(arg("fingerprints")))
      case "ingest_serve" => IngestServe.run(ctx)
    }
    args.get("spans").filter(_ => trace).foreach(p => Trace.writeSpans(Paths.get(p)))
    spark.stop()

    val e2e = Seq(startS + out.setupS, out.opP50Ms, out.opP75Ms, out.throughput)
      .zip(EndToEnd).map { case (v, (n, u)) => Metric(n, v, u) }
    val metrics =
      if (!trace) e2e
      else {
        val got = (out.layers ++ e2e.map(m => m.copy(name = s"trace.${m.name}")))
          .map(m => m.name -> m).toMap
        Layers.All.map { case (n, u) => got.getOrElse(n, Metric(n, 0.0, u)) }
      }
    val checks = ctx.checks
    val ops = ctx.ops
    metrics.foreach(m => ctx.say(f"metric ${m.name} = ${m.value}%.6f ${m.unit}"))
    ops.failures.foreach { case (k, (n, msg)) => ctx.say(s"FAILED $n x $k: $msg") }
    ctx.say(f"failed_share = ${ops.failedShare}%.6f (${ops.failed} of ${ops.attempted})")
    val bad = checks.filterNot(_.ok)
    ctx.say(s"checks: ${checks.length - bad.length} of ${checks.length} passed")
    bad.take(20).foreach(c => ctx.say(s"CHECK FAILED ${c.name}: ${c.detail.take(400)}"))
    val finite = e2e.forall(m => !m.value.isNaN && !m.value.isInfinite && m.value > 0)
    if (!finite) ctx.say(s"no valid end-to-end value: ${e2e.mkString(", ")}")
    val correct = checks.nonEmpty && bad.isEmpty && finite
    val body = metrics.map(m =>
      s""""${m.name}": {"value": ${json(m.value)}, "unit": "${m.unit}"}""").mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${ops.attempted}, "failed": ${ops.failed}, """ +
      s""""metrics": {$body}}""")
    System.out.flush()
  }

  private def json(x: Double): String =
    if (x.isNaN || x.isInfinite) "0" else java.lang.Double.toString(x)

  /** `fingerprints.json`: {"query": {"rows": n, "hash": "hex"}, ...}. */
  def readFingerprints(path: String): Map[String, Fingerprint.Print] = {
    val text = new String(Files.readAllBytes(Paths.get(path)), "UTF-8")
    val entry = """"(q\w+)"\s*:\s*\{([^}]*)\}""".r
    val rows = """"rows"\s*:\s*(\d+)""".r
    val hash = """"hash"\s*:\s*"([0-9a-f]+)"""".r
    entry.findAllMatchIn(text).map { m =>
      val body = m.group(2)
      m.group(1) -> Fingerprint.Print(rows.findFirstMatchIn(body).get.group(1).toLong,
        hash.findFirstMatchIn(body).get.group(1))
    }.toMap
  }

  private def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(x => Files.deleteIfExists(x))
}

/** Writes the oracle SQL of the batch mix for `fingerprints.py`:
  * `perfbench.DumpOracle OUT.json`. */
object DumpOracle {
  def main(args: Array[String]): Unit = {
    val sql = graft.SparkEntry.oracleSql
    val missing = Gen.MixQueries.filterNot(sql.contains)
    require(missing.isEmpty, s"no oracle SQL for ${missing.mkString(", ")}")
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
      case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    val body = Gen.MixQueries.map(n => s"  ${q(n)}: ${q(sql(n))}").mkString("{\n", ",\n", "\n}\n")
    Files.write(Paths.get(args(0)), body.getBytes("UTF-8"))
  }
}
