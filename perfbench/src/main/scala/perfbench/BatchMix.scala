package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** batch_mix: a closed loop with one client. Each pass runs the fixed
  * 24-query mix ([[Gen.Mix]]) in a seeded order; one untimed pass warms the
  * JVM, codegen and lazy fixtures first. Every execution's result is
  * fingerprinted against the DuckDB oracle outside the timed region. */
object BatchMix {

  def run(ctx: RunCtx, expected: Map[String, Fingerprint.Print]): Outcome = {
    val spark = ctx.spark
    val dir = ctx.dataDir + "/sf0.01"
    val registry = graft.SparkEntry.queries
    var execN = 0L

    /** One execution: build, plan and collect, timed as one operation. The
      * result check and cache reset run after the clock stops. */
    def execute(name: String, phase: String): Option[Double] = {
      val g = Gen.groupOf(name)
      execN += 1
      val res = ctx.ops.timed(name, phase) {
        Trace.span("batch.query", req = execN) {
          val df = Trace.span(s"batch.$g.build")(registry(name)(spark, dir))
          Trace.span(s"batch.$g.plan")(df.queryExecution.executedPlan)
          val rows: Array[Row] = Trace.span(s"batch.$g.exec")(df.collect())
          (df.schema, rows)
        }
      }
      spark.catalog.clearCache()
      res.map { case ((schema: StructType, rows), s) =>
        val got = Fingerprint.of(schema, rows)
        ctx.check(s"fingerprint $name", expected.get(name).contains(got),
          s"$name: got $got, expected ${expected.get(name)}")
        s
      }
    }

    // ---- setup: the untimed warm pass -----------------------------------
    val w0 = System.nanoTime()
    Gen.passOrder(ctx.seed, -1).foreach(execute(_, "setup"))
    val setupS = (System.nanoTime() - w0) / 1e9

    // ---- timed passes ---------------------------------------------------
    val gc0 = Jvm.gcMs
    val t0 = System.nanoTime()
    var pass = 0
    val passS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val samples = scala.collection.mutable.ArrayBuffer.empty[Double]
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (pass == 0 || elapsed + Stats.median(passS.toSeq) <= ctx.seconds) {
      val p0 = System.nanoTime()
      Gen.passOrder(ctx.seed, pass).foreach { q =>
        execute(q, "timed").foreach { s =>
          samples += s
          ctx.say(f"query $q ${s * 1e3}%.1f ms")
        }
      }
      passS += (System.nanoTime() - p0) / 1e9
      pass += 1
    }
    val gcMs = Jvm.gcMs - gc0
    val done = samples.length
    ctx.say(f"batch_mix: $pass pass(es), median pass ${Stats.median(passS.toSeq)}%.3f s, " +
      s"$done timed executions")

    // ---- per-layer ------------------------------------------------------
    Trace.settle()
    val timed = Trace.all.filter(_.startNs >= t0)
    def spansOf(n: String) = timed.filter(_.name == n)
    val groupLayers = Gen.Groups.flatMap { g =>
      val c = Trace.sum(Seq("build", "plan", "exec").flatMap(p => spansOf(s"batch.$g.$p")))
      Seq("build", "plan", "exec").map { p =>
        Metric(s"$g.${p}_s", spansOf(s"batch.$g.$p").map(_.ms).sum / 1e3 / pass, "s")
      } ++ Seq(
        Metric(s"$g.jobs", c.jobs.toDouble / pass, "count"),
        Metric(s"$g.shuffle_mb", c.shuffleBytes / 1e6 / pass, "MB"))
    }
    val all = Trace.sum(timed.filter(_.name.startsWith("batch.")))
    Outcome(
      setupS = setupS,
      opP50Ms = Stats.median(samples.toSeq) * 1e3,
      opP75Ms = Stats.quantile(samples.toSeq, 0.75) * 1e3,
      throughput = done / samples.sum,
      layers = Layers.spark(all, done, Trace.unattributed.spillBytes) ++ groupLayers ++ Seq(
        Metric("batch.pass_s", Stats.median(passS.toSeq), "s"),
        Metric("jvm.gc_ms", gcMs, "ms")))
  }
}
