package perfbench

/** The per-layer metrics every traced run reports, with their units. A
  * layer a workload does not exercise reads 0 there. */
object Layers {
  val All: Seq[(String, String)] =
    Seq("spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count",
      "spark.tasks_per_op" -> "count", "spark.sched_wait_ms_per_op" -> "ms",
      "spark.executor_run_ms_per_op" -> "ms", "spark.shuffle_bytes_per_op" -> "B",
      "spark.spill_bytes" -> "B") ++
    Gen.Groups.flatMap(g => Seq(s"$g.build_s" -> "s", s"$g.plan_s" -> "s",
      s"$g.exec_s" -> "s", s"$g.jobs" -> "count", s"$g.shuffle_mb" -> "MB")) ++
    Seq("batch.pass_s" -> "s") ++
    Gen.Kinds.map(k => s"serving.$k.p50_ms" -> "ms") ++
    Seq("serving.driver_ms" -> "ms", "serving.job_ms" -> "ms",
      "serving.jobs_per_req" -> "count", "serving.rows_read_per_result" -> "ratio",
      "serving.hit_ratio" -> "ratio", "serving.compile_ms" -> "ms",
      "serving.post_write_ms" -> "ms") ++
    Seq("lsh_append", "verified_upsert", "ivf_append", "lsh_delete", "pair_delete",
      "ivf_delete", "compaction").map(n => s"sinks.${n}_ms" -> "ms") ++
    Seq("sinks.jobs_per_batch" -> "count", "sinks.bytes_written_per_doc" -> "B",
      "sinks.state_files" -> "count", "ingest.docs_per_s" -> "1/s",
      "ingest.batch_p50_s" -> "s", "ingest.delete_p50_s" -> "s",
      "ingest.state_bytes_per_doc" -> "B", "jvm.gc_ms" -> "ms") ++
    Main.EndToEnd.map { case (n, u) => s"trace.$n" -> u }

  /** `spark.*` per foreground operation, from the counters of `ops` ops. */
  def spark(c: Counters, ops: Long, unattributedSpill: Long): Seq[Metric] = {
    val n = math.max(1L, ops).toDouble
    Seq(Metric("spark.jobs_per_op", c.jobs / n, "count"),
      Metric("spark.stages_per_op", c.stages / n, "count"),
      Metric("spark.tasks_per_op", c.tasks / n, "count"),
      Metric("spark.sched_wait_ms_per_op", c.schedWaitMs / n, "ms"),
      Metric("spark.executor_run_ms_per_op", c.runMs / n, "ms"),
      Metric("spark.shuffle_bytes_per_op", c.shuffleBytes / n, "B"),
      Metric("spark.spill_bytes", (c.spillBytes + unattributedSpill).toDouble, "B"))
  }
}
