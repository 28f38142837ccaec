package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

/** The serving side of ingest_serve: request resolution from seeded
  * draws, the traced per-request call, and the `serving.*` layer numbers. */
final class Serve(ctx: RunCtx, sessions: Sessions) {

  import Serve.Served

  private val served = new ConcurrentLinkedQueue[Served]
  @volatile private var recording = false

  /** Serve `req` as one failure-accounted operation, within a span named
    * after its session kind. Returns the result, or None on failure. */
  def call(req: Request, reqId: Long, phase: String = "timed"): Option[Array[Row]] = {
    val start = System.nanoTime()
    ctx.ops.timed(s"serve.${req.kind}", phase) {
      Trace.span(s"serve.${req.kind}", req = reqId)(sessions.serve(req))
    }.map { case (rows, s) =>
      if (recording) served.add(Served(req.kind, start, s * 1e3, rows.length))
      rows
    }
  }

  /** Check each request's session answer against the fresh, uncompiled
    * path over the same state (outside any timed region). */
  def checkFresh(workload: String, reqs: Seq[Request], state: State): Unit =
    reqs.zipWithIndex.foreach { case (r, i) =>
      val got = call(r, -1L, "check").map(Serve.canon)
      val want = ctx.ops.timed(s"fresh.${r.kind}", "check")(state.fresh(r)).map(x => Serve.canon(x._1))
      ctx.check(s"$workload ${r.kind} request $i equals the fresh path",
        got.isDefined && got == want, s"session $got vs fresh $want")
    }

  /** Record served requests from now on (excludes warm-up and checks). */
  def startRecording(): Unit = recording = true
  def stopRecording(): Unit = recording = false
  def log: Seq[Served] = served.asScala.toSeq

  /** `serving.*` layer metrics over the recorded requests. */
  def layers(compileMs: Double, postWriteMs: Seq[Double]): Seq[Metric] = {
    Trace.settle()
    val reqSpans = Trace.all.filter(s => s.name.startsWith("serve.") && s.req >= 0)
    val recordedFrom = log.map(_.startNs).minOption.getOrElse(Long.MaxValue)
    val spans = reqSpans.filter(_.startNs >= recordedFrom)
    val cs = spans.map(s => s -> Trace.countersOf(s.id))
    val all = Trace.sum(spans)
    val n = math.max(1, log.length)
    val results = log.map(_.rows).sum
    Gen.Kinds.map { k =>
      Metric(s"serving.$k.p50_ms", nz(Stats.median(log.filter(_.kind == k).map(_.ms))), "ms")
    } ++ Seq(
      Metric("serving.driver_ms", nz(Stats.median(cs.map { case (s, c) => s.ms - c.jobMs })), "ms"),
      Metric("serving.job_ms", nz(Stats.median(cs.map(_._2.jobMs))), "ms"),
      Metric("serving.jobs_per_req", all.jobs.toDouble / n, "count"),
      Metric("serving.rows_read_per_result", all.recordsRead.toDouble / math.max(1, results), "ratio"),
      Metric("serving.hit_ratio", log.count(_.rows > 0).toDouble / n, "ratio"),
      Metric("serving.compile_ms", compileMs, "ms"),
      Metric("serving.post_write_ms", nz(Stats.median(postWriteMs)), "ms"))
  }

  private def nz(x: Double): Double = if (x.isNaN) 0.0 else x
}

object Serve {
  /** A served request: kind, start, service time and result rows. */
  final case class Served(kind: String, startNs: Long, ms: Double, rows: Int)

  /** Every id a serving result names: doc_a/doc_b pairs or IVF vec_ids. */
  def ids(rows: Array[Row]): Set[Long] = rows.iterator.flatMap { r =>
    r.schema.fieldNames.iterator.filter(n => n == "doc_a" || n == "doc_b" || n == "vec_id")
      .map(n => r.getAs[Any](n)).collect { case x: Long => x; case x: Int => x.toLong }
  }.toSet

  /** Canonical multiset of a result, for comparing two answers. */
  def canon(rows: Array[Row]): Seq[String] =
    rows.toSeq.map(r => r.toSeq.map(Fingerprint.canon).mkString("|")).sorted

  /** Documents with text, sorted by id: (id, text, source). */
  def docRows(docs: Seq[Row]): IndexedSeq[(Long, String, String)] =
    docs.filter(_.getAs[String]("text") != null)
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"), r.getAs[String]("source")))
      .sortBy(_._1).toIndexedSeq

  /** Embeddings sorted by id: (id, vector, label). */
  def vecRows(emb: Seq[Row]): IndexedSeq[(Long, Array[Float], Int)] =
    emb.map(r => (r.getAs[Long]("vec_id"), r.getAs[Seq[Float]]("embedding").toArray,
      r.getAs[Int]("label"))).sortBy(_._1).toIndexedSeq

  /** Resolve a draw against the given document and vector pools. Novel
    * texts get an id no document has. */
  def resolve(d: Gen.Draw, docs: IndexedSeq[(Long, String, String)],
              vecs: IndexedSeq[(Long, Array[Float], Int)]): Request =
    if (d.kind == "ivf") VecReq(Gen.noisy(vecs(d.rank % vecs.length)._2, d.salt))
    else {
      val (id, text, _) = docs(d.rank % docs.length)
      if (d.novel) TextReq(d.kind, Seq((NovelIdBase + d.i: Any) -> Gen.perturb(text, d.salt)))
      else TextReq(d.kind, Seq((id: Any) -> text))
    }

  val NovelIdBase: Long = 1000000000L
}
