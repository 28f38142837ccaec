package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}

import graft.engine.{IvfIndex, Serving}
import graft.functions.VectorFunctions.cosineSim
import graft.ops.Dedup
import graft.sources.{Readers, Writers}
import graft.streaming.Sinks

/** The maintained serving state, built through the engine's streaming
  * sinks, and the four compiled serving sessions over it.
  *
  * Tables under `dir`: `corpus` (the live documents), `bands` (MinHash-LSH
  * bands, partitioned by `source`), `pairs` (the candidate-pair feed),
  * `verified` (exact-Jaccard near-dup pairs), `centroids` and `assigned`
  * (the IVF index, partitioned by `label`). */
final class State(spark: SparkSession, val dir: String) {
  import State._
  val corpus = s"$dir/corpus"
  val bands = s"$dir/bands"
  val pairs = s"$dir/pairs"
  val verified = s"$dir/verified"
  val centroids = s"$dir/centroids"
  val assigned = s"$dir/assigned"
  val tables: Seq[String] = Seq(corpus, bands, pairs, verified, centroids, assigned)

  private def table(p: String): DataFrame = Readers.table(spark, p)

  /** Build from `docs` (doc_id, text, source, ...) and `emb` (vec_id,
    * embedding, label) in two appends, as an ingest stream would. */
  def build(docs: DataFrame, emb: DataFrame): Unit = {
    Trace.span("setup.corpus")(Sinks.keyedUpsert(corpus, "doc_id")(docs, 0L))
    Seq(0, 1).foreach { i =>
      val part = docs.filter(pmod(col("doc_id"), lit(2)) === i)
      val delta = Trace.span("sink.lsh_append")(
        Sinks.lshIndexAppendPartitioned(bands, "doc_id", "text", ShingleK, NumHashes,
          NumBands, partitionCols = Seq("source"), pairsPath = Some(pairs))(part, i.toLong))
      Trace.span("sink.verified_upsert")(
        Sinks.verifiedPairsUpsert(verified, table(corpus), "doc_id", "text", ShingleK,
          Threshold)(delta, i.toLong))
    }
    val idx = Trace.span("setup.ivf_build")(IvfIndex.build(emb, "vec_id", "embedding", NCentroids))
    Trace.span("setup.ivf_centroids")(Writers.swapWrite(idx.centroids, centroids))
    Trace.span("sink.ivf_append")(Sinks.indexAppendPartitioned(assigned, table(centroids),
      "vec_id", "embedding", Seq("label"))(emb, 0L))
  }

  /** The four generation-aware sessions, with their compile times in ms. */
  def sessions(): (Sessions, Map[String, Double]) = {
    def timedMs[T](kind: String)(f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val v = Trace.span(s"setup.compile.$kind")(f)
      (v, (System.nanoTime() - t0) / 1e6)
    }
    val (lsh, lshMs) = timedMs("lsh")(new Serving.LshProbeSession(table(bands), LongType,
      ShingleK, NumHashes, NumBands, standingPath = Some(bands)))
    val (served, servedMs) = timedMs("served")(new Serving.LshServedProbeSession(
      table(pairs), table(bands), table(corpus), "doc_id", "text", LongType,
      ShingleK, NumHashes, NumBands, feedPath = Some(pairs), corpusPath = Some(corpus),
      bandsPath = Some(bands)))
    val (ivf, ivfMs) = timedMs("ivf")(new Serving.IvfServeSession(table(assigned),
      table(centroids), topK, statePaths = Some((assigned, centroids))))
    val (ver, verMs) = timedMs("verified")(new Serving.VerifiedProbeSession(
      table(verified), table(bands), table(corpus), "doc_id", "text", LongType,
      ShingleK, NumHashes, NumBands, Threshold, verifiedPath = Some(verified),
      corpusPath = Some(corpus), bandsPath = Some(bands)))
    (Sessions(lsh, served, ivf, ver),
      Map("lsh" -> lshMs, "served" -> servedMs, "ivf" -> ivfMs, "verified" -> verMs))
  }

  /** The fresh-path answer to a request, for output checks. */
  def fresh(req: Request): Array[Row] = req match {
    case TextReq(kind, docs) if kind == "lsh" || kind == "served" =>
      Dedup.probeNearDupsLocal(table(bands), docs, LongType, ShingleK, NumHashes, NumBands)
        .collect()
    case TextReq(_, docs) =>
      val reqDf = spark.createDataFrame(
        java.util.Arrays.asList(docs.map { case (id, t) => Row(id, t) }: _*),
        StructType(Seq(StructField("doc_id", LongType), StructField("text",
          org.apache.spark.sql.types.StringType))))
      Dedup.probeNearDupsVerifiedServed(table(verified), table(bands), table(corpus), reqDf,
        "doc_id", "text", ShingleK, NumHashes, NumBands, Threshold).collect()
    case VecReq(q) =>
      val qDf = spark.createDataFrame(java.util.Arrays.asList(Row(q.toSeq)),
        StructType(Seq(StructField("qvec", ArrayType(FloatType)))))
      topK(IvfIndex.probePoint(table(assigned), table(centroids), qDf, Gen.NProbe), qDf)
        .collect()
  }

  /** One-shot near-dup pairs over the current corpus. */
  def oneShotPairs(): Array[Row] =
    Dedup.minhashLsh(table(corpus), "doc_id", "text", ShingleK, NumHashes, NumBands, Threshold)
      .select("doc_a", "doc_b", "jaccard").collect()

  def verifiedPairs(): Array[Row] =
    table(verified).select("doc_a", "doc_b", "jaccard").collect()

  /** Bytes and data files on disk across every state table. */
  def disk(): (Long, Long) = {
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    tables.foldLeft((0L, 0L)) { case ((b, f), t) =>
      val p = new org.apache.hadoop.fs.Path(t)
      if (!fs.exists(p)) (b, f)
      else {
        val it = fs.listFiles(p, true)
        var bytes = b; var files = f
        while (it.hasNext) {
          val s = it.next()
          if (s.getPath.getName.endsWith(".parquet")) { bytes += s.getLen; files += 1 }
        }
        (bytes, files)
      }
    }
  }
}

object State {
  val ShingleK = 3
  val NumHashes = 16
  val NumBands = 4
  val Threshold = 0.5
  val NCentroids = 8

  /** The IVF request's scoring and top-k, compiled into the session. */
  val topK: (DataFrame, DataFrame) => DataFrame = (pruned, qRel) =>
    pruned.crossJoin(broadcast(qRel))
      .withColumn("score", round(cosineSim(col("embedding"), col("qvec")), 4))
      .select(col("vec_id"), col("centroid_id"), col("score"))
      .orderBy(desc("score"), col("vec_id"))
      .limit(10)

  /** Documents and embeddings of the serving corpus. The IVF partition
    * `label` is the vector id's parity. */
  def inputs(spark: SparkSession, dataDir: String): (DataFrame, DataFrame) = {
    val docs = spark.read.parquet(s"$dataDir/sf0.1/documents.parquet")
    val emb = spark.read.parquet(s"$dataDir/sf0.1/embeddings.parquet")
      .select(col("vec_id"), col("embedding"), pmod(col("vec_id"), lit(2)).cast("int").as("label"))
    (docs, emb)
  }
}

final case class Sessions(lsh: Serving.LshProbeSession, served: Serving.LshServedProbeSession,
                          ivf: Serving.IvfServeSession, verified: Serving.VerifiedProbeSession) {
  /** Serve one request through its session kind. */
  def serve(req: Request): Array[Row] = req match {
    case TextReq("lsh", docs) => lsh.probeRows(docs)
    case TextReq("served", docs) => served.serveRows(docs)
    case TextReq(_, docs) => verified.serveRows(docs)
    case VecReq(q) => ivf.serveRows(q, Gen.NProbe)
  }
}

sealed trait Request { def kind: String }
final case class TextReq(kind: String, docs: Seq[(Any, String)]) extends Request
final case class VecReq(q: Array[Float]) extends Request { def kind: String = "ivf" }
