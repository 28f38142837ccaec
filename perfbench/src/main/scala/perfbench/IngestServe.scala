package perfbench

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.XXH64

import graft.sources.Readers
import graft.streaming.Sinks

/** ingest_serve: the state starts from a seeded [[Gen.InitialShare]] of the
  * corpus. One writer makes one write per [[Gen.WriteSeconds]] of the run
  * length, folding the rest of the corpus in seeded batches through the
  * sink chain (corpus, bands + candidate feed, verified pairs, IVF assign);
  * every [[Gen.DeleteEvery]]-th write, from the second on, is a seeded
  * delete cascade instead, and compaction runs on a [[Sinks.Maintenance]]
  * cadence. After each write, one client sends [[Gen.ProbesPerWrite]]
  * probes to the four sessions, favouring recently ingested documents; the
  * first probe of each session after a write pays its recompile.
  *
  * Writes and probes take turns, on a fixed schedule, because a write takes
  * seconds: run concurrently, or against a deadline, the writer and the
  * probes split the 4 cores differently in every run, which moves the
  * write rate and the probe latency by more than the benchmark's bounds.
  *
  * Checks: no probe that starts after a cascade returned names a deleted
  * id; once writes stop, a seeded sample of requests equals the fresh path;
  * and the final verified table equals one-shot `Dedup.minhashLsh` over the
  * final corpus. */
object IngestServe {
  /** Requests per kind checked against the fresh path once writes stop. */
  val ChecksPerKind = 2

  def run(ctx: RunCtx): Outcome = {
    val spark = ctx.spark
    val (docs, emb) = State.inputs(spark, ctx.dataDir)

    // ---- seeded split: initial state and append batches ----------------
    // Spark's xxhash64(id, seed): the seed is hashed as a second column.
    def initial(id: Long) = Math.floorMod(XXH64.hashLong(ctx.seed, XXH64.hashLong(id, 42L)),
      1000L) < (Gen.InitialShare * 1000).toLong
    val allDocs = docs.collect().toSeq.sortBy(_.getAs[Long]("doc_id"))
    val allEmb = emb.collect().toSeq.sortBy(_.getAs[Long]("vec_id"))
    val (docsInit, docsRest) = allDocs.partition(r => initial(r.getAs[Long]("doc_id")))
    val (embInit, embRest) = allEmb.partition(r => initial(r.getAs[Long]("vec_id")))
    val rng = new Random(Gen.mix(ctx.seed, 10))
    val restDocs = rng.shuffle(docsRest)
    val restEmb = embRest.map(r => r.getAs[Long]("vec_id") -> r).toMap
    val labels = allEmb.map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("label")).toMap
    val batches: Seq[Seq[Row]] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Seq[Row]]
      var rest = restDocs
      while (rest.nonEmpty) {
        val n = Gen.BatchDocsMin + rng.nextInt(Gen.BatchDocsMax - Gen.BatchDocsMin + 1)
        out += rest.take(n); rest = rest.drop(n)
      }
      out.toSeq
    }
    // probe priority of every id: a seeded permutation, so the hot set
    // follows the seed and stays put as the live set changes
    val priority = new Random(Gen.mix(ctx.seed, 11)).shuffle(
      allDocs.map(_.getAs[Long]("doc_id"))).zipWithIndex.toMap
    def byPriority[T](xs: Iterable[T])(id: T => Long) = xs.toIndexedSeq.sortBy(x => priority(id(x)))

    // ---- setup: build state, compile sessions, warm each kind -----------
    val initDocs = Serve.docRows(docsInit)
    val initVecs = Serve.vecRows(embInit)
    val warm = Gen.draws(ctx.seed, 12, 1, 2 * Gen.DeckSize, 0.0, zipfN = initDocs.length)
      .map(Serve.resolve(_, byPriority(initDocs)(_._1), byPriority(initVecs)(_._1)))
    val setup0 = System.nanoTime()
    val (state, serve, compile) = ctx.ops.timed("setup.state", "setup") {
      val s = new State(spark, s"${ctx.workDir}/ingest_serve")
      s.build(spark.createDataFrame(docsInit.asJava, docs.schema),
        spark.createDataFrame(embInit.asJava, emb.schema))
      val (sessions, compileMs) = s.sessions()
      val sv = new Serve(ctx, sessions)
      warm.zipWithIndex.foreach { case (r, i) => sv.call(r, -1L - i, "setup") }
      (s, sv, compileMs)
    }.map(_._1).getOrElse(sys.error("ingest_serve: no state could be built"))
    val setupS = (System.nanoTime() - setup0) / 1e9
    ctx.say(f"ingest_serve: state built, sessions compiled and warmed in $setupS%.1f s")

    // ---- live pools the writes change and the probes draw from ----------
    var liveDocs = byPriority(initDocs)(_._1)
    var liveVecs = byPriority(initVecs)(_._1)
    var recent = IndexedSeq.empty[(Long, String, String)]
    val deletions = scala.collection.mutable.ArrayBuffer.empty[(Long, Set[Long])] // (done ns, victims)
    val appendS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val deleteS = scala.collection.mutable.ArrayBuffer.empty[Double]
    var docsIn = 0L

    def compaction(m: Sinks.Maintenance) =
      Sinks.Maintenance(m.everyNBatches, (s, b) => Trace.span("sink.compaction")(m.run(s, b)))
    val bandsCompaction = compaction(Sinks.Maintenance.compaction(state.bands, Seq("source"),
      Seq("band_idx", "band_key"), Gen.CompactEvery))
    val ivfCompaction = compaction(Sinks.Maintenance.compaction(state.assigned, Seq("label"),
      Seq("centroid_id"), Gen.CompactEvery))

    def append(batch: Seq[Row], batchId: Long): Unit = {
      val bdf = spark.createDataFrame(batch.asJava, docs.schema)
      val vecs = batch.flatMap(r => restEmb.get(r.getAs[Long]("doc_id")))
      Trace.span("write.append", req = batchId) {
        Trace.span("sink.corpus_upsert")(Sinks.keyedUpsert(state.corpus, "doc_id")(bdf, batchId))
        val delta = Trace.span("sink.lsh_append")(Sinks.lshIndexAppendPartitioned(state.bands,
          "doc_id", "text", State.ShingleK, State.NumHashes, State.NumBands,
          partitionCols = Seq("source"), pairsPath = Some(state.pairs),
          maintenance = Seq(bandsCompaction))(bdf, batchId))
        Trace.span("sink.verified_upsert")(Sinks.verifiedPairsUpsert(state.verified,
          Readers.table(spark, state.corpus), "doc_id", "text", State.ShingleK,
          State.Threshold)(delta, batchId))
        if (vecs.nonEmpty) Trace.span("sink.ivf_append")(Sinks.indexAppendPartitioned(
          state.assigned, Readers.table(spark, state.centroids), "vec_id", "embedding",
          Seq("label"), maintenance = Seq(ivfCompaction))(
          spark.createDataFrame(vecs.asJava, emb.schema), batchId))
      }
    }

    def cascade(victims: Seq[(Long, String, String)], writeId: Long): Unit = {
      import spark.implicits._
      val v = victims.map(x => (x._1, x._3)).toDF("doc_id", "source")
      val vv = victims.flatMap(x => labels.get(x._1).map(x._1 -> _)).toDF("vec_id", "label")
      Trace.span("write.delete", req = writeId) {
        Trace.span("sink.lsh_delete")(Sinks.lshIndexDelete(state.bands, v, "doc_id",
          partitionCols = Seq("source"), pairTables = Seq(state.pairs)))
        Trace.span("sink.pair_delete")(Sinks.pairFeedDelete(state.verified, v))
        Trace.span("sink.ivf_delete")(Sinks.indexDelete(state.assigned, vv, "vec_id",
          partitionCols = Seq("label")))
        Trace.span("sink.corpus_delete")(Sinks.indexDelete(state.corpus, v, "doc_id"))
      }
    }

    // ---- timed: rounds of one write, then a burst of probes ---------------
    val writes = math.max(2, math.round(ctx.seconds / Gen.WriteSeconds).toInt)
    val victimRng = new Random(Gen.mix(ctx.seed, 13))
    val draws = Gen.draws(ctx.seed, 14, writes, Gen.ProbesPerWrite, Gen.RecentShare,
      zipfN = initDocs.length)
    val seen = scala.collection.mutable.Map.empty[String, Int]
    val postWrite = scala.collection.mutable.ArrayBuffer.empty[Double]
    val lat = scala.collection.mutable.ArrayBuffer.empty[Double]
    val probes = scala.collection.mutable.ArrayBuffer.empty[(Long, Set[Long])] // (start ns, ids)
    def probe(d: Gen.Draw, written: Int): Unit = {
      val req =
        if (d.recent && recent.nonEmpty && d.kind != "ivf")
          Serve.resolve(d.copy(rank = d.rank % recent.length), recent, liveVecs)
        else Serve.resolve(d, liveDocs, liveVecs)
      val first = written > seen.getOrElse(req.kind, 0)
      seen(req.kind) = written
      val start = System.nanoTime()
      serve.call(req, d.i).foreach { rows =>
        val ms = (System.nanoTime() - start) / 1e6
        lat += ms
        if (first) postWrite += ms
        ctx.say(f"probe ${req.kind} write $written${if (first) " first" else ""}" +
          f"${if (d.novel) " novel" else ""}${if (d.recent) " recent" else ""} $ms%.1f ms")
        probes += ((start, Serve.ids(rows)))
      }
    }
    val gc0 = Jvm.gcMs
    val t0 = System.nanoTime()
    serve.startRecording()
    var next = 0
    for (w <- 0 until writes if next < batches.length) {
      if (w % Gen.DeleteEvery == 1) {
        val victims = victimRng.shuffle(liveDocs.sortBy(_._1)).take(Gen.DeleteVictims)
        val ids = victims.map(_._1).toSet
        liveDocs = liveDocs.filterNot(d => ids(d._1))
        liveVecs = liveVecs.filterNot(d => ids(d._1))
        recent = recent.filterNot(d => ids(d._1))
        ctx.ops.timed("write.delete")(cascade(victims, w)).foreach { case (_, s) =>
          deleteS += s
          deletions += ((System.nanoTime(), ids))
        }
      } else {
        val batch = batches(next)
        val batchId = 2L + next // the initial state is batches 0 and 1
        next += 1
        ctx.ops.timed("write.append")(append(batch, batchId)).foreach { case (_, s) =>
          appendS += s
          docsIn += batch.length
          val added = Serve.docRows(batch)
          liveDocs = byPriority(liveDocs ++ added)(_._1)
          liveVecs = byPriority(liveVecs ++ Serve.vecRows(batch.flatMap(r =>
            restEmb.get(r.getAs[Long]("doc_id")))))(_._1)
          recent = added
        }
      }
      (0 until Gen.ProbesPerWrite).foreach(j => probe(draws(w * Gen.ProbesPerWrite + j), w + 1))
    }
    serve.stopRecording()
    val gcMs = Jvm.gcMs - gc0
    val apS = appendS.toSeq
    val delS = deleteS.toSeq
    ctx.say(f"ingest_serve: ${apS.length} appends ($docsIn docs), ${delS.length} deletes, " +
      f"${lat.length} probes p50 ${Stats.median(lat.toSeq)}%.1f ms")

    // ---- checks ---------------------------------------------------------
    val stale = probes.toSeq.flatMap { case (start, ids) =>
      deletions.filter(_._1 < start).flatMap(_._2.intersect(ids))
    }
    ctx.check("no probe after a delete returns a deleted id", stale.isEmpty,
      s"deleted ids served: ${stale.distinct.take(10)}")
    ctx.check("ingest_serve ran deletes and appends", apS.nonEmpty && delS.nonEmpty,
      s"${apS.length} appends, ${delS.length} deletes")
    serve.checkFresh("ingest_serve",
      Gen.Kinds.flatMap(k => draws.filter(_.kind == k).take(ChecksPerKind))
        .map(Serve.resolve(_, liveDocs, liveVecs)), state)
    val verified = ctx.ops.timed("check.verified", "check")(Serve.canon(state.verifiedPairs()))
    val oneShot = ctx.ops.timed("check.one_shot", "check")(Serve.canon(state.oneShotPairs()))
    ctx.check("verified table equals one-shot minhashLsh over the final corpus",
      verified.isDefined && verified.map(_._1) == oneShot.map(_._1),
      s"verified ${verified.map(_._1.length)} pairs vs one-shot ${oneShot.map(_._1.length)}")
    val (bytes, files) = state.disk()
    val live = Readers.table(spark, state.corpus).count()

    // ---- per-layer ------------------------------------------------------
    Trace.settle()
    val timedSpans = Trace.all.filter(_.startNs >= t0)
    def sinkMs(n: String) = {
      val xs = timedSpans.filter(_.name == s"sink.$n").map(_.ms)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    val sinkC = Trace.sum(timedSpans.filter(_.name.startsWith("sink.")))
    val fg = Trace.sum(timedSpans.filter(s => s.name.startsWith("serve.") && s.req >= 0))
    val docsPerS = docsIn / apS.sum
    Outcome(
      setupS = setupS,
      opP50Ms = Stats.median(lat.toSeq),
      opP75Ms = Stats.quantile(lat.toSeq, 0.75),
      throughput = docsPerS,
      layers = Layers.spark(fg, serve.log.length, Trace.unattributed.spillBytes) ++
        serve.layers(compile.values.sum, postWrite.toSeq) ++
        Seq("lsh_append", "verified_upsert", "ivf_append", "lsh_delete", "pair_delete",
          "ivf_delete", "compaction").map(n => Metric(s"sinks.${n}_ms", sinkMs(n), "ms")) ++
        Seq(
          Metric("sinks.jobs_per_batch", sinkC.jobs.toDouble / math.max(1, apS.length + delS.length), "count"),
          Metric("sinks.bytes_written_per_doc", sinkC.bytesWritten.toDouble / math.max(1L, docsIn), "B"),
          Metric("sinks.state_files", files.toDouble, "count"),
          Metric("ingest.docs_per_s", docsPerS, "1/s"),
          Metric("ingest.batch_p50_s", Stats.median(apS), "s"),
          Metric("ingest.delete_p50_s", Stats.median(delS), "s"),
          Metric("ingest.state_bytes_per_doc", bytes.toDouble / math.max(1L, live), "B"),
          Metric("jvm.gc_ms", gcMs, "ms")))
  }
}
