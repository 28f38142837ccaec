package perfbench

import scala.util.Random

/** Every input property the workloads vary, with its value, and the seeded
  * draws that turn a seed into inputs. The same seed gives the same inputs;
  * the engine only ever sees the drawn payloads. */
object Gen {

  // ---- batch_mix -------------------------------------------------------
  /** The fixed 24-query mix, by group. */
  val Mix: Seq[(String, Seq[String])] = Seq(
    "dedup" -> Seq("q20_minhash_lsh", "q21_jaccard_pairs", "q123_canonical_selection",
      "q162_training_manifest", "q189_prefix_filter_join", "q267_simhash_recall"),
    "graph" -> Seq("q80_triangle_counts", "q81_bfs_distances", "q131_label_prop",
      "q199_walk_pmi"),
    "vector" -> Seq("q15_knn_cosine", "q61_ann_rule", "q93_maxsim", "q98_ivf_multiprobe",
      "q166_knn_label_eval", "q251_hubness_ivf"),
    "search_text" -> Seq("q47_domain_search", "q62_bm25", "q115_fused_search",
      "q286_distinct_ngrams"),
    "relational" -> Seq("q01_pruned_scan", "q03_join_multiway", "q06_topk_orders",
      "q66_skew_join"))
  val Groups: Seq[String] = Mix.map(_._1)
  val groupOf: Map[String, String] = Mix.flatMap { case (g, qs) => qs.map(_ -> g) }.toMap
  val MixQueries: Seq[String] = Mix.flatMap(_._2)

  /** Query order of pass `pass` (pass -1 is the untimed warm pass). */
  def passOrder(seed: Long, pass: Int): Seq[String] =
    new Random(mix(seed, 0x6a09e667L + pass)).shuffle(MixQueries)

  // ---- serving payloads and writes (ingest_serve) --------------------
  // These values are assumptions: the repo holds no usage trace of the
  // reference system to derive a request mix, skew or write cadence from.
  // README.md lists, for each, the metrics that depend on it.

  /** Session kinds and their requests in every deck of [[DeckSize]]. */
  val KindDeck: Seq[(String, Int)] = Seq("lsh" -> 3, "served" -> 3, "ivf" -> 2, "verified" -> 2)
  val DeckSize: Int = KindDeck.map(_._2).sum
  val Kinds: Seq[String] = KindDeck.map(_._1)
  /** Zipf exponent of probed doc and vector ids (rank 1 = hottest). */
  val ZipfS = 1.1
  /** Share of text requests that carry a novel, perturbed text. */
  val NovelShare = 0.2
  /** Share of a novel text's tokens replaced by other corpus tokens. */
  val PerturbShare = 0.25
  /** Std-dev of the Gaussian noise added to each IVF query component. */
  val IvfNoise = 0.05
  /** IVF probe width. */
  val NProbe = 2

  /** Share of documents (and their embeddings) in the initial state. */
  val InitialShare = 0.6
  /** Bounds of an append batch's size, in documents (uniform). */
  val BatchDocsMin = 58
  val BatchDocsMax = 62
  /** Every k-th write, starting with the second, is a delete cascade
    * instead of an append. */
  val DeleteEvery = 3
  /** Victims of one delete cascade, drawn uniformly from live docs. */
  val DeleteVictims = 5
  /** Writes per run: one per this many seconds of `--seconds`, a fixed
    * schedule so every run of a length does the same writes. */
  val WriteSeconds = 5.0
  /** Compaction cadence of the partitioned sinks, in batch ids: batches
    * 2, 5, 8, ... compact. The initial state is batches 0 and 1, so the
    * first append of every run compacts. */
  val CompactEvery = 3
  /** Probes after each write, whole decks: the first probe of each of the
    * four sessions after a write recompiles it, so 4 in 40 are recompiles
    * and `op_p75_ms` falls well inside the ordinary probes. */
  val ProbesPerWrite = 40
  /** Share of text probes after a write that target the latest batch. */
  val RecentShare = 0.5

  /** One request, drawn before the run starts. The text and vector are
    * resolved against the live corpus when it is sent. */
  final case class Draw(i: Int, kind: String, rank: Int, novel: Boolean, recent: Boolean,
                        salt: Long)

  /** `windows` windows of `perWindow` seeded draws. Every window has the
    * same make-up: each deck of [[DeckSize]] holds the kinds in their
    * [[KindDeck]] counts, and exactly [[NovelShare]] and `recentShare` of a
    * window's text draws are novel and recent. The seed decides their
    * order, the probed ranks and the payloads. */
  def draws(seed: Long, stream: Long, windows: Int, perWindow: Int, recentShare: Double,
            zipfN: Int): IndexedSeq[Draw] = {
    require(perWindow % DeckSize == 0, s"$perWindow draws are not whole decks of $DeckSize")
    val rng = new Random(mix(seed, stream))
    val zipf = new Zipf(zipfN, ZipfS)
    val deck = KindDeck.flatMap { case (k, n) => Seq.fill(n)(k) }
    (0 until windows).flatMap { w =>
      val kinds = (0 until perWindow / DeckSize).flatMap(_ => rng.shuffle(deck))
      val text = kinds.indices.filter(kinds(_) != "ivf")
      def pick(share: Double) = rng.shuffle(text).take(math.round(share * text.length).toInt).toSet
      val novel = pick(NovelShare)
      val recent = pick(recentShare)
      kinds.indices.map(j => Draw(w * perWindow + j, kinds(j), zipf.sample(rng), novel(j),
        recent(j), rng.nextLong()))
    }
  }

  /** A novel text: `PerturbShare` of the tokens replaced by tokens drawn
    * from the same text, keyed by `salt`. */
  def perturb(text: String, salt: Long): String = {
    val rng = new Random(salt)
    val toks = text.split(" ")
    if (toks.length < 2) text + " novel" + (salt & 0xffff)
    else toks.map(t => if (rng.nextDouble() < PerturbShare) toks(rng.nextInt(toks.length)) + "x" else t)
      .mkString(" ")
  }

  /** An existing embedding plus seeded Gaussian noise. */
  def noisy(v: Array[Float], salt: Long): Array[Float] = {
    val rng = new Random(salt)
    v.map(x => (x + rng.nextGaussian() * IvfNoise).toFloat)
  }

  /** A stable mixing of the run seed with a stream id. */
  def mix(seed: Long, stream: Long): Long = {
    var z = seed * 0x9e3779b97f4a7c15L + stream
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
}

/** Zipf(s) over ranks 0 until n by inverse-CDF lookup. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = (1 to n).map(k => 1.0 / math.pow(k, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }
  def sample(rng: Random): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}
