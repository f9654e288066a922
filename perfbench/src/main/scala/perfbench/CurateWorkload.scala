package perfbench

import graft.operators.{Dedup, Similarity, Versioned}
import graft.streaming.{AnnIngest, AutoCompact, NearDedup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** `corpus_curate`: a documents-and-embeddings corpus, curated as it
  * arrives. Set-up builds the corpus (seeded base documents with
  * injected near-duplicates, scaled by disjoint letter-permuted copies
  * as `graft.tools.ScaleData` does), its MinHash band index
  * (`Dedup.writeBandIndex`) and an IVF index over clustered embeddings
  * (`AnnIngest.processBatch` seeding it). Sizes follow
  * `graft.tools.ProductionDayRehearsal` at sf0.1 (see the README). The
  * op stream cycles through three ops:
  *
  *  - a document batch through `NearDedup.processBatch`: fresh documents,
  *    exact copies of corpus documents, copies of the previous batch's
  *    fresh documents and in-batch copies, so the outcome counts are
  *    known in closed form;
  *  - a vector batch through `AnnIngest.processBatch` (the first two
  *    batches, the warm-up's and the first timed one, drift to a new
  *    cluster, which retrains the index);
  *  - a batch probe (`Similarity.probePersistedIvfMany`) whose recall@10
  *    is measured against exact search.
  *
  * Both sinks run the program's default `AutoCompact()` policy.
  */
final class CurateWorkload(ctx: Ctx) extends Workload {
  import CurateWorkload._
  private val spark = ctx.spark
  private val tracer = ctx.tracer
  import spark.implicits._

  private var dir: String = _
  private def bandIndex = s"$dir/band_index"
  private def ivfIndex = s"$dir/ivf_index"
  private def dedupOut = s"$dir/neardedup"
  private var vocab: Array[String] = Array.empty
  private var corpus: IndexedSeq[(Long, String)] = IndexedSeq.empty
  /** Corpus documents with no near-duplicate sibling: safe to copy. */
  private var copyable: IndexedSeq[(Long, String)] = IndexedSeq.empty
  private var centers: Array[Array[Float]] = Array.empty
  private val drifts = mutable.ArrayBuffer.empty[Array[Float]]
  private val vectors = mutable.ArrayBuffer.empty[(Long, Array[Float])]
  private var codebook: Similarity.IvfCodebook = _
  private val compact = AutoCompact()
  private var prevFresh: IndexedSeq[(Long, String)] = IndexedSeq.empty
  private var admitted, flagged, retrains, compactions = 0L
  private val recalls = mutable.ArrayBuffer.empty[Double]
  private val indexBuilds = mutable.ArrayBuffer.empty[Double]
  private var lastProbe: Option[(Seq[(Long, Array[Float])], Map[Long, Seq[Long]])] = None
  private var next: () => Op = _
  private var versionsAtSetup = 0L

  def cycle: Int = 3
  def spaceAmpAfter: Int = 2 * cycle - 1 // the first timed probe

  private def word(rnd: scala.util.Random): String =
    vocab(rnd.nextInt(vocab.length))
  private def doc(rnd: scala.util.Random): String =
    Seq.fill(30 + rnd.nextInt(49))(word(rnd)).mkString(" ")

  private def unit(v: Array[Double]): Array[Float] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }
  private def near(rnd: scala.util.Random, c: Array[Float]): Array[Float] =
    unit(c.map(x => x + rnd.nextGaussian() * Noise))

  def setup(d: String): Unit = {
    dir = d
    val rnd = new scala.util.Random(ctx.seed)
    vocab = Array.fill(VocabSize)(
      Seq.fill(3 + rnd.nextInt(6))(('a' + rnd.nextInt(26)).toChar).mkString)
    val base = (0 until BaseDocs).map(k => (k.toLong, doc(rnd)))
    // injected near-duplicates: one word replaced
    val siblings = base.take(BaseDocs / 20).map { case (k, t) =>
      val w = t.split(" ")
      w(rnd.nextInt(w.length)) = word(rnd)
      (k + BaseDocs, w.mkString(" "))
    }
    val perm = (0 until ScaleCopies).map(c => permutation(c))
    corpus = (0 until ScaleCopies).flatMap { c =>
      (base ++ siblings).map { case (k, t) =>
        (c * CopyIdStride + k, t.map(ch => perm(c).getOrElse(ch, ch)))
      }
    }
    copyable = corpus.filter { case (k, _) =>
      k % CopyIdStride >= BaseDocs / 20 && k % CopyIdStride < BaseDocs
    }
    val t0 = System.nanoTime()
    Dedup.writeBandIndex(corpus.toDF("doc_id", "text"), col("text"),
      "doc_id", bandIndex)
    indexBuilds += (System.nanoTime() - t0) / 1e9
    centers = Array.fill(Clusters)(unit(Array.fill(Dim)(rnd.nextGaussian())))
    vectors.clear()
    drifts.clear()
    vectors ++= (0 until BaseVectors).map(k =>
      (k.toLong, near(rnd, centers(k % Clusters))))
    val baseDf = vectors.toSeq.toDF("vec_id", "embedding")
    // the lowest ids seed the codebook: one vector of every cluster
    codebook = Similarity.buildCodebook(baseDf, "embedding", "vec_id",
      nlist = Clusters)
    AnnIngest.processBatch(baseDf, 0L, "embedding", codebook, ivfIndex,
      Some(AnnIngest.AutoRetrain("vec_id")), Some(compact))
    prevFresh = IndexedSeq.empty
    versionsAtSetup = Lake.latestVersion(spark, bandIndex) +
      Lake.latestVersion(spark, ivfIndex)
  }

  /** The ScaleData letter permutation of copy `c` (copy 0: identity). */
  private def permutation(c: Int): Map[Char, Char] =
    if (c == 0) Map.empty
    else {
      val letters = "etaoinshr"
      val shuffled = new scala.util.Random(ctx.seed + c).shuffle(letters.toSeq)
      letters.zip(shuffled).toMap
    }

  override def prepare(i: Int): Unit = {
    val j = i / 3
    val rnd = new scala.util.Random(ctx.seed * 1000003L + i)
    next = i % 3 match {
      case 0 => dedupBatch(rnd, j)
      case 1 => annBatch(rnd, j)
      case _ => probe(rnd)
    }
  }

  def op(i: Int): Op = next()

  private def dedupBatch(rnd: scala.util.Random, j: Int): () => Op = {
    val id0 = FreshIdBase + j * 10000L
    val fresh = (0 until Fresh).map(k => (id0 + k, doc(rnd)))
    // distinct corpus documents; the first batch has no earlier batch,
    // so its "earlier" copies are further corpus documents
    val fromCorpus = rnd.shuffle(copyable)
      .take(CorpusCopies + (if (prevFresh.isEmpty) EarlierCopies else 0))
    val corpusCopies = fromCorpus.take(CorpusCopies)
      .zipWithIndex.map { case ((_, t), k) => (id0 + 2000 + k, t) }
    val earlier =
      if (prevFresh.nonEmpty) rnd.shuffle(prevFresh).take(EarlierCopies)
      else fromCorpus.drop(CorpusCopies)
    val laterCopies = earlier
      .zipWithIndex.map { case ((_, t), k) => (id0 + 4000 + k, t) }
    val inBatch = fresh.take(InBatchCopies)
      .zipWithIndex.map { case ((_, t), k) => (id0 + 6000 + k, t) }
    val batch = rnd.shuffle(fresh ++ corpusCopies ++ laterCopies ++ inBatch)
      .toDF("doc_id", "text")
    prevFresh = fresh
    () => {
      val o = tracer.span("dedup.batch") {
        NearDedup.processBatch(batch, j.toLong, col("text"), "doc_id",
          bandIndex, dedupOut, autoCompact = Some(compact))
      }
      Op(o.admitted, () => {
        if (tracer.enabled) {
          admitted += o.admitted
          flagged += o.admitted - o.survivors
          if (o.compacted) compactions += 1
        }
        val want = (Fresh + CorpusCopies + EarlierCopies + InBatchCopies,
          CorpusCopies + EarlierCopies, InBatchCopies, Fresh)
        val got = (o.admitted, o.dupOfCorpus, o.dupInChunk, o.survivors)
        val ok = !o.replayed && got == want
        if (!ok) System.err.println(s"near-dedup batch $j: got $got want $want")
        ok
      })
    }
  }

  private def annBatch(rnd: scala.util.Random, j: Int): () => Op = {
    val id0 = FreshIdBase + j * 10000L
    // a drifting batch lands around a direction orthogonal to every
    // cluster so far, so no centroid is near it
    val center =
      if (j < DriftBatches) {
        val c = orthogonal(rnd, centers.toSeq ++ drifts)
        drifts += c
        c
      } else null
    val batch = (0 until BatchVectors).map { k =>
      (id0 + k, near(rnd, if (center != null) center else centers(rnd.nextInt(Clusters))))
    }
    vectors ++= batch
    val df = batch.toDF("vec_id", "embedding")
    () => {
      val o = tracer.span("ann.ingest_batch") {
        AnnIngest.processBatch(df, j + 1L, "embedding", codebook, ivfIndex,
          Some(AnnIngest.AutoRetrain("vec_id")), Some(compact))
      }
      Op(o.appended, () => {
        if (tracer.enabled) {
          if (o.retrained) retrains += 1
          if (o.compacted) compactions += 1
        }
        val ok = !o.replayed && o.appended == BatchVectors
        if (!ok) System.err.println(s"ann batch $j: $o")
        ok
      })
    }
  }

  private def probe(rnd: scala.util.Random): () => Op = {
    val queries = (0 until Queries).map(q =>
      (q.toLong, near(rnd, centers(rnd.nextInt(Clusters)))))
    val df = queries.toDF("qid", "qemb")
    () => {
      val got = tracer.span("ann.probe") {
        Similarity.probePersistedIvfMany(spark, ivfIndex, "embedding",
          "vec_id", df, "qid", "qemb", NProbe, K).collect()
      }.map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
        .map { case (q, rs) => q -> rs.map(_._2).toSeq }
      Op(0, () => {
        val exact = queries.map { case (q, v) => q -> topK(v) }.toMap
        val r = queries.map { case (q, _) =>
          got.getOrElse(q, Nil).intersect(exact(q)).size.toDouble / K
        }.sum / Queries
        if (tracer.enabled) recalls += r
        lastProbe = Some((queries, got))
        val ok = r >= MinRecall
        if (!ok) System.err.println(f"probe recall@$K $r%.3f under $MinRecall")
        ok
      })
    }
  }

  /** A random unit direction orthogonal to every vector of `basis`. */
  private def orthogonal(rnd: scala.util.Random,
      basis: Seq[Array[Float]]): Array[Float] = {
    def dot(a: Array[Double], b: Array[Double]) =
      a.indices.iterator.map(d => a(d) * b(d)).sum
    def minus(a: Array[Double], o: Array[Double]): Array[Double] = {
      val p = dot(a, o)
      a.indices.map(d => a(d) - p * o(d)).toArray
    }
    val ortho = basis.foldLeft(Seq.empty[Array[Double]]) { (acc, b) =>
      val u = acc.foldLeft(b.map(_.toDouble))(minus)
      val n = math.sqrt(dot(u, u))
      if (n > 1e-9) acc :+ u.map(_ / n) else acc
    }
    unit(ortho.foldLeft(Array.fill(Dim)(rnd.nextGaussian()))(minus))
  }

  /** Exact top-k by cosine over every vector ingested so far. */
  private def topK(q: Array[Float]): Seq[Long] =
    vectors.iterator.map { case (id, v) =>
      var dot = 0.0; var nq = 0.0; var nv = 0.0
      var d = 0
      while (d < q.length) {
        dot += q(d) * v(d); nq += q(d) * q(d); nv += v(d) * v(d); d += 1
      }
      (id, dot / math.sqrt(nq * nv))
    }.toSeq.sortBy { case (id, s) => (-s, id) }.take(K).map(_._1)

  /** The last probe's recall against the program's own exact search,
    * `Similarity.bruteForceTopK`, over every vector ingested. */
  def finalCheck(): Boolean = lastProbe.forall { case (queries, got) =>
    val all = vectors.toSeq.toDF("vec_id", "embedding").cache()
    try {
      val checked = queries.take(FinalChecked)
      val r = checked.map { case (q, v) =>
        val exact = Similarity.bruteForceTopK(all, "embedding", "vec_id", v, K)
          .collect().map(_.getLong(0)).toSeq
        got.getOrElse(q, Nil).intersect(exact).size.toDouble / K
      }.sum / checked.size
      if (r < MinRecall) System.err.println(f"final recall@$K $r%.3f")
      r >= MinRecall
    } finally all.unpersist()
  }

  def spaceAmp(): Double = {
    val live = Lake.liveBytes(spark, bandIndex) + Lake.liveBytes(spark, ivfIndex)
    (Lake.bytesUnder(spark, bandIndex) + Lake.bytesUnder(spark, ivfIndex))
      .toDouble / live
  }

  def layers(): Map[String, Double] = Map(
    "lake.commits" -> (Lake.latestVersion(spark, bandIndex) +
      Lake.latestVersion(spark, ivfIndex) - versionsAtSetup).toDouble,
    // the median over the set-ups, as setup_s
    "dedup.index_build_s" -> Stats.median(indexBuilds.sorted.toSeq),
    "dedup.batch_s" -> tracer.total("dedup.batch"),
    "dedup.flagged_ratio" -> flagged.toDouble / math.max(1L, admitted),
    "ann.ingest_batch_s" -> tracer.total("ann.ingest_batch"),
    "ann.retrains" -> retrains.toDouble,
    "ann.compactions" -> compactions.toDouble,
    "ann.index_files" -> Versioned.fileStats(spark, ivfIndex).size.toDouble,
    "ann.probe_s" -> tracer.total("ann.probe"),
    "ann.recall_at_10" ->
      (if (recalls.isEmpty) 0.0 else recalls.sum / recalls.size))
}

object CurateWorkload {
  val VocabSize = 5000
  /** With 5% injected near-duplicates and two scale copies: a corpus of
    * 4,494 documents, ProductionDayRehearsal's ~4,500 at sf0.1. */
  val BaseDocs = 2140
  val ScaleCopies = 2
  val CopyIdStride = 1000000L
  val FreshIdBase = 10000000L
  /** A document batch of 250, the rehearsal's first arriving batch. */
  val Fresh = 200
  val CorpusCopies = 25
  val EarlierCopies = 15
  val InBatchCopies = 10
  /** sf0.1's embeddings: 2,000 vectors of 64 dimensions, ingested in
    * batches of 1,000, nlist 16. */
  val Dim = 64
  val Clusters = 16
  val Noise = 0.06
  val BaseVectors = 2000
  val BatchVectors = 1000
  /** Vector batches that drift: the warm-up's and the first timed one. */
  val DriftBatches = 2
  val Queries = 16
  val NProbe = 4
  val K = 10
  val MinRecall = 0.9
  /** Queries of the last probe re-checked against bruteForceTopK. */
  val FinalChecked = 4
}
