package graft.streaming

import graft.operators.{Similarity, Versioned}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Streaming ANN ingest: grow a persisted IVF index from a change
  * feed ([EXT] — the incremental-ingest loop of the similarity-search
  * family, st17's sibling). The index is a Versioned snapshot table
  * bucketed by `list_id` (graft.operators.Similarity's r16 layout), so
  * each micro-batch is one CAS-guarded manifest COMMIT: the batch is
  * assigned against the index's COMMITTED codebook and appended under
  * the declared bucket layout — probes bucket-prune on `list_id`
  * across every batch's rows exactly as on a build-once index, and the
  * index grows at chunk cost.
  *
  * Exactly-once across restarts WITHOUT trusting Spark's checkpoint
  * (the NearDedup discipline): each append carries `txn.anningest=<id>`
  * ([[Versioned.TxnPrefix]], appId [[AppId]]) in its manifest meta —
  * committed atomically WITH the rows — and every later commit to the
  * index (retrains, rebuilds, compactions, foreign appends) carries it
  * forward, so VACUUM cannot erase it. A replayed batch (checkpoint
  * lost after the sink ran) finds its id recorded with one header read
  * and skips, where a snapshot append replayed blindly would DUPLICATE
  * the batch's vectors; a second delivery racing the first is refused
  * inside the commit lock ([[Versioned.ReplayedBatch]]). Lost
  * checkpoint: batch ids restart at 0, and every id up to the old
  * maximum is skipped as a replay.
  *
  * Retrain handoff is BY CONSTRUCTION: batches assign under the
  * codebook resolved from the index's own latest commit, and the
  * append is CAS'd on that exact version, so a retrain landing
  * mid-stream either precedes the batch (which then assigns under the
  * NEW codebook) or conflicts the CAS (the batch re-resolves and
  * re-assigns). The caller's codebook only SEEDS a missing index; it
  * is never trusted afterwards.
  *
  * Drift: the seed commits a zero-vector baseline (which never
  * justifies a verdict); the first non-empty batch re-seeds it
  * crash-atomically in its own commit meta, and every batch's mean
  * assigned-centroid cosine is compared against it —
  * `retrainRecommended` (the [[Similarity.IvfAppend]] rule) is logged
  * at WARN. With an [[AutoRetrain]] policy the sink CLOSES the loop
  * itself: the flagged batch triggers `Similarity.retrainPersistedIvf`
  * in place, and because the retrain is one CAS'd overwrite commit,
  * probes pinned before it keep reading the old (version, codebook,
  * data) triple while the next probe resolves the new one atomically
  * — the commit IS the swap, no pointer file or probe repoint needed.
  * Without the policy the WARN remains the operator's signal.
  *
  * The sink grows whichever code the INDEX holds. A MISSING index is
  * seeded from the caller's arguments: float rows by default, int8
  * codes with `pqId` (the vector-id column), TRUE product
  * quantization ([[graft.operators.ProductQuant]], one byte per
  * subvector) with `pqId` and `productBooks`. After the seed, every
  * batch follows the committed descriptor, not the arguments: the
  * appended codes and the re-emitted descriptor come from the state
  * each commit attempt pins, so a mid-stream rebuild that swaps the
  * codebooks hands off to the stream atomically, exactly like a float
  * retrain. `pqId` only says the stream carries codes (any quantized
  * index) or floats. Quantized batches assign on TRUE embeddings and
  * keep the drift signal quantization-independent. [[AutoRetrain]]
  * refuses to compose with them (lossy codes cannot rebuild a
  * codebook); their drift response is [[AutoRebuild]], which
  * retrains from the SOURCE table's true embeddings, keeping a
  * product index's numSub/k shape.
  *
  * A plain parquet dir (no commit log) refuses up front: committing a
  * snapshot over it would permanently shadow every vector in it from
  * the catalog read. Rebuild it at a fresh path with
  * `Similarity.writePersistedIvf` and point the stream there.
  */
object AnnIngest extends org.apache.spark.internal.Logging {

  /** The sink's ledger name in the index's commits. */
  val AppId = "anningest"

  /** Refuse a plain-dir layout before the first commit lands — a
    * snapshot committed over it would shadow every vector in it with
    * no write-time error. Runs per micro-batch until the sink's first
    * ledgered commit (two exists); it short-circuits on the commit
    * log's presence, so the listing only happens while the dir is
    * still uncommitted. */
  private def requireSnapshotOrEmpty(spark: SparkSession,
      path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p) ||
        fs.exists(new org.apache.hadoop.fs.Path(p, Versioned.LogDir)))
      return
    val plainDir = fs.listStatus(p).exists { st =>
      val n = st.getPath.getName
      (st.isDirectory &&
        (n.startsWith("list_id=") || n.startsWith("batch="))) ||
        (!st.isDirectory && n.endsWith(".parquet") && !n.startsWith("_") &&
          !n.startsWith("."))
    }
    if (plainDir) throw new IllegalStateException(
      s"$path holds a plain-dir IVF layout (list_id=/batch= dirs) but " +
        "no commit log — committing a snapshot over it would shadow " +
        "every vector in it; rebuild it at a fresh path with " +
        "Similarity.writePersistedIvf and point the stream there")
  }

  /** In-stream drift response: when a batch's drift check fires, the
    * sink retrains the index IN PLACE instead of only WARNing — the
    * drift loop's last manual step, automated. `id` names the vector
    * id column (the codebook builder needs it); `nlist` = 0 keeps the
    * current codebook's cell count, a positive value re-sizes the
    * codebook (the usual response when drift means the corpus outgrew
    * it). The retrain runs AFTER the batch's ledger commit, so a crash
    * in between loses only the retrain, never the batch: the replayed
    * batch skips, and the still-drifted distribution re-fires the flag
    * on its next cohort — the signal is self-healing, which is why the
    * retrain needs no ledger of its own. Cost is one assignment pass
    * over the index per FIRE (not per batch) plus `refineIters` Lloyd
    * passes — the default of 1 is deliberate: `buildCodebook` seeds
    * from the LOWEST ids, which on a drifted index are the PRE-drift
    * rows, and without at least one Lloyd pass the rebuilt codebook
    * can fail to place any centroid in the arrived mass (the drift
    * flag then re-fires every batch instead of once). With refinement
    * the post-retrain baseline describes the whole corpus, so a
    * stationary-after-shift stream fires once, not forever. */
  final case class AutoRetrain(id: String, nlist: Int = 0,
      refineIters: Int = 1) {
    require(nlist >= 0, s"nlist must be >= 0, got $nlist")
    require(refineIters >= 0, s"refineIters must be >= 0, got $refineIters")
  }

  /** [[AutoRetrain]]'s counterpart for the QUANTIZED sink (`pqId`
    * set), closing the PQ drift loop AutoRetrain correctly refuses:
    * a PQ index's rows are lossy int8 codes, so an in-place retrain
    * has nothing to rebuild FROM — but the SOURCE table (which every
    * PQ probe already rescores against, so it exists and stays in
    * sync by the layout's own contract) carries the true embeddings.
    * When a batch's drift check fires, the sink calls
    * [[Similarity.rebuildPersistedIvfPq]]: fresh codebook over the
    * source, re-assign, re-quantize, ONE CAS'd in-place overwrite —
    * probes handoff atomically exactly as under AutoRetrain. `source`
    * resolves the corpus frame per fire (a function, not a captured
    * frame, so a long-lived stream always reads the source's CURRENT
    * rows); it must cover everything streamed into the index — index
    * rows absent from it are dropped by the rebuild (the source is
    * the truth). DUPLICATE safety: each batch's append carries the
    * in-call absorption guard (Similarity's epoch anti-join), so a
    * rebuild interleaving with a batch never doubles that batch's
    * rows. The remaining window is a source that runs AHEAD of the
    * change feed — rows committed to the source but not yet streamed
    * are absorbed by a rebuild and appended again when they finally
    * arrive; such deployments hold transient duplicates until the
    * next rebuild re-converges on the source. A pipeline where the
    * stream itself is the source's writer (or the feed IS the
    * source's change feed, st18's shape) never opens that window.
    * Crash discipline is AutoRetrain's: the rebuild runs
    * AFTER the batch's ledger commit, so a crash in between loses
    * only the rebuild, and the still-drifted distribution re-fires on
    * the next cohort. `nlist` = 0 keeps the current cell count;
    * `refineIters` defaults to 1 for the same seed-placement reason
    * as AutoRetrain's. */
  final case class AutoRebuild(
      source: SparkSession => org.apache.spark.sql.DataFrame,
      id: String, nlist: Int = 0, refineIters: Int = 1) {
    require(nlist >= 0, s"nlist must be >= 0, got $nlist")
    require(refineIters >= 0, s"refineIters must be >= 0, got $refineIters")
  }

  /** What one micro-batch did (`appended` = -1 when replayed: nothing
    * was committed this invocation; `retrained` = the sink's
    * [[AutoRetrain]] (or, on a PQ index, [[AutoRebuild]]) policy
    * fired and the in-place retrain/rebuild committed;
    * `compacted` = the sink's [[AutoCompact]] policy folded small
    * segments after this batch's commit). */
  case class BatchOutcome(batchId: Long, appended: Long, meanSim: Double,
      retrainRecommended: Boolean, replayed: Boolean,
      retrained: Boolean = false, compacted: Boolean = false)

  /** The argument combinations a sink refuses — at sink construction
    * and per batch, never on the first drifted batch mid-stream (see
    * [[AutoRebuild]] for why AutoRetrain cannot compose with pqId). */
  private def requirePolicies(autoRetrain: Option[AutoRetrain],
      pqId: Option[String], autoRebuild: Option[AutoRebuild],
      productBooks: Option[graft.operators.ProductQuant.PqCodebooks]): Unit = {
    require(productBooks.isEmpty || pqId.nonEmpty,
      "productBooks seeds a quantized index — it requires pqId (the " +
        "vector-id column); a float index carries its own embeddings")
    require(autoRetrain.isEmpty || pqId.isEmpty,
      "AutoRetrain cannot rebuild an IVF-PQ index from its lossy " +
        "codes — use AutoRebuild(source, ...) to retrain from the " +
        "source table, or stream into a float index")
    require(autoRebuild.isEmpty || pqId.nonEmpty,
      "AutoRebuild retrains from the source table a PQ probe rescores " +
        "against — it only composes with pqId; a float index retrains " +
        "in place with AutoRetrain")
  }

  /** Process one micro-batch (the foreachBatch body, callable directly
    * so specs can drive replay/retrain schedules deterministically). */
  def processBatch(batch: DataFrame, batchId: Long, embedding: String,
      seedCodebook: Similarity.IvfCodebook, path: String,
      autoRetrain: Option[AutoRetrain] = None,
      autoCompact: Option[AutoCompact] = None,
      pqId: Option[String] = None,
      autoRebuild: Option[AutoRebuild] = None,
      productBooks: Option[graft.operators.ProductQuant.PqCodebooks] =
        None): BatchOutcome = {
    val spark = batch.sparkSession
    requirePolicies(autoRetrain, pqId, autoRebuild, productBooks)
    val replayed = BatchOutcome(batchId, -1, 0.0,
      retrainRecommended = false, replayed = true)
    val applied = Versioned.txnVersion(spark, path, AppId)
    if (applied.exists(_ >= batchId)) return replayed
    // a ledger entry proves the path is a snapshot table
    if (applied.isEmpty) requireSnapshotOrEmpty(spark, path)
    // ONE descriptor resolution serves the append AND the post-append
    // policies (nlist default, AutoRebuild's books shape): a raced
    // rebuild keeps the scheme and the append re-pins internally, so
    // re-loading per use would only buy extra manifest scans. A
    // missing index is seeded first (iff no version exists).
    val state = Similarity.loadPersistedIvf(spark, path).getOrElse {
      Similarity.ensurePersistedIvf(batch, embedding, seedCodebook, path,
        pqId, productBooks)
      Similarity.requireIvfState(spark, path, "append")
    }
    // the append follows the INDEX's resolved code (not the seed
    // arguments): the committed descriptor is the single source of
    // layout truth
    val app = try Similarity.appendStreamed(batch, embedding, pqId, path,
      state, Map(Versioned.txnKey(AppId) -> batchId.toString))
    catch { case _: Versioned.ReplayedBatch => return replayed }
    // the drift response: each policy only chooses the rebuild call;
    // nlist = 0 keeps the current cell count
    def nlistOf(declared: Int): Int =
      if (declared > 0) declared else state.codebook.entries.length
    val response: Option[(String, String, Int, () => Similarity.IvfStats)] =
      autoRetrain.map { ar =>
        val nlist = nlistOf(ar.nlist)
        ("retrain", s"retrained $path in place", nlist, () =>
          Similarity.retrainPersistedIvf(spark, path, embedding, ar.id,
            nlist, ar.refineIters)._2)
      }.orElse(autoRebuild.map { ar =>
        val nlist = nlistOf(ar.nlist)
        // a product index keeps its current subspace shape through the
        // rebuild (the books are retrained, not reshaped — reshaping
        // is an operator decision, not a drift response)
        ("PQ rebuild", s"rebuilt PQ index $path in place from its " +
          "source table", nlist, () => state.pqBooks match {
          case Some(books) =>
            Similarity.rebuildPersistedIvfProduct(spark, path,
              ar.source(spark), embedding, ar.id, nlist,
              numSub = books.numSub, kSub = books.k,
              refineIters = ar.refineIters)._3
          case None =>
            Similarity.rebuildPersistedIvfPq(spark, path,
              ar.source(spark), embedding, ar.id, nlist,
              ar.refineIters)._2
        })
      })
    val retrained = app.retrainRecommended && response.exists {
      case (name, done, nlist, run) =>
        try {
          val stats = run()
          logInfo(s"ann-ingest batch $batchId: drift fired, $done " +
            f"(nlist=$nlist, new baseline ${stats.vectors} vectors @ " +
            f"mean_sim=${stats.meanSim}%.4f)")
          true
        } catch {
          // best-effort like AutoCompact: the batch's ledger commit has
          // already landed — a retrain/rebuild that exhausts its CAS
          // retries under an ingest storm WARNs and defers (the
          // still-drifted distribution re-fires the flag on its next
          // cohort), never crashes a stream whose data is safe
          case e: Versioned.CommitRaceExhausted =>
            logWarning(s"ann-ingest batch $batchId: drift fired but the " +
              s"$name of $path lost its commit race to the ingest " +
              "storm; deferring — drift re-fires on the next cohort", e)
            false
        }
    }
    // segment hygiene LAST: a retrain just rewrote everything (nothing
    // small left), and the fold must see this batch's segments. A
    // compaction here is a foreign commit: it carries the ledger and
    // the descriptor scan skips it — see [[AutoCompact]].
    val compacted = !retrained &&
      autoCompact.exists(_.maybeCompact(spark, path).isDefined)
    BatchOutcome(batchId, app.appended, app.meanSim,
      app.retrainRecommended, replayed = false, retrained = retrained,
      compacted = compacted)
  }

  /** The foreachBatch sink: `writeStream.foreachBatch(AnnIngest.sink(
    * "embedding", seedCodebook, indexPath))`. Pass an [[AutoRetrain]]
    * (float index) or [[AutoRebuild]] (PQ index, with `pqId`) policy
    * to close the drift loop in-stream. */
  def sink(embedding: String, seedCodebook: Similarity.IvfCodebook,
      path: String, autoRetrain: Option[AutoRetrain] = None,
      autoCompact: Option[AutoCompact] = None,
      pqId: Option[String] = None,
      autoRebuild: Option[AutoRebuild] = None,
      productBooks: Option[graft.operators.ProductQuant.PqCodebooks] =
        None):
      (DataFrame, Long) => Unit = {
    requirePolicies(autoRetrain, pqId, autoRebuild, productBooks)
    (batch, batchId) => {
      val o = processBatch(batch, batchId, embedding, seedCodebook, path,
        autoRetrain, autoCompact, pqId, autoRebuild, productBooks)
      logInfo(
        if (o.replayed)
          s"ann-ingest batch ${o.batchId}: replay detected, skipped"
        else s"ann-ingest batch ${o.batchId}: appended=${o.appended} " +
          f"mean_sim=${o.meanSim}%.4f retrain=${o.retrainRecommended} " +
          s"retrained=${o.retrained}")
      ()
    }
  }
}
