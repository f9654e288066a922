package graft.streaming

import graft.operators.{Dedup, Versioned}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Streaming NEAR-dedup against the persisted MinHash band index —
  * the composition of st16's incremental curation stream with dd10's
  * chunk-vs-corpus probe ([EXT]; the production incremental-ingest +
  * incremental-dedup loop). Each micro-batch:
  *
  *   1. probes the persisted index ([[Dedup.dedupChunkAgainstIndex]]):
  *      cost tracks the BATCH — the batch is signatured and its bands
  *      shuffled once into the index's bucket layout; the index side
  *      moves zero bytes (the dd10 scale proof, byte-identical probe
  *      shuffle across three index decades);
  *   2. writes the per-doc flag ledger and the surviving docs, each to
  *      a per-batch directory (overwrite — idempotent under replay);
  *   3. appends the WHOLE admitted batch's bands to the index
  *      ([[Dedup.commitBands]] over the probe's own band frame — the
  *      batch is signatured once), tagged with the batch id.
  *
  * The index — not Spark's state store — is the stream's dedup state,
  * which is what bounds it: st16's `dropDuplicates` holds every key in
  * executor state forever, while the band index lives on storage,
  * shared with batch writers, rebucketable as it grows, and probed at
  * chunk cost. The index records every ADMITTED doc (not just
  * survivors): near-duplicate similarity is not transitive, so a
  * survivors-only index could miss a doc near-identical to a dropped
  * doc but not to that doc's own dominator — indexing everything seen
  * anchors the keep-first rule to first OCCURRENCE, dd10's semantics.
  *
  * Exactly-once across restarts WITHOUT relying on Spark committing
  * the checkpoint before side effects land: the index commit itself is
  * the ledger. Each append carries `txn.neardedup=<id>`
  * ([[Versioned.TxnPrefix]], appId [[AppId]]) in its manifest meta,
  * and every later commit to the index — chunk appends, rebuckets,
  * OPTIMIZE — carries it forward, so VACUUM cannot erase it. A
  * replayed batch (checkpoint lost after the sink ran) finds its id
  * already recorded with one header read and skips — re-running the
  * probe after the batch's own bands were appended would otherwise
  * flag the whole batch as `dup_of_corpus` and overwrite the survivor
  * dir with an empty one; a second delivery racing the first is
  * refused inside the commit lock ([[Versioned.ReplayedBatch]]).
  * Side-effect ORDER makes the ledger sufficient: flags/survivors
  * (overwrite, idempotent) land BEFORE the index append, so a crash in
  * between replays the whole batch (same probe result — the index is
  * unchanged), and a crash after the append skips everything (the
  * outputs are already complete).
  *
  * Concurrency: the append rides `commitBucketed`'s CAS, so batch
  * writers and OTHER chunk appenders interleave safely; a rebucket
  * migration landing mid-batch surfaces as `BucketLayoutChanged`,
  * failing the batch — the restart re-probes under the landed layout
  * and retries the append with the inherited (new) bucket count.
  *
  * Lost checkpoint: the ledger binds to ONE checkpoint's batch
  * numbering, so deleting the checkpoint and restarting against the
  * same index resets batch ids to 0, and the ledger skips every id up
  * to the old maximum as a replay — correct for the docs the old
  * stream already processed (they ARE in the index), but a genuinely
  * new pipeline over an old index should start from a fresh index path
  * (or rebucket-migrate the old one into it).
  */
object NearDedup extends org.apache.spark.internal.Logging {

  /** The sink's ledger name in the index's commits. */
  val AppId = "neardedup"

  /** What one micro-batch did. `indexVersion` is the index manifest
    * version the batch's append committed (-1 when replayed: nothing
    * was committed this invocation); `compacted` = the sink's
    * [[AutoCompact]] policy folded small segments after the commit. */
  case class BatchOutcome(batchId: Long, admitted: Long,
      dupOfCorpus: Long, dupInChunk: Long, survivors: Long,
      indexVersion: Long, replayed: Boolean,
      compacted: Boolean = false)

  /** Seed an EMPTY index at the minimum layout iff none exists, so the
    * first micro-batch probes against nothing instead of failing.
    * `create` mode makes the race benign: two streams (or a stream and
    * a batch indexer) starting together commit once — the loser sees
    * CreateConflict and proceeds against the winner's version.
    * Production deployments with an existing corpus should instead
    * pre-build the index with [[Dedup.writeBandIndex]] over it, sized
    * for the corpus; this seed's 16-bucket layout is for genuinely
    * empty starts, and `rebucketRecommended` flags the migration once
    * appends outgrow it. */
  private def ensureIndex(chunk: DataFrame, text: Column, id: String,
      indexPath: String, shingleSize: Int, numHashes: Int,
      bands: Int): Unit =
    if (Versioned.versions(chunk.sparkSession, indexPath).isEmpty) {
      // loose ROOT-LEVEL .parquet files without a commit log are a
      // LEGACY plain-parquet band index: seeding a snapshot over it
      // would permanently shadow every legacy corpus band (the catalog
      // read wins once a LogDir exists) and re-admit all historical
      // duplicates — refuse and point at the migration instead. Only
      // that exact signature refuses: orphan gb-* segment DIRS and
      // _graft_log leftovers from a crashed first commit (or a racing
      // creator) are invisible to readers and must not brick the
      // stream — the create below retries/absorbs them.
      val p = new org.apache.hadoop.fs.Path(indexPath)
      val fs = p.getFileSystem(
        chunk.sparkSession.sparkContext.hadoopConfiguration)
      if (fs.exists(p) && fs.listStatus(p).exists { st =>
          val n = st.getPath.getName
          !st.isDirectory && n.endsWith(".parquet") &&
            !n.startsWith("_") && !n.startsWith(".")
        })
        throw new IllegalStateException(
          s"$indexPath holds loose parquet files but no commit log — a " +
            "legacy plain-parquet band index; migrate it first with " +
            "Dedup.rebucketBandIndex(spark, path) so its corpus bands " +
            "stay visible to the stream's probes")
      try Versioned.commitBucketed(
        Dedup.bandFrame(chunk.limit(0), text, id, shingleSize, numHashes,
          bands),
        indexPath, "band_hash", Dedup.MinIndexBuckets, "create")
      catch { case _: Versioned.CreateConflict => () }
    }

  /** Process one micro-batch (the foreachBatch body, callable directly
    * so specs can drive replay/crash schedules deterministically).
    * `batch` must already be admission-gated — this method dedups, it
    * does not curate. Writes `<outPath>/flags/batch=<id>` (the per-doc
    * (id, dup_of_corpus, dup_in_chunk) decision ledger — the audit
    * trail batch dedup gets from dd10's returned frame) and
    * `<outPath>/survivors/batch=<id>` (batch rows flagged by neither),
    * then appends the batch's bands to the index. */
  def processBatch(batch: DataFrame, batchId: Long, text: Column,
      id: String, indexPath: String, outPath: String,
      shingleSize: Int = 3, numHashes: Int = 16, bands: Int = 4,
      autoCompact: Option[AutoCompact] = None)
      : BatchOutcome = {
    val spark = batch.sparkSession
    val replayed = BatchOutcome(batchId, -1, -1, -1, -1, -1, replayed = true)
    val applied = Versioned.txnVersion(spark, indexPath, AppId)
    if (applied.exists(_ >= batchId)) return replayed
    // a ledger entry proves the index exists
    if (applied.isEmpty)
      ensureIndex(batch, text, id, indexPath, shingleSize, numHashes, bands)
    // one materialization of the (gated) batch: it feeds the probe,
    // the survivor join and the index append — the upstream micro-batch
    // scan + gate would otherwise re-run per consumer
    val chunk = batch.localCheckpoint(true)
    // the batch is SIGNATURED ONCE: this band frame feeds the probe's
    // three consumers AND the index append below — the per-row
    // signature pass is what scales with a production micro-batch
    val cband = Dedup.bandFrame(chunk, text, id, shingleSize, numHashes,
      bands).localCheckpoint(true)
    // The flags WRITE is the probe's execution point, strictly before
    // this batch's own bands are appended below (a frame re-evaluated
    // after the append would see the batch in the index and flag every
    // doc dup_of_corpus); the survivor join re-reads the written
    // ledger from storage instead of paying a separate checkpoint job,
    // and the outcome counts ride the SAME write job as observed
    // metrics instead of a dedicated aggregate action (optimization
    // r20, guide §1.2 step 1 — two fewer jobs per micro-batch; at
    // production batch sizes those were two extra passes over the
    // flag ledger).
    val obs = org.apache.spark.sql.Observation()
    Dedup.dedupBandedAgainstIndex(chunk, cband, id, indexPath)
      .observe(obs, count(lit(1)).as("adm"),
        sum(col("dup_of_corpus").cast("long")).as("dc"),
        sum(col("dup_in_chunk").cast("long")).as("dk"),
        sum((!col("dup_of_corpus") && !col("dup_in_chunk")).cast("long"))
          .as("srv"))
      .write.mode("overwrite").parquet(s"$outPath/flags/batch=$batchId")
    // read-after-write: this lists and reads the flag files the write
    // above just committed, so the flag path must live on a store
    // whose new files and listings are immediately visible — a stale
    // listing would silently drop survivors
    val flags = spark.read.parquet(s"$outPath/flags/batch=$batchId")
    val survivors = chunk.join(
      flags.where(!col("dup_of_corpus") && !col("dup_in_chunk"))
        .select(col(id)),
      Seq(id), "left_semi")
    survivors.write.mode("overwrite")
      .parquet(s"$outPath/survivors/batch=$batchId")
    val w = try Dedup.commitBands(cband, indexPath, bands, buckets = 0,
      mode = "append", meta = Map(Versioned.txnKey(AppId) -> batchId.toString),
      sizingRows = 0L) // append inherits the declared layout; the
      // lazy sizing thunk is never forced (ensureIndex guarantees a
      // declared base exists)
    catch { case _: Versioned.ReplayedBatch => return replayed }
    // segment hygiene: fold a backlog of small streamed band segments
    // once the threshold crosses — a foreign commit that carries the
    // ledger forward like any other (see [[AutoCompact]])
    val compacted =
      autoCompact.exists(_.maybeCompact(spark, indexPath).isDefined)
    val m = obs.get
    def n(k: String): Long =
      Option(m(k)).fold(0L)(_.asInstanceOf[Number].longValue)
    BatchOutcome(batchId, n("adm"), n("dc"), n("dk"), n("srv"), w.version,
      replayed = false, compacted = compacted)
  }

  /** The foreachBatch sink: `writeStream.foreachBatch(NearDedup.sink(
    * col("text"), "doc_id", indexPath, outPath))`. */
  def sink(text: Column, id: String, indexPath: String, outPath: String,
      shingleSize: Int = 3, numHashes: Int = 16, bands: Int = 4,
      autoCompact: Option[AutoCompact] = None)
      : (DataFrame, Long) => Unit =
    (batch, batchId) => {
      val o = processBatch(batch, batchId, text, id, indexPath, outPath,
        shingleSize, numHashes, bands, autoCompact)
      // the per-batch dedup ledger an unattended stream leaves behind
      // (the outcome counts ride the flags write as observed metrics —
      // no extra job for this line)
      logInfo(
        if (o.replayed)
          s"near-dedup batch ${o.batchId}: replay detected, skipped"
        else s"near-dedup batch ${o.batchId}: admitted=${o.admitted} " +
          s"dup_of_corpus=${o.dupOfCorpus} dup_in_chunk=${o.dupInChunk} " +
          s"survivors=${o.survivors} index_v=${o.indexVersion}")
      ()
    }
}
