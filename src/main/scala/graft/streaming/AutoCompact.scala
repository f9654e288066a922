package graft.streaming

import graft.operators.Versioned
import org.apache.spark.sql.SparkSession

/** Opt-in small-file maintenance for the streaming index sinks
  * ([[NearDedup]], [[AnnIngest]]) — the [[AnnIngest.AutoRetrain]]
  * pattern applied to segment hygiene. A bucketed streaming sink
  * commits one small file per bucket per micro-batch; left alone, a
  * night of batches turns every probe's bucket-pruned read into
  * hundreds of file opens. With this policy the sink checks the LIVE
  * manifest after each commit (one cached manifest read — the check
  * costs no filesystem listing) and, when at least `minSmallFiles`
  * data files sit under `minBytes`, fires ONE
  * [[Versioned.compactSmall]]: small segments fold bin-packed into
  * the declared bucket layout, full-size segments are carried on
  * their manifest lines verbatim, so cost tracks the small-file
  * bytes, never the index.
  *
  * The compaction commit is FOREIGN to the sinks' protocols by
  * design and safe by construction: it carries the replay ledger
  * (`txn.*`, see [[Versioned.TxnPrefix]]) forward like every commit,
  * the index descriptors (IVF codebook/fingerprint/baseline, LSH plane
  * family) are resolved by newest-first meta scans that skip commits
  * without their key, and `compactSmall` re-buckets under the DECLARED spec,
  * so probes bucket-prune across the folded segments exactly as
  * before (spec-pinned by the r16 maintenance-composition case; the
  * policy only automates the trigger). Racing appenders are handled
  * inside `compactSmall`'s CAS loop; a lost race just retries against
  * the newer manifest.
  *
  * Thresholds: `minBytes` is both the "small" cutoff and the packing
  * target (Delta OPTIMIZE's discipline); `minSmallFiles` gates how
  * often the fold pays its read-rewrite cost — at the default 64, a
  * 16-bucket index folds roughly every four micro-batches' worth of
  * stragglers, and the fold cost stays proportional to those
  * batches' bytes. Files whose manifest line carries no bytes stat
  * (legacy segments) don't count toward the trigger — `compactSmall`
  * itself still probes and folds them once it runs.
  *
  * ANTI-THRASH (r17 ADVICE): a bucketed fold re-buckets the small
  * rows into one file per OCCUPIED bucket, so an index with more
  * occupied buckets than `minSmallFiles` (nlist ≥ 64 at the default)
  * comes out of a fold with the trigger still tripped — a naive
  * count-only trigger would then rewrite the whole young index on
  * EVERY micro-batch, forever. The policy instead remembers, per
  * path, the small-file count the last fold LEFT (its irreducible
  * residue) and fires only when at least `minSmallFiles` NEW small
  * files have accumulated beyond it — each fold then provably
  * reduces the file count by ≥ minSmallFiles, and the residue's
  * per-bucket files graduate past `minBytes` as they grow. External
  * maintenance shrinking the backlog below the remembered residue
  * lowers the floor automatically (the effective residue is
  * min(remembered, current)). One policy instance is expected per
  * sink (that is how the sinks hold it) — the residue memory is
  * per-path inside the instance, so sharing one instance across
  * sinks is also safe. */
final case class AutoCompact(minBytes: Long = 8L << 20,
    minSmallFiles: Int = 64) extends org.apache.spark.internal.Logging {
  require(minBytes > 0, s"minBytes must be positive, got $minBytes")
  require(minSmallFiles >= 2,
    s"minSmallFiles must be >= 2 (compaction of one file is a no-op), " +
      s"got $minSmallFiles")

  /** Small-file count the last fold left behind, per path — the
    * irreducible floor the trigger measures growth against. In the
    * instance, not on disk: a restart just pays one possibly-
    * unproductive fold to relearn it. */
  private val residue =
    new java.util.concurrent.ConcurrentHashMap[String, Long]()

  /** Check the live manifest and compact iff at least `minSmallFiles`
    * small files accumulated beyond the last fold's residue. Returns
    * (new version, files rewritten, files carried) when a compaction
    * committed; None when the index is still tidy, a fold could not
    * help, or a concurrent compaction got there first. */
  def maybeCompact(spark: SparkSession, path: String)
      : Option[(Long, Long, Long)] = {
    def countSmall(version: Option[Long] = None): Long =
      Versioned.fileStats(spark, path, version)
        .valuesIterator.count(_.bytes.exists(_ < minBytes)).toLong
    val small = countSmall()
    // external maintenance (a concurrent sink's fold, an operator
    // OPTIMIZE) can shrink the backlog below the remembered residue —
    // PERSIST the lowered floor, or it would chase the growing count
    // back up and silently absorb (remembered − trough) new files
    // before re-arming
    val stored = residue.getOrDefault(path, 0L)
    val floor = math.min(stored, small)
    if (floor < stored) residue.put(path, floor)
    if (small - floor < minSmallFiles) None
    else {
      // best-effort by contract: the micro-batch whose commit
      // triggered this fold has already landed — a compaction that
      // exhausts its CAS retries under a writer storm must WARN and
      // yield (the backlog re-triggers next batch), never crash the
      // stream over maintenance
      val res =
        try Versioned.compactSmall(spark, path, minBytes)
        catch {
          case e: Versioned.CommitRaceExhausted =>
            logWarning(
              s"auto-compact $path lost its commit race to the writer " +
                "storm; deferring to the next batch", e)
            None
        }
      res.foreach { case (v, rewritten, carried) =>
        // residue from the fold's OWN committed version, not the live
        // manifest: a concurrent sink's append landing between the
        // fold and this read would otherwise be baked into the floor
        // and silently absorbed (never counting toward the re-arm).
        // Best-effort like everything here: a concurrent VACUUM can
        // drop version v before this read — fall back to the live
        // count rather than crash a stream over residue bookkeeping.
        val post =
          try countSmall(Some(v))
          catch { case scala.util.control.NonFatal(_) => countSmall() }
        residue.put(path, post)
        if (post >= small)
          logWarning(
            s"auto-compact $path: fold reduced nothing ($small -> " +
              s"$post small files — per-bucket bytes still under " +
              s"$minBytes across ${post} occupied buckets); deferring " +
              s"until $minSmallFiles new small files accumulate")
        else
          logInfo(
            s"auto-compact $path: folded $rewritten small files " +
              s"(carried $carried) into version $v ($small -> $post " +
              "small)")
      }
      res
    }
  }
}
