package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Tiny CONTENT-ADDRESSED sidecar files next to persisted IVF indexes:
  * the codebook and the product books (`_ivf_codebook-<fp>.txt`,
  * `_ivf_pqbooks-<fp>.txt`), each named by a fingerprint of its own
  * bytes. One read/write implementation so the call sites cannot
  * drift — and so a TRUNCATED sidecar (a crash between create and
  * write leaves a zero-byte file) is repaired by the next write
  * instead of failing every later read. */
private[graft] object Sidecars {

  /** Write `content` to `p`, whose NAME pins the bytes: if the
    * destination already exists it is byte-identical by construction,
    * so the write is SKIPPED outright. This is not just an IO saving —
    * an overwrite goes through `FileContext.rename(OVERWRITE)`, which
    * Hadoop implements as delete-then-rename on the local FS (and which
    * is non-atomic on most object stores), so an identical-bytes
    * rewrite would still open a reader-visible window where the file
    * does not exist. A retrain storm that keeps producing the same seed
    * codebook rewrites the same sidecar over and over; skipping the
    * no-op write closes that window (it failed ConcurrencySpec's IVF
    * storm). The CREATION path is guarded too: racing first-time
    * creators of the same fingerprint both pass the exists() skip, so
    * the rename runs WITHOUT overwrite — the loser gets a
    * FileAlreadyExists refusal (its bytes are identical by
    * construction) instead of delete-then-renaming the winner's file. */
  def write(spark: SparkSession, p: Path, content: String): Unit = {
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Skip only a NON-EMPTY destination: the write path below never
    // produces a truncated file (temp + rename), so a zero-byte
    // destination is always out-of-band damage — and because the
    // skip-on-exists otherwise trusts the name forever, a truncated
    // sidecar would never be repaired by any later write (every probe
    // fails until manual deletion). A damaged destination falls
    // through to the OVERWRITE rename: the repair re-opens the rewrite
    // window, but only on a file every reader already fails on.
    val repairingDamage =
      try {
        if (fs.getFileStatus(p).getLen > 0) return
        true
      } catch { case _: java.io.FileNotFoundException => false }
    // temp + rename, never an in-place write: a crash mid-write would
    // leave a truncated file under the final name
    val tmp = new Path(p.getParent,
      s".${p.getName}.tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    try {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        fs.getUri, fs.getConf)
      if (repairingDamage)
        fc.rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      // FIRST creation: rename WITHOUT overwrite. Two writers racing to
      // create the same new fingerprint both pass the exists() skip
      // above; with Rename.OVERWRITE the loser would delete-then-rename
      // the winner's file — reopening the missing-file window on the
      // creation path. Rename.NONE refuses on an existing destination
      // instead (the loser's bytes are identical — drop its temp).
      else try fc.rename(tmp, p)
      catch {
        // FileAlreadyExistsException on well-behaved filesystems, but
        // some object-store bindings surface the refusal as a plain
        // IOException — any failure with the destination PRESENT means
        // a racing creator won, and its bytes are identical
        case e: java.io.IOException =>
          if (!fs.exists(p)) throw e
          fs.delete(tmp, false)
      }
    } catch {
      // ONLY capability errors (no AbstractFileSystem binding / no
      // atomic-overwrite rename) downgrade to FileSystem.rename — a
      // TRANSIENT IOException must propagate
      case _: org.apache.hadoop.fs.UnsupportedFileSystemException |
          _: UnsupportedOperationException =>
        if (repairingDamage) {
          if (fs.exists(p)) fs.delete(p, false)
          require(fs.rename(tmp, p), s"could not write sidecar $p")
        } else if (fs.exists(p)) fs.delete(tmp, false)
        else if (!fs.rename(tmp, p)) {
          // a racing creator won between the exists probe and the
          // rename (its bytes are identical) — but the loser's temp
          // must still be swept, or .{name}.tmp-<uuid> files leak next
          // to the index on every filesystem without a FileContext
          // binding
          require(fs.exists(p), s"could not write sidecar $p")
          fs.delete(tmp, false)
        }
    }
  }

  /** None iff the file does not exist; an existing file is read fully.
    * The exists-then-open pair is a TOCTOU against a concurrent
    * damage repair (its overwrite rename is delete-then-rename, which
    * can land between the two calls), so a FileNotFound on the open ALSO
    * returns None — otherwise [[readRetrying]] would crash in the
    * exact transient window it exists to absorb. */
  def read(spark: SparkSession, p: Path): Option[String] = {
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else
      // the catch covers the READ LOOP too, not just open(): an
      // object-store binding can pass open()'s HEAD and surface the
      // 404 on the first GET inside the loop (a local FS holds the
      // fd, an object store does not)
      try {
        val in = fs.open(p)
        try {
          val buf = new java.io.ByteArrayOutputStream()
          val arr = new Array[Byte](4096)
          var n = in.read(arr)
          while (n >= 0) { buf.write(arr, 0, n); n = in.read(arr) }
          Some(new String(buf.toByteArray,
            java.nio.charset.StandardCharsets.UTF_8))
        } finally in.close()
      } catch { case _: java.io.FileNotFoundException => None }
  }

  /** [[read]] with a bounded existence retry — for files the caller
    * KNOWS should exist (a manifest-referenced codebook sidecar: the
    * sidecar is always written before the commit that names it, so a
    * miss can only be (a) a concurrent rewrite's rename window —
    * transient, the retry absorbs it — or (b) a genuine out-of-band
    * deletion, which the caller reports after the retries drain).
    * Three 50 ms sleeps bound the worst case at ~150 ms, paid only on
    * the (rare) miss path; the hit path costs one exists() exactly
    * like [[read]]. */
  def readRetrying(spark: SparkSession, p: Path,
      retries: Int = 3, sleepMs: Long = 50): Option[String] = {
    var left = retries
    var got = read(spark, p)
    while (got.isEmpty && left > 0) {
      Thread.sleep(sleepMs)
      got = read(spark, p)
      left -= 1
    }
    got
  }
}
