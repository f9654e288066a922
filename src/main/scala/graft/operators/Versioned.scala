package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField,
  StructType}
import scala.collection.mutable

/** Versioned snapshot tables over parquet — manifest-based commits with
  * time travel, the transaction-log discipline the reference gets from
  * Delta (`Ingest:305` writes Delta precisely for atomic overwrites and
  * history). Layout:
  *
  * {{{
  *   <table>/data/<uuid>/part-*.parquet   immutable data segments
  *   <table>/_graft_log/<N>.manifest      commit N: mode + file list
  * }}}
  *
  * The MANIFEST RENAME is the commit point: data segments are written
  * first under a fresh uuid dir (invisible — readers only open files a
  * manifest names), then the manifest is staged hidden and renamed into
  * place. HDFS/local rename-without-overwrite is atomic, so a crash at
  * any step leaves either the old latest version or the new one — never
  * a torn table; orphaned segments are swept by [[vacuum]]. Concurrent
  * committers race on the rename and the loser RETRIES against the new
  * latest (optimistic concurrency, Delta-style).
  *
  * Readers resolve a manifest (latest or pinned) and read its explicit
  * file list — no directory globbing, so read planning is O(manifest)
  * rather than O(listing 100 TB of dirs), and historic versions stay
  * readable until vacuumed.
  */
object Versioned extends org.apache.spark.internal.Logging {

  /** Manifest-log dir name — shared with the DSv2 catalog's
    * "is this dir a snapshot table" probe (GraftCatalog.listTables). */
  private[graft] val LogDir = "_graft_log"

  /** Meta key carrying the commit wall-clock (epoch millis), written
    * by every commit; manifests from before this key fall back to
    * file mtime in [[versionAt]]/[[history]]. */
  private[graft] val CommitTsKey = "commit_ts_ms"

  /** System header carrying the version's RESOLVED file count — what
    * keeps DESCRIBE HISTORY at one manifest read per version now that
    * a manifest may store delta actions rather than the full list. */
  private[graft] val NFilesKey = "n_files"

  /** Reader-protocol version this code understands (Delta's
    * min_reader_version discipline): every commit stamps
    * `#reader=<n>`, and resolution REFUSES a manifest stamped higher —
    * a future format feature (new action kinds, changed line
    * semantics) must fail loudly on old readers, never be silently
    * misread as the subset they happen to parse. Absent header =
    * protocol 1 (all pre-protocol manifests). Protocol 2 = the
    * manifest may carry a [[CkptKey]] pointer to a gzip'd body
    * sidecar; plain manifests still stamp 1, so only builds reading a
    * pointer checkpoint need the newer reader. */
  private[graft] val ReaderProtocol = 2
  private[graft] val ReaderKey = "reader"

  /** Header naming a COMPRESSED CHECKPOINT sidecar
    * (`_graft_log/<uuid>.checkpoint.gz`, gzip'd file lines): a big
    * full manifest stores a tiny header-only pointer instead of an
    * O(table) text body — Delta's `checkpoint.parquet` discipline.
    * On a million-file table this turns every 20th commit's ~100 MB
    * text write into ~10 MB compressed, and keeps header reads
    * (DESCRIBE HISTORY, readMeta, the contract-key merge) at one
    * TINY file regardless of table size. The sidecar is uuid-named
    * (two racing committers can never cross-link), deleted with its
    * manifest by VACUUM, and orphan-swept past the grace window. */
  private val CkptKey = "ckpt"

  /** Full manifests at or above this many file lines are stored as
    * pointer + gzip sidecar; smaller ones stay human-readable text. */
  private[graft] val CheckpointGzMinLines = 256

  /** Writer-protocol stamp (Delta's `minWriterVersion` /
    * table-features discipline): a version whose meta carries DUTIES —
    * invariants, a bloom declaration, a schema carrier, a column
    * mapping — stamps `#writer=2`, and [[commitManifest]] REFUSES to
    * commit onto a base stamped higher than this build understands.
    * That turns the carry-the-contract-keys convention into an
    * enforced contract: an older (or third-party) writer that does
    * not know a declared duty can still READ the table (the reader
    * stamp is separate) but can never land a commit that would
    * silently uninstall or bypass it. Duty-free tables stamp 1, so
    * downgrade tolerance is maximal. */
  private[graft] val WriterProtocol = 2
  private[graft] val WriterKey = "writer"

  /** The writer protocol a commit's FINAL meta demands. An
    * empty-VALUED contract key imposes no duty: dropping the last
    * constraint leaves an explicit `inv=` (to override inheritance),
    * and the now-duty-free table must stamp back down to 1 so older
    * writers regain it. */
  private def requiredWriter(meta: Map[String, String]): Int =
    if (meta.exists { case (k, v) => ContractKeys(k) && v.nonEmpty }) 2
    else 1

  /** Refuse to COMMIT onto (or maintain) a version stamped by a newer
    * writer — its meta may declare duties this build cannot honor. */
  private def checkWriter(root: Path, v: Long,
      lines: Seq[String]): Unit =
    lines.collectFirst { case l if l.startsWith(s"#$WriterKey=") =>
      l.stripPrefix(s"#$WriterKey=") }
      .flatMap(s => scala.util.Try(s.toInt).toOption)
      .filter(_ > WriterProtocol)
      .foreach(n => throw new IllegalStateException(
        s"version $v of $root requires writer protocol $n; this build " +
          s"understands up to $WriterProtocol — refusing to commit " +
          "(a newer writer declared table duties this build would " +
          "silently drop or bypass)"))

  /** Header keys owned by the log layer — never surfaced as user meta
    * by [[readMeta]]/[[history]]. */
  private val SystemKeys =
    Set(CommitTsKey, NFilesKey, ReaderKey, CkptKey, WriterKey)

  /** Marker header of a DELTA manifest. Deliberately `=`-free: the
    * meta parser only yields `k=v` pairs, so the marker can never leak
    * into user metadata even through legacy readers. */
  private val DeltaMarker = "#delta"

  /** A full-snapshot manifest (checkpoint) is written at least every
    * this-many commits; in between, a commit stores only its ACTIONS
    * (`A\t<line>` add-or-replace by rel path, `R\t<rel>` remove) —
    * Delta's delta-log + `_last_checkpoint` discipline. Without it
    * every commit rewrites the full file list: a streaming sink
    * committing per batch onto a 1M-file table would write ~100 MB of
    * metadata per MICRO-BATCH, the one remaining O(table)-per-commit
    * cost in the format. The interval also bounds read planning: a
    * resolution walks back at most this many manifests to the nearest
    * checkpoint. */
  private[graft] val CheckpointInterval = 20

  /** Meta key declaring the version's bucket layout as `<col>/<n>`:
    * every data file of the version lives under a `gb-<id>` dir and
    * holds exactly the rows with `pmod(hash(col), n) = id`. The DSv2
    * scan turns this into a KeyGroupedPartitioning report, which is
    * what lets Spark join two co-bucketed tables with ZERO shuffle
    * (storage-partitioned join). Per-version on purpose: an overwrite
    * or a foreign (unbucketed) append simply drops the declaration
    * and the table degrades to a normal scan — never wrong, just
    * un-optimized. */
  private[graft] val BucketKey = "bucket"

  /** Prefix of the STREAMING TRANSACTION LEDGER (Delta's
    * SetTransaction): a meta key `txn.<appId>=<batchId>` records that
    * writer `appId` committed batch `batchId`. [[commitManifest]]
    * checks it under the commit lock against the base the commit lands
    * on — a batch the base already records is refused with
    * [[ReplayedBatch]] — and carries every entry the commit does not
    * name onto the new version, whatever the commit (append, overwrite,
    * DML, compaction, RESTORE, DDL). The latest manifest therefore
    * always holds the whole ledger and VACUUM can never erase it;
    * [[txnVersion]] reads it with one header read. */
  private[graft] val TxnPrefix = "txn."

  private[graft] def txnKey(appId: String): String = TxnPrefix + appId

  private def txnOf(meta: Map[String, String]): Map[String, String] =
    meta.filter(_._1.startsWith(TxnPrefix))

  /** Commit time of a version: the manifest's embedded commit_ts_ms
    * when present (authoritative — survives copies and clock skew),
    * else the manifest file's mtime (legacy manifests). */
  private def commitTimeMs(fs: FileSystem, root: Path, v: Long): Long =
    manifestHeaders(fs, root, v)
      .collectFirst { case l if l.startsWith(s"#$CommitTsKey=") =>
        l.stripPrefix(s"#$CommitTsKey=") }
      .flatMap(s => scala.util.Try(s.toLong).toOption)
      .getOrElse(fs.getFileStatus(new Path(root, s"$LogDir/$v.manifest"))
        .getModificationTime)

  /** Thrown by mode="create" when the table already has a committed
    * version — raised INSIDE the commit loop's CAS, so of two racing
    * creators exactly one lands version 0 and the other gets this
    * (never a silent destructive overwrite, the check-then-act hole
    * SaveMode.ErrorIfExists/Ignore would otherwise have). */
  final class CreateConflict(table: String) extends IllegalStateException(
    s"snapshot table $table already exists")

  /** Thrown by a commit naming ledger entry `txn.<appId>=<batch>` when
    * the base it lands on already records `appId` at `landed >= batch`
    * (see [[TxnPrefix]]) — a second delivery of a batch that already
    * committed. Raised INSIDE the commit lock, so of two deliveries of
    * one batch exactly one lands; the refused attempt's staged segment
    * is deleted and nothing is retried. */
  final class ReplayedBatch(table: String, val appId: String,
      val batch: Long, val landed: Long) extends IllegalStateException(
    s"batch $batch of $appId is already committed to $table " +
      s"(ledger at $landed)")

  /** Thrown when a rewrite-shaped operation (OPTIMIZE/compactSmall,
    * MERGE/DML rewrite, DV write) exhausts its CAS attempts under a
    * writer storm. A TYPED class, not a bare IllegalStateException:
    * best-effort callers (the streaming sinks' AutoCompact) must
    * distinguish "maintenance lost the race — defer" from every other
    * illegal state, and matching on message text breaks the moment
    * the wording changes (r17 ADVICE). The retry is safe by contract:
    * nothing from the failed attempt is committed, and abandoned
    * segment files were already deleted. */
  final class CommitRaceExhausted(what: String, attempts: Int)
    extends IllegalStateException(
      s"$what kept losing the commit race ($attempts attempts) — " +
        "retry when the writer storm subsides")

  /** Thrown by a bucketed APPEND whose commit attempt lands on a base
    * whose declared bucket layout no longer matches the layout the
    * append's segment files were hashed under — a REBUCKET (or any
    * layout-changing overwrite) interleaved between the append's
    * layout check and its commit. Committing anyway would declare one
    * layout over files hashed under another (a silently corrupt
    * KeyGroupedPartitioning report: co-located joins would MISS rows),
    * so the append refuses loudly; re-running it re-buckets the same
    * rows under the landed layout. */
  final class BucketLayoutChanged(table: String, staged: String,
      landed: String) extends IllegalStateException(
    s"bucket layout of $table changed concurrently under append: " +
      s"segment staged as $staged but the landed base declares " +
      s"$landed — re-run the append (it will hash under the new layout)")

  /** Commit `df` as the next version. `mode` is "overwrite" (snapshot =
    * just these files), "append" (snapshot = previous latest's files +
    * these) or "create" (overwrite that REFUSES atomically — a
    * [[CreateConflict]] — if any version exists, for exclusive-create
    * SaveMode semantics). `meta` key/values ride the manifest as
    * `#k=v` header lines — committed ATOMICALLY with the file list
    * (the one rename), which is what lets a streaming sink record
    * "this version folded batch N" with no window where the data and
    * the marker disagree. Returns the committed version number. */
  def commit(df: DataFrame, table: String, mode: String = "overwrite",
      meta: Map[String, String] = Map.empty): Long =
    commitRows(df, table, mode, meta, None)

  /** [[commit]] with a bucketed physical layout: rows are split by
    * `pmod(hash(bucketCol), numBuckets)` (Spark's Murmur3 `hash`, the
    * same function [[graft.sources.GraftCatalog]] exposes as the V2
    * `bucket` function) and each bucket lands in its own `gb-<id>`
    * subdir of the fresh segment. The manifest declares the layout via
    * [[BucketKey]] meta, and the catalog scan then reports
    * KeyGroupedPartitioning — two tables committed with the SAME
    * (column-name-modulo, numBuckets) spec join on that key with no
    * exchange on either side. Appends must keep the base version's
    * spec (checked); use plain [[commit]] to intentionally de-bucket.
    *
    * At 100 TB this is the difference between re-shuffling both sides
    * of every fact-fact join and reading co-located buckets: the
    * shuffle is paid ONCE at write time, then amortized over every
    * subsequent join, like Hive/Spark `bucketBy` but on an open lake
    * format with time travel (Iceberg's bucket partition transform is
    * the public precedent). */
  def commitBucketed(df: DataFrame, table: String, bucketCol: String,
      numBuckets: Int, mode: String = "overwrite",
      meta: Map[String, String] = Map.empty): Long = {
    require(numBuckets > 0 && numBuckets <= 100000,
      s"numBuckets out of range: $numBuckets")
    require(df.columns.map(_.toLowerCase(java.util.Locale.ROOT))
      .contains(bucketCol.toLowerCase(java.util.Locale.ROOT)),
      s"bucket column $bucketCol not in ${df.columns.mkString(",")}")
    require(!bucketCol.contains('/') && !bucketCol.contains('=') &&
      !bucketCol.contains('\n'), s"unencodable bucket column: $bucketCol")
    // the V2 `bucket` function (GraftCatalog) must reproduce this
    // layout's hash exactly; both sides support precisely these types
    locally {
      import org.apache.spark.sql.types._
      val kt = df.schema.fields
        .find(_.name.equalsIgnoreCase(bucketCol)).get.dataType
      require(Seq(IntegerType, LongType, StringType, DateType,
        TimestampType).contains(kt),
        s"bucket column type ${kt.catalogString} not supported " +
          "(int/bigint/string/date/timestamp)")
    }
    commitRows(df, table, mode, meta, Some((bucketCol, numBuckets)))
  }

  /** The body of [[commit]] and [[commitBucketed]] (`bucket` names the
    * LOGICAL bucket column): enforce the append's schema against the
    * latest version, stage the rows once, land them under [[Retry]]. */
  private def commitRows(df: DataFrame, table: String, mode: String,
      meta: Map[String, String], bucket: Option[(String, Int)]): Long = {
    require(mode == "overwrite" || mode == "append" || mode == "create",
      s"bad mode: $mode")
    require(meta.forall { case (k, v) =>
      !k.contains('\n') && !k.contains('=') && !v.contains('\n') },
      "meta keys must be '='-free and keys/values single-line")
    val spark = df.sparkSession
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val baseV = latestVersion(fs, root)
    // fast-path refusal before staging anything; the AUTHORITATIVE
    // check re-runs inside the commit loop against the CAS base
    if (mode == "create" && baseV.isDefined) throw new CreateConflict(table)
    // the writer-protocol gate fires BEFORE any schema work or
    // segment write (commitManifest backstops it atomically)
    baseV.foreach(b => checkWriter(root, b, manifestHeaders(fs, root, b)))
    // column mapping: appends inherit the table's mapping (and write
    // PHYSICAL names); an overwrite clears it — the new snapshot is
    // written directly under logical names (the materialization
    // point). Meta that already carries mapping keys wins (the
    // rename/drop DDL path and restore construct it explicitly).
    // Read at EXACTLY baseV: reading "latest" separately would leave
    // a window where a just-landed rename's mapping is overwritten by
    // the pre-rename one — and the commit loop's contract merge keys
    // its inherited-vs-explicit decision on baseV's values. With no
    // base there is nothing to inherit (`None` would mean "latest").
    val mapping =
      if (meta.contains(ColumnMapping.ColMapKey) ||
          meta.contains(ColumnMapping.ColDropKey))
        ColumnMapping.fromMeta(meta)
      else if (mode == "append" && baseV.isDefined)
        columnMapping(spark, table, baseV)
      else ColumnMapping.empty
    // the bucket column is translated to its physical name (the
    // declared layout is keyed in the physical space — rename of a
    // bucket column is refused, so the two normally coincide)
    val spec = bucket.map { case (c, n) => (mapping.physicalOf(c), n) }
    for (v <- baseV if mode == "append"; (physCol, n) <- spec) {
      val declared = parseBucketMeta(readMeta(spark, table, v))
      require(declared.exists(d =>
        d._1.equalsIgnoreCase(physCol) && d._2 == n),
        s"append spec ($physCol/$n) does not match base " +
          s"version $v bucket layout ${declared.getOrElse("<none>")}")
    }
    val (physDf, carrier, union) = baseV match {
      case Some(v) if mode == "append" =>
        enforceAppend(spark, table, v, mapping.applyWrite(df))
      case _ => (mapping.applyWrite(df), None, None)
    }
    // appends inherit the bloom-index declaration (like the carrier);
    // an overwrite is a fresh snapshot — redeclare to keep indexing
    val bloomMeta = baseV.filter(_ => mode == "append")
      .map(metaKeys(spark, table, _, BloomIndex.MetaKey))
      .getOrElse(Map.empty)
    // invariants are DUTIES, not layout: they survive overwrite too
    // (drop one explicitly via dropInvariant), and every incoming row
    // must satisfy them — validated on the STAGED bytes below, so the
    // commit refuses before the manifest ever references them
    val invMeta = baseV
      .filter(_ => !meta.contains(Invariants.MetaKey))
      .map(metaKeys(spark, table, _, Invariants.MetaKey))
      .getOrElse(Map.empty)
    val staged = stage(spark, fs, root, physDf, mapping,
      Invariants.decode(meta ++ invMeta), s"$mode commit", spec)
    val committed = transact(spark, fs, root, table, staged,
      meta ++ bloomMeta ++ invMeta ++ carrier, Retry(mode, baseV),
      if (mode == "append") Some(_ ++ staged.lines) else None).get
    advanceSchemaCache(fs, root, baseV, committed, union,
      staged.lines.nonEmpty, physDf.schema)
    // an interleaved commit may have introduced columns this commit's
    // carrier (computed pre-race) doesn't know — repair it
    if (carrier.isDefined && baseV.exists(committed != _ + 1))
      repairCarrier(spark, table, committed)
    committed
  }

  /** Total LIVE data bytes of a version (default latest), summed from
    * the manifest's `bytes=` stats — zero data reads; one filesystem
    * probe only per legacy line written before stats existed (an
    * unreachable legacy file counts 0 rather than failing a sizing
    * decision). None when the table has no committed version. Sizing
    * decisions (bucket counts, compaction thresholds) should come from
    * here, never from a data scan. */
  def tableBytes(spark: SparkSession, table: String,
      version: Option[Long] = None): Option[Long] = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    version.orElse(latestVersion(fs, root)).map { v =>
      readFileLines(fs, root, v).map { line =>
        val (rel, stats, _) = parseLine(line)
        stats.flatMap(SegmentStats.parse).flatMap(_.bytes).getOrElse {
          try fs.getFileStatus(new Path(root, rel)).getLen
          catch { case scala.util.control.NonFatal(_) => 0L }
        }
      }.sum
    }
  }

  /** The bucket layout of a version (default latest): (column, n) when
    * the manifest declares one AND every data file sits in a `gb-<id>`
    * dir — a half-bucketed version (foreign append, hand-edited
    * manifest) reports None, so readers can never claim a partitioning
    * the files don't deliver. */
  def bucketSpec(spark: SparkSession, table: String,
      version: Option[Long] = None): Option[(String, Int)] = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = version.orElse(latestVersion(fs, root)).getOrElse(return None)
    parseBucketMeta(readMeta(spark, table, v)).filter { case (_, n) =>
      readManifest(fs, root, v).forall(rel =>
        bucketIdOf(rel).exists(_ < n))
    }
  }

  private def parseBucketMeta(meta: Map[String, String])
      : Option[(String, Int)] =
    meta.get(BucketKey).flatMap { s =>
      val cut = s.lastIndexOf('/')
      if (cut <= 0) None
      else scala.util.Try(s.substring(cut + 1).toInt).toOption
        .filter(_ > 0).map(n => (s.substring(0, cut), n))
    }

  /** Bucket id encoded in a data-file path (`.../gb-<id>/part-…`), or
    * None for unbucketed files. Dir-based (not `k=v`) so neither
    * Spark's partition inference nor the manifest format changes. */
  private[graft] def bucketIdOf(path: String): Option[Int] = {
    val segs = path.split('/')
    if (segs.length < 2) None
    else {
      val d = segs(segs.length - 2)
      if (d.startsWith("gb-"))
        scala.util.Try(d.stripPrefix("gb-").toInt).toOption.filter(_ >= 0)
      else None
    }
  }

  /** Conditional [[commit]]: succeeds only if the table's latest
    * version at commit time is still `expectedBase` — the optimistic-
    * concurrency primitive for read-compute-overwrite cycles whose
    * OUTPUT depends on what they read (OPTIMIZE reads the whole table
    * and overwrites; a commit landing in between would be silently
    * dropped from the rewritten snapshot). On conflict the staged
    * segment is deleted (best-effort) and None is returned — the
    * caller recomputes against the new latest or gives up, exactly
    * like [[rewrite]]'s internal retry. */
  def commitIf(df: DataFrame, table: String, mode: String,
      meta: Map[String, String], expectedBase: Long,
      bucket: Option[(String, Int)] = None,
      sortWithinBuckets: Seq[String] = Nil): Option[Long] = {
    require(mode == "overwrite" || mode == "append", s"bad mode: $mode")
    require(sortWithinBuckets.isEmpty || bucket.isDefined,
      "sortWithinBuckets requires a bucket layout (the sort columns " +
        "are dropped by the bucketed write path)")
    val spark = df.sparkSession
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // same mapping discipline as [[commit]]: append inherits (from the
    // expected base — the version the caller read), overwrite clears
    val mapping =
      if (mode == "append") columnMapping(spark, table, Some(expectedBase))
      else ColumnMapping.empty
    // the expected base's invariants gate the incoming rows and ride
    // the new version
    val invMeta = metaKeys(spark, table, expectedBase, Invariants.MetaKey)
    val staged = stage(spark, fs, root, mapping.applyWrite(df), mapping,
      Invariants.decode(meta ++ invMeta), "conditional snapshot commit",
      bucket, sortWithinBuckets)
    transact(spark, fs, root, table, staged, meta ++ invMeta,
      Expect(expectedBase),
      if (mode == "append") Some(_ ++ staged.lines) else None)
  }

  /** [[commitIf]] (append mode) for CAS-RETRY loops: the segment is
    * staged ONCE and the conditional commit retried across interleaved
    * commits, with the CALLER adjudicating each retry. Without this, a
    * caller looping plain [[commitIf]] pays the full staging write
    * (shuffle + one file per non-empty bucket) PER LOST ATTEMPT — at N
    * concurrent appenders that is O(N²) staging work for O(N) commits,
    * the kind of quadratic a 1000-executor ingest into one index table
    * turns into a real bottleneck. Here a lost CAS costs one manifest
    * re-read and one adjudication callback.
    *
    * `adjudicate()` runs after each conflict and returns the NEW
    * (expectedBase, meta) to retry on — Some iff the staged rows are
    * still valid under the table's new latest (for the ANN appends:
    * the codebook fingerprint and bucket layout they were assigned
    * under survive) — or None to abandon (staged segment deleted,
    * returns None; the caller re-runs its slow path). Two guards stay
    * HERE because the staged bytes were validated/written under the
    * first base's contract: a retry base whose invariant rule set or
    * column mapping differs from the first base's abandons regardless
    * of the adjudication — rows never land unvalidated and bytes never
    * land under a mapping they were not written for. */
  def commitIfAdjudicated(df: DataFrame, table: String,
      meta: Map[String, String], expectedBase: Long,
      bucket: Option[(String, Int)],
      adjudicate: () => Option[(Long, Map[String, String])]): Option[Long] = {
    val spark = df.sparkSession
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mapping = columnMapping(spark, table, Some(expectedBase))
    val invMeta = metaKeys(spark, table, expectedBase, Invariants.MetaKey)
    val staged = stage(spark, fs, root, mapping.applyWrite(df), mapping,
      Invariants.decode(meta ++ invMeta), "conditional snapshot commit",
      bucket)
    transact(spark, fs, root, table, staged, meta ++ invMeta,
      Adjudicate(expectedBase, () => adjudicate().collect {
        case (b, m) if readMeta(spark, table, b).get(Invariants.MetaKey) ==
            invMeta.get(Invariants.MetaKey) &&
            columnMapping(spark, table, Some(b)) == mapping =>
          (b, m ++ invMeta)
      }),
      Some(_ ++ staged.lines))
  }

  /** Test-only seam: invoked by [[commitIfAppendRebase]] between
    * staging the snapshot segment and the commit attempt — the window
    * a concurrent commit lands in. Production value is a no-op. */
  private[graft] var rebaseTestHook: () => Unit = () => ()

  /** [[commitIf]] for whole-snapshot rewrites (MERGE) that may REBASE
    * an APPEND-ONLY interleave instead of refusing: if every line of
    * `expectedBase` survives byte-identical in the latest version, the
    * interleaved commits only appended files — and if `guard` (the
    * operation's stats-expressible key domain) PROVES none of those
    * appended files can contain a row the operation would have
    * matched, the commit lands as the new snapshot PLUS the appended
    * lines carried verbatim. Anything else (a changed/removed base
    * line, an appended file inside the key domain, no guard, a column
    * mapping in play) still returns None — a streaming sink appending
    * unrelated rows every few seconds no longer starves a MERGE, while
    * rows the MERGE should have seen still force a loud re-run
    * (Delta's ConcurrentAppend discipline). `rebase = false` restores
    * exact [[commitIf]] behavior. */
  def commitIfAppendRebase(df: DataFrame, table: String,
      meta: Map[String, String], expectedBase: Long,
      bucket: Option[(String, Int)] = None,
      guard: () => Seq[org.apache.spark.sql.sources.Filter] = () => Nil,
      rebase: Boolean = true): Option[Long] = {
    val spark = df.sparkSession
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // same invariant gate as [[commitIf]]: the MERGE snapshot's rows
    // must satisfy the base's declared rules, which ride the commit.
    // The snapshot is written under LOGICAL names (the empty mapping):
    // a mapped table's carried appended lines keep physical names, so
    // a rebase onto a mapped base would mix two name spaces — refused
    val invMeta = metaKeys(spark, table, expectedBase, Invariants.MetaKey)
    val staged = stage(spark, fs, root, df, ColumnMapping.empty,
      Invariants.decode(meta ++ invMeta), "merge snapshot commit", bucket)
    val baseLines = readFileLines(fs, root, expectedBase)
    rebaseTestHook()
    // the guard may cost Spark jobs (source key-bound aggregates) —
    // evaluate it LAZILY, only when a conflict actually materializes;
    // the no-conflict hot path must stay jobless
    lazy val guardFilters = guard()
    val baseSet = baseLines.toSet
    transact(spark, fs, root, table, staged, meta ++ invMeta,
      if (rebase) Rebase(expectedBase, baseLines, baseLines, () => guardFilters)
      else Expect(expectedBase),
      Some(ls => staged.lines ++ ls.filterNot(baseSet)))
  }

  /** A fresh segment staged for ONE commit: its manifest lines, plus
    * the column mapping its bytes were written under and the bucket
    * layout they were hashed under (both ride the commit's meta). The
    * lines are empty when the commit only rewrites manifest lines (a
    * DML that matched nothing, a DV delete). */
  private final case class Staged(lines: Seq[String],
      mapping: ColumnMapping, bucket: Option[(String, Int)])

  /** What [[transact]] does when the version it lands on is not
    * `from`, the base the commit was computed against. */
  private sealed abstract class OnConflict(val from: Option[Long])

  /** Always land ([[commit]]): re-merge the landed base, re-validate
    * the STAGED rows against an invariant that landed meanwhile. */
  private final case class Retry(mode: String, base: Option[Long])
      extends OnConflict(base)

  /** Land only on `base`; any interleave abandons. */
  private final case class Expect(base: Long) extends OnConflict(Some(base))

  /** Land on `base`; after each conflict `next` names the (base, meta)
    * to retry on, or None to abandon. */
  private final case class Adjudicate(base: Long,
      next: () => Option[(Long, Map[String, String])])
      extends OnConflict(Some(base))

  /** Land on `base`, or REBASE onto an interleave that kept every
    * `mustSurvive` line; `read` = the lines the operation read, `guard`
    * = its stats-expressible predicate. Any other conflict abandons. */
  private final case class Rebase(base: Long, read: Seq[String],
      mustSurvive: Seq[String],
      guard: () => Seq[org.apache.spark.sql.sources.Filter])
      extends OnConflict(Some(base))

  /** The one staged-row commit (Delta's OptimisticTransaction shape):
    * land `staged` through [[commitManifest]] with `meta` plus the
    * staged mapping and bucket layout, and as file lines `files`
    * applied to the lines of the base it lands on (None: the staged
    * lines alone — an overwrite). `policy` resolves conflicts. Returns
    * the committed version, or None when the policy abandons; every
    * abandoned or refused attempt (a [[ReplayedBatch]] included)
    * deletes the staged segment first. */
  private def transact(spark: SparkSession, fs: FileSystem, root: Path,
      table: String, staged: Staged, meta: Map[String, String],
      policy: OnConflict,
      files: Option[Seq[String] => Seq[String]]): Option[Long] = {
    def linesOf(b: Option[Long]) = b.toSeq.flatMap(readFileLines(fs, root, _))
    def compose(base: => Seq[String]) = files.fold(staged.lines)(_(base))
    def abandon(): Unit = deleteAbandonedSegment(fs, root, staged.lines)
    val bucketMeta = staged.bucket.map { case (c, n) => BucketKey -> s"$c/$n" }
    var expected = policy.from
    // an overwrite is a fresh snapshot: only the invariant DUTIES
    // re-merge from the landed base
    val inheritKeys = policy match {
      case Retry(mode, _) if mode != "append" => Set(Invariants.MetaKey)
      case _ => ContractKeys
    }
    var curMeta = meta
    // the set of rules the STAGED rows have been checked against grows
    // across retries, SEPARATELY from the commit's meta: folding the
    // merged rule string into the meta would make it look like this
    // commit's EXPLICIT intent in the next attempt's three-way merge —
    // resurrecting a constraint a concurrent DROP removed in between
    // (our != exp with land = the explicit empty drop); and advancing
    // the contract base instead would skip the re-merge and silently
    // drop an interleaved bloom/rename/carrier. Meta and base both
    // stay put; only the validated set advances.
    var validated: Set[Invariants.Rule] = Invariants.decode(meta).toSet
    val filesFor: Option[Long] => Seq[String] = landed => policy match {
      case Retry(mode, _) =>
        if (mode == "create" && landed.isDefined)
          throw new CreateConflict(table) // lost the create race
        // the append's layout check ran at the base its segment was
        // hashed under; if the base MOVED, re-check the LANDED base's
        // declared layout — an interleaved REBUCKET would otherwise
        // rebase old-count gb-* files under a new-count declaration
        // (BucketKey is deliberately not a merged contract key:
        // layouts don't three-way-merge)
        if (mode == "append" && landed != expected)
          staged.bucket.foreach { case (c, n) =>
            val land = landed.flatMap(v =>
              parseBucketMeta(readMetaRaw(fs, root, v)))
            if (!land.exists(d => d._1.equalsIgnoreCase(c) && d._2 == n))
              throw new BucketLayoutChanged(table, s"$c/$n",
                land.map(d => s"${d._1}/${d._2}").getOrElse("<none>"))
          }
        compose(linesOf(landed))
      case Rebase(_, read, mustSurvive, guard) if landed != expected =>
        val latest = linesOf(landed)
        if (!mustSurvive.toSet.subsetOf(latest.toSet) || // stale read
            // an interleaved RENAME/DROP (metadata-only — changes no
            // line) must not be silently overwritten by our meta
            columnMapping(spark, table, landed) != staged.mapping ||
            // write-skew: an interleaved append whose file MAY hold
            // predicate-matching rows must force a recompute — a
            // rebase would carry those rows past the operation
            interleavedMayMatch(latest, read, guard()))
          throw new RewriteConflict
        compose(latest)
      case Rebase(_, read, _, _) => compose(read)
      case _ =>
        if (landed != expected) throw new RewriteConflict
        compose(linesOf(landed))
    }
    commitTestHook() // the staged → commit window
    var attempts = 0
    while (true) {
      attempts += 1
      try return Some(commitManifest(fs, root,
        curMeta ++ staged.mapping.toMeta ++ bucketMeta, filesFor,
        expected, inheritKeys, Some(validated)))
      catch {
        case ic: InvariantsChanged => policy match {
          case Retry(mode, _) if attempts <= 5 =>
            val fresh = Invariants.decode(Map(Invariants.MetaKey -> ic.inv))
            enforceStaged(spark, fs, root, staged.lines, fresh,
              s"$mode commit (constraint added concurrently)", staged.mapping)
            validated ++= fresh
            commitTestHook() // the re-validation → retry window
          case Retry(_, _) =>
            abandon()
            throw new IllegalStateException(
              s"commit on $table kept racing invariant declarations " +
                s"($attempts attempts) — retry when the DDL storm subsides")
          // a constraint landed mid-rewrite: abandon like any conflict —
          // the re-run validates against the new latest's declaration
          case _ => abandon(); return None
        }
        case _: RewriteConflict =>
          // an adjudication that THROWS must not leak the staged
          // segment (it is invisible to VACUUM) — delete, then rethrow
          val next = policy match {
            case Adjudicate(_, next) if attempts < 50 => // storm backstop
              try next()
              catch { case scala.util.control.NonFatal(e) => abandon(); throw e }
            case _ => None
          }
          next match {
            case Some((b, m)) =>
              expected = Some(b); curMeta = m
              // jittered linear backoff: in-JVM storms serialize on
              // the commit lock, but CROSS-PROCESS writers racing the
              // same table would otherwise spin the manifest CAS hot;
              // bounded at 200 ms so a converging storm stays fast
              if (attempts > 1) Thread.sleep(
                math.min(200L, 10L * attempts) +
                  scala.util.Random.nextInt(10))
            case None => abandon(); return None
          }
        case e @ (_: CreateConflict | _: BucketLayoutChanged |
            _: ReplayedBatch) =>
          abandon(); throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Validate freshly STAGED segment files against `rules` — the
    * exact bytes the commit will reference, not the (possibly
    * non-deterministic) incoming frame, so a `rand()`/sampled input
    * can never pass validation with one set of rows and land another
    * (ADVICE r9). One aggregate pass over the fresh segment only
    * (page-cached — it was just written); ALSO the cheaper shape at
    * scale: the incoming frame's lineage is recomputed once for the
    * write instead of twice. Violation deletes the staged segment and
    * refuses with the usual [[InvariantViolation]]. */
  private def enforceStaged(spark: SparkSession, fs: FileSystem,
      root: Path, newLines: Seq[String], rules: Seq[Invariants.Rule],
      what: String, mapping: ColumnMapping): Unit = {
    if (rules.isEmpty || newLines.isEmpty) return
    val files = newLines.map(l => new Path(root, parseLine(l)._1).toString)
    val staged = mapping.applyRead(spark.read.parquet(files: _*))
    try Invariants.enforce(staged, rules, what)
    catch {
      case e: InvariantViolation =>
        deleteAbandonedSegment(fs, root, newLines)
        throw e
    }
  }

  /** Best-effort removal of an abandoned attempt's fresh segment dir
    * (by [[transact]] and [[enforceStaged]]); a crash before this runs
    * leaves the dir invisible for VACUUM. */
  private def deleteAbandonedSegment(fs: FileSystem, root: Path,
      newLines: Seq[String]): Unit =
    newLines.headOption.foreach { l =>
      val rel = l.split('\t').head
      if (rel.startsWith("data/"))
        try fs.delete(new Path(root,
          rel.split('/').take(2).mkString("/")), true)
        catch { case scala.util.control.NonFatal(_) => () }
    }

  /** Write `df` (already in its physical write form, `mapping`) as one
    * fresh uuid segment with stats-suffixed manifest lines, and
    * validate the staged bytes against `rules` ([[enforceStaged]]).
    * `sortWithinBuckets` names TEMPORARY columns of `df` (bucketed
    * form only): rows are sorted by them within each bucket task and
    * the columns are DROPPED before the write — the within-bucket
    * clustering hook OPTIMIZE ZORDER uses on bucketed tables (the
    * projection after the sort is narrow, so file order survives). */
  private def stage(spark: SparkSession, fs: FileSystem, root: Path,
      df: DataFrame, mapping: ColumnMapping, rules: Seq[Invariants.Rule],
      what: String, bucket: Option[(String, Int)] = None,
      sortWithinBuckets: Seq[String] = Nil): Staged = {
    val uuid = java.util.UUID.randomUUID().toString
    val segDir = new Path(root, s"data/$uuid")
    // Segments are written TIMESTAMP_MICROS: Spark's INT96 default
    // carries NO footer statistics, which would blind timestamp data
    // skipping — the single most valuable pruning column of an
    // append-only time-series lake. Micros is also the non-deprecated
    // interop encoding. The conf has no per-write option, so the write
    // runs in a CLONED session (same conf/views/extensions, isolated
    // conf store) — a set/restore on the caller's session would leak
    // micros into unrelated parquet writes racing on other threads of
    // the same session, changing THEIR output schemas (tz-adjusted
    // micros vs int96) mid-flight.
    val writerSession = org.apache.spark.sql.GraftShims.cloneSession(spark)
    writerSession.conf.set("spark.sql.parquet.outputTimestampType",
      "TIMESTAMP_MICROS")
    val writerDf = org.apache.spark.sql.GraftShims.ofRows(writerSession,
      org.apache.spark.sql.GraftShims.planOf(df))
    bucket match {
      case None => writerDf.write.parquet(segDir.toString)
      case Some((c, n)) =>
        import org.apache.spark.sql.functions.{col, hash, lit, pmod}
        // One distributed pass: the synthetic bucket id both routes
        // rows (hash partitioning BY __gb keeps each bucket wholly in
        // one task) and names the staging dir (partitionBy consumes
        // the column, so data files keep the user schema). Staged
        // `__gb=<id>` dirs are renamed to `gb-<id>` so the `k=v`
        // pattern never reaches a reader — Spark would otherwise infer
        // a phantom partition column on any path-list read of the
        // segment.
        //
        // The partition COUNT deliberately follows the session's
        // shuffle setting + AQE coalescing, NOT numBuckets
        // (optimization r19, guide §2.2/§2.5): the ANN indexes
        // over-provision buckets 16× (up to 65536), and
        // repartition(n) launched one task PER BUCKET — a 10k-row
        // streamed micro-batch append paid a 256-task stage (240 of
        // them empty) to write 16 files, measured 1.2–1.5 s per
        // append at sf0.1 where the occupied buckets' rows write in
        // ~0.2 s. Several buckets sharing a task is fine: rows are
        // sorted by __gb within partitions, so the dynamic-partition
        // writer still emits one file per occupied bucket, one open
        // file at a time. At scale the same setting turns parallelism
        // up with the cluster instead of pinning it to the layout.
        writerDf
          .withColumn("__gb", pmod(hash(col(c)), lit(n)))
          .repartition(col("__gb"))
          .sortWithinPartitions(("__gb" +: sortWithinBuckets).map(col): _*)
          .drop(sortWithinBuckets: _*)
          .write.partitionBy("__gb").parquet(segDir.toString)
        fs.listStatus(segDir).foreach { st =>
          val d = st.getPath.getName
          if (st.isDirectory && d.startsWith("__gb=")) {
            val id = d.stripPrefix("__gb=")
            require(fs.rename(st.getPath, new Path(segDir, s"gb-$id")),
              s"could not finalize bucket dir $d in $segDir")
          }
        }
        // EMPTY bucketed commit (CREATE TABLE ... PARTITIONED BY
        // bucket): the dynamic-partition writer emits no files for
        // zero rows, but an empty version still needs a
        // schema-carrying file, and the declaration needs every file
        // in a bucket dir — so the carrier lands in bucket 0. The
        // sort columns are TEMPORARY (dropped by the data write
        // chain above) and must not leak into the carrier's schema,
        // where they would surface on every read of the version.
        if (listParquet(fs, segDir).isEmpty)
          writerDf.drop(sortWithinBuckets: _*).limit(0).coalesce(1)
            .write.mode("append")
            .parquet(new Path(segDir, "gb-0").toString)
    }
    val newAbs = listParquet(fs, segDir)
    // data-skipping stats: one footer read per NEW file (never a data
    // scan), committed atomically on the file's own manifest line.
    // Append carries the previous lines — and their stats — verbatim.
    val statsByAbs = SegmentStats.collect(spark, newAbs)
    val statLines = newAbs.map { abs =>
      val rel = relativize(fs, root, abs)
      statsByAbs.get(abs).map(s => s"$rel\t$s").getOrElse(rel)
    }
    // declared bloom index: harvest per-file blooms for the FRESH
    // files only (one pass over bytes just written) and ride the
    // sidecar ref on each line — consultation is ref-driven, so a
    // carried line keeps its older sidecar verbatim
    val lines = latestVersion(fs, root)
      .flatMap(v => BloomIndex.declared(readMeta(spark, root.toString, v)))
      .flatMap { case (cols, fpp) =>
        val rowsByRel = statLines.flatMap { l =>
          val (rel, st, _) = parseLine(l)
          st.flatMap(SegmentStats.parse).map(s => rel -> s.rows)
        }.toMap
        BloomIndex.harvest(spark, root,
          statLines.map(parseLine(_)._1), rowsByRel, cols, fpp)
      } match {
      case Some(sidecarRel) => statLines.map(l => s"$l\tbloom=$sidecarRel")
      case None => statLines
    }
    enforceStaged(spark, fs, root, lines, rules, what, mapping)
    Staged(lines, mapping, bucket)
  }

  /** Copy-on-write DML core (the scoping Delta's DELETE/UPDATE get
    * from log stats): segments whose manifest statistics say they MAY
    * contain rows matching `cond` are read and replaced by
    * `transform`'s output; every other segment's manifest line —
    * stats included — is carried into the new version VERBATIM,
    * without being read, rewritten, or even opened. At 100 TB a
    * DELETE of one day from an append-only table rewrites one
    * segment, not the table.
    *
    * `mayTouch` decides scoping from a segment's stats (files without
    * stats are always in scope); [[graft.sources.StatsPruner]]
    * provides the standard predicate-driven implementation. The
    * touched subset is read under the FULL table schema, so evolved
    * columns stay addressable even when no touched file carries them.
    * When the stats prove NOTHING matches, the commit is pure
    * manifest metadata — zero data IO.
    *
    * Returns (rows matched, segments rewritten, segments carried). */
  def rewrite(spark: SparkSession, table: String,
      mayTouch: SegmentStats.FileStats => Boolean, cond: Column,
      transform: DataFrame => DataFrame,
      meta: Map[String, String],
      linePrune: String => Boolean = _ => true): (Long, Long, Long) = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // The read-compute-commit cycle runs OUTSIDE the commit lock (the
    // transform may be long); a commit landing in between (a streaming
    // append, another DML) would be silently dropped if we committed
    // our stale line set over it. So the commit REBASES: it keeps the
    // latest's lines (appends and carried-line changes, e.g. a DV
    // delete tagging a carried file, included) and swaps only the
    // touched ones — a streaming sink appending every few seconds never
    // forces a DML to recompute, which at 100 TB is the difference
    // between DML converging and starving. A conflict it cannot rebase
    // recomputes against the new latest (Delta's discipline for DML).
    raceLoop(fs, root, table, s"rewrite of $table") { v =>
      val lines = readFileLines(fs, root, v)
      val mapping = columnMapping(spark, table, Some(v))
      val physSchema = readPhysical(spark, table, Some(v)).schema
      val (touched, carried) =
        lines.partition(inScope(mapping, mayTouch, linePrune))
      val touchedFiles = touched
        .map(l => new Path(root, parseLine(l)._1).toString)
      // DV overlay on the touched subset: rows a deletion vector
      // already removed must be invisible to the transform AND to the
      // matched count — and the rewritten replacement physically
      // excludes them, which is what lets the new line drop its dv
      // refs (the fold). Carried lines keep their refs verbatim.
      val subset =
        if (touchedFiles.isEmpty)
          spark.createDataFrame(spark.sparkContext
            .emptyRDD[org.apache.spark.sql.Row], physSchema)
        else applyDv(spark, root, touched,
          spark.read.schema(physSchema).parquet(touchedFiles: _*))
      // the predicate and the transform speak the LOGICAL schema
      val logicalSubset = mapping.applyRead(subset)
      val matched = logicalSubset.where(cond).count()
      // A bucketed base version keeps its layout through DML: the
      // replacement segment is written with the same bucket routing
      // (an UPDATE of the bucket column itself re-routes those rows to
      // their new correct bucket), and the declaration rides the new
      // manifest — otherwise one UPDATE silently discards the layout a
      // table paid a write-time shuffle for.
      val spec = bucketSpec(spark, table, Some(v))
      val staged =
        if (matched == 0L) Staged(Nil, mapping, spec)
        // an UPDATE's post-images are incoming rows: the table's
        // invariants gate them, so a violating SET refuses
        else stage(spark, fs, root,
          mapping.applyWrite(transform(logicalSubset)), mapping,
          Invariants.decode(readMeta(spark, table, v)),
          "rewrite (COW DML) output", spec)
      // under a column mapping the guard's pushed-filter names may sit
      // in either name space — conservatively conflict on ANY
      // interleave instead (mapped tables are the rare state). LAZY:
      // the plan harvest only runs when a conflict materializes.
      lazy val guard =
        if (mapping.isEmpty) rebaseGuard(spark, physSchema, touchedFiles, cond)
        else Nil
      val touchedSet = touched.toSet
      transact(spark, fs, root, table, staged,
        meta ++ carrierMetaOf(spark, table, v), // narrow files stay carried
        Rebase(v, lines, touched, () => guard),
        Some(ls => if (matched == 0L) ls
          else ls.filterNot(touchedSet) ++ staged.lines))
        .map(_ =>
          if (matched == 0L) (0L, 0L, lines.size.toLong)
          else (matched, touched.size.toLong, carried.size.toLong))
    }
  }

  /** The bounded read-compute-commit loop of the rewrite-shaped
    * operations ([[rewrite]], [[mergeOnRead]], [[compactSmall]]), the
    * validated DDL ([[alterColumns]], [[addInvariants]]) and the
    * persisted ANN index's builds, retrains and appends: each
    * attempt reads the latest version, computes against it and
    * commits; None means the commit lost the race (its staged files
    * already deleted) and the whole cycle recomputes against the new
    * latest — at most 5 attempts, then [[CommitRaceExhausted]]. A
    * caller that already pinned a version passes it as `pinned`, and
    * the first attempt runs against it without re-resolving. A
    * concurrent VACUUM under the attempt ([[isVacuumRace]],
    * [[tableMovedPast]]) resolves the same way; its staged debris falls
    * to the orphan-grace sweep. */
  private[graft] def raceLoop[A](fs: FileSystem, root: Path, table: String,
      what: String, pinned: Option[Long] = None)(
      attempt: Long => Option[A]): A = {
    var attempts = 0
    var base = -1L
    while (true) {
      attempts += 1
      try {
        base = pinned.filter(_ => attempts == 1)
          .orElse(latestVersion(fs, root)).getOrElse(throw
          new IllegalArgumentException(s"no committed version in $table"))
        attempt(base) match {
          case Some(a) => return a
          case None if attempts >= 5 =>
            throw new CommitRaceExhausted(what, attempts)
          case None => ()
        }
      } catch {
        case e: Throwable if isVacuumRace(e) &&
            tableMovedPast(fs, root, base) =>
          if (attempts >= 5) throw new IllegalStateException(
            s"$what kept racing a concurrent VACUUM ($attempts " +
              "attempts) — retry when retention and the writer storm " +
              "subside", e)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Whether a DML's scope may include a manifest line: its stats say
    * it MAY hold matching rows, and `linePrune` (bloom point-lookup
    * scoping, if any) keeps it. */
  private def inScope(mapping: ColumnMapping,
      mayTouch: SegmentStats.FileStats => Boolean,
      linePrune: String => Boolean)(line: String): Boolean =
    (parseLine(line)._2.flatMap(SegmentStats.parse) match {
      // stats are keyed by PHYSICAL column names; the caller's scope
      // predicate speaks the logical schema — translate so a rename
      // can never blind (or worse, mis-aim) the scoping
      case Some(st) => mayTouch(mapping.statsToLogical(st))
      case None => true // no stats: always in scope
    }) && linePrune(line)

  /** A mid-cycle FileNotFound anywhere in a DML attempt means a
    * concurrent VACUUM dropped the attempt's base version (or swept
    * segments only dropped manifests referenced) while the transform
    * ran — the READ is stale, the table is fine. The resolution is
    * identical to a commit conflict: abandon the attempt and recompute
    * against the new latest. Spark wraps executor-side IO errors, so
    * the cause chain (and, post-serialization, the message) is
    * consulted; depth-bounded against self-caused cycles. */
  private def isVacuumRace(t: Throwable, depth: Int = 0): Boolean =
    t != null && depth < 12 &&
      (t.isInstanceOf[java.io.FileNotFoundException] ||
        (t.getMessage != null &&
          t.getMessage.contains("FileNotFoundException")) ||
        isVacuumRace(t.getCause, depth + 1))

  /** Narrows the [[isVacuumRace]] classification (ADVICE r9): VACUUM
    * can only sweep a version once a NEWER commit exists, so a
    * FileNotFound in an attempt whose base is still the table's
    * latest cannot be a vacuum race — it is a genuine missing-file
    * fault (external deletion, bad path, corrupt sidecar ref) that
    * must surface instead of being silently retried 5 times and
    * reported as "kept racing a concurrent VACUUM". */
  private def tableMovedPast(fs: FileSystem, root: Path,
      attemptBase: Long): Boolean =
    attemptBase >= 0 &&
      (try !latestVersion(fs, root).contains(attemptBase)
       catch { case scala.util.control.NonFatal(_) => true })

  private final class RewriteConflict extends RuntimeException

  /** Write-skew guard for DML rebases (Delta's ConcurrentAppendException
    * discipline): may any line present in `latestLines` but absent from
    * the lines the operation READ contain rows matching the operation's
    * predicate? Judged from the interleaved file's manifest stats
    * against the predicate's stats-pushable conjuncts. A stats-less
    * line, or an empty `guard` (predicate not stats-expressible),
    * conservatively answers yes — rows appended mid-DML that match the
    * predicate would otherwise silently escape an operation that
    * commits AFTER them (the rebase would carry them untransformed).
    * Carried lines that merely gained a dv= tag keep their file stats,
    * so a concurrent merge-on-read delete outside the predicate's
    * domain still rebases cleanly. */
  private def interleavedMayMatch(latestLines: Seq[String],
      readLines: Seq[String],
      guard: Seq[org.apache.spark.sql.sources.Filter]): Boolean = {
    val readSet = readLines.toSet
    latestLines.exists { l =>
      !readSet.contains(l) && {
        parseLine(l)._2.flatMap(SegmentStats.parse) match {
          case Some(st) =>
            guard.isEmpty ||
              guard.forall(f => graft.sources.StatsPruner.mayMatch(st, f))
          case None => true
        }
      }
    }
  }

  /** The predicate's stats-pushable conjuncts over a PLAIN scan of the
    * touched files — deliberately not the DV-overlaid read, whose
    * anti-join contributes filters on join-key columns that would
    * corrupt the [[interleavedMayMatch]] judgment. Empty (= "cannot
    * restrict") when nothing was touched or the predicate doesn't
    * lower. */
  private def rebaseGuard(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      touchedFiles: Seq[String], cond: Column)
      : Seq[org.apache.spark.sql.sources.Filter] =
    if (touchedFiles.isEmpty) Nil
    else graft.sources.StatsPruner.pushableFilters(
      spark.read.schema(schema).parquet(touchedFiles: _*).where(cond))

  /** Per-table commit mutex. Hadoop's LOCAL filesystem maps rename to
    * POSIX renameTo, which silently OVERWRITES an existing target —
    * two racing committers can both "win" the same version and one
    * commit is lost (caught by VersionedSpec's race test). The mutex
    * closes that window only WITHIN one JVM: on `file://`, committers
    * in different processes can still both claim one version — such
    * cross-process double claims have been reproduced, and the
    * `!exists && rename` guard in [[commitManifest]] does not prevent
    * them. HDFS rename-without-overwrite is atomic server-side; S3
    * rename is a non-atomic copy + delete, so concurrent writers there
    * need an external coordinator. */
  private val commitLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** The meta keys forming a version's CONTRACT — declarations every
    * commit that keeps files (or duties) alive must re-carry: the
    * invariant set, the bloom-index declaration, the declared-schema
    * carrier, and the column mapping. [[commitManifest]] re-merges
    * these from the base a commit ACTUALLY lands on, so an
    * interleaved ADD CONSTRAINT / CREATE BLOOMFILTER INDEX / widening
    * append / RENAME is never silently uninstalled by a commit whose
    * inherited meta was computed against a pre-race base. */
  private val ContractKeys: Set[String] = Set(
    Invariants.MetaKey, BloomIndex.MetaKey, SchemaEnforce.SchemaKey,
    ColumnMapping.ColMapKey, ColumnMapping.ColDropKey)

  /** Thrown inside [[commitManifest]]'s CAS loop when the landed base
    * declares invariants this commit's rows were never validated
    * against — the caller must re-validate the staged rows and retry
    * with the merged declaration (carried in `inv`). */
  private final class InvariantsChanged(val inv: String)
      extends RuntimeException

  /** Three-way merge of one contract key when BOTH this commit and an
    * interleaved one changed it relative to the commit's expected
    * base: apply THIS commit's delta (additions and removals vs the
    * expected base) on top of the landed value, so neither side's
    * declaration is lost. Schemas fold widening-aware; the column
    * mapping has no safe automatic merge — mapping DDL itself refuses
    * any interleave (renameColumn/dropColumn commit with `mustBase`
    * and revalidate+retry), so a both-changed mapping can only reach
    * here through a commit carrying EXPLICIT mapping meta, where the
    * commit's declared intent wins. */
  private def mergeContractKey(k: String, exp: Option[String],
      our: Option[String], land: Option[String]): Option[String] = {
    def items(v: Option[String]): Set[String] =
      v.toSeq.flatMap(_.split(',')).filter(_.nonEmpty).toSet
    k match {
      case Invariants.MetaKey =>
        val res = (items(land) ++ (items(our) -- items(exp))) --
          (items(exp) -- items(our))
        // empty stays EXPLICIT (a drop must override inheritance)
        Some(res.toSeq.sorted.mkString(","))
      case BloomIndex.MetaKey =>
        (our, land) match {
          case (Some(o), Some(l)) =>
            def parse(s: String): (String, Set[String]) =
              s.split(":", 2) match {
                case Array(f, cs) =>
                  (f, cs.split(',').filter(_.nonEmpty).toSet)
                case _ => ("", Set.empty[String])
              }
            val (of, oc) = parse(o); val (lf, lc) = parse(l)
            val (ef, ec) = exp.map(parse).getOrElse((of, Set.empty[String]))
            val cols = (lc ++ (oc -- ec)) -- (ec -- oc)
            val fpp = if (of != ef) of else lf
            if (cols.isEmpty || fpp.isEmpty) None
            else Some(s"$fpp:${cols.toSeq.sorted.mkString(",")}")
          case _ => our // an explicit drop: the commit's intent wins
        }
      case SchemaEnforce.SchemaKey =>
        (our, land) match {
          case (Some(o), Some(l)) =>
            try Some(mergeWide(StructType.fromDDL(l),
              StructType.fromDDL(o)).toDDL)
            catch { case scala.util.control.NonFatal(_) => our }
          case _ => our.orElse(land)
        }
      case _ => our
    }
  }

  /** Re-derive the inherited contract keys against the base this
    * attempt ACTUALLY lands on (ADVICE r9: the lost-update race on
    * contract metadata). For each key the caller marked inheritable:
    * pure inheritance (caller kept the expected base's value) takes
    * the landed value; an untouched interleave keeps the caller's;
    * both-changed falls to [[mergeContractKey]]. */
  private def mergedContractMeta(fs: FileSystem, root: Path,
      meta: Map[String, String], contractBase: Option[Long],
      base: Option[Long], inheritKeys: Set[String])
      : Map[String, String] = {
    // aggressive retention may have vacuumed the EXPECTED base while
    // this commit was staging; with no expected values the merge
    // degrades to its no-delta form (union-style — it can resurrect a
    // declaration this commit meant to drop, but can never uninstall
    // an interleaved one). The LANDED base stays strict: if that
    // manifest is gone the commit cannot proceed at all.
    val expM = contractBase.map { b =>
      try readMetaRaw(fs, root, b)
      catch { case _: java.io.FileNotFoundException =>
        Map.empty[String, String] }
    }.getOrElse(Map.empty)
    val landM = base.map(readMetaRaw(fs, root, _)).getOrElse(Map.empty)
    inheritKeys.foldLeft(meta) { (m, k) =>
      val exp = expM.get(k); val our = meta.get(k); val land = landM.get(k)
      val merged =
        if (our == exp) land
        else if (land == exp) our
        else mergeContractKey(k, exp, our, land)
      merged match {
        case Some(v2) => m + (k -> v2)
        case None => m - k
      }
    }
  }

  /** The atomic manifest-commit loop under every commit — the
    * staged-row commits through [[transact]], and the metadata-only
    * [[restore]], [[convert]], [[shallowClone]], [[commitMetadataOnly]]
    * and [[declareBloomIndex]]: compute the file list against the
    * CURRENT latest version, write a temp manifest, rename into place.
    * A concurrent winner makes the rename fail → recompute against the
    * new latest and retry one version higher.
    *
    * `contractBase` is the version the caller computed its inherited
    * meta against; when the attempt lands on a DIFFERENT base, the
    * keys in `inheritKeys` are re-merged from the actual base so an
    * interleaved contract change is never silently dropped. With
    * `validatedInv` (the rules the staged rows were checked against),
    * an attempt whose merged invariant set demands rules beyond it
    * throws [[InvariantsChanged]] (outside any segment write — staged
    * data stays reusable) instead of committing unvalidated rows.
    * Every attempt checks and carries the [[TxnPrefix]] ledger off the
    * landed base's headers, the same read the writer gate takes. */
  private def commitManifest(fs: FileSystem, root: Path,
      meta: Map[String, String],
      filesFor: Option[Long] => Seq[String],
      contractBase: Option[Long] = None,
      inheritKeys: Set[String] = Set.empty,
      validatedInv: Option[Set[Invariants.Rule]] = None): Long = {
    val lock = commitLocks.computeIfAbsent(
      root.toUri.toString, _ => new Object)
    lock.synchronized {
    var committed = -1L
    while (committed < 0) {
      val base = latestVersion(fs, root)
      val baseHeaders = base.map(b => manifestHeaders(fs, root, b))
      // the writer gate runs FIRST: a base stamped by a newer writer
      // declares duties this build cannot honor — refuse to commit
      for (b <- base; h <- baseHeaders) checkWriter(root, b, h)
      // the transaction ledger: refuse a batch the landed base already
      // records, then carry every entry this commit does not name
      val ledger = baseHeaders.fold(Map.empty[String, String])(h =>
        txnOf(metaOf(h)))
      for ((k, b) <- txnOf(meta); batch <- b.toLongOption;
           landed <- ledger.get(k).flatMap(_.toLongOption) if landed >= batch)
        throw new ReplayedBatch(root.toString, k.stripPrefix(TxnPrefix),
          batch, landed)
      val target = base.map(_ + 1).getOrElse(0L)
      val newLines = filesFor(base)
      val effMeta = ledger ++ (
        if (inheritKeys.isEmpty || base == contractBase) meta
        else mergedContractMeta(fs, root, meta, contractBase, base,
          inheritKeys))
      validatedInv.foreach { validated =>
        if (effMeta.get(Invariants.MetaKey) != meta.get(Invariants.MetaKey) &&
            !Invariants.decode(effMeta).forall(validated.contains))
          throw new InvariantsChanged(effMeta(Invariants.MetaKey))
      }
      // Delta-or-checkpoint decision: store only this commit's ACTIONS
      // unless (a) there is no base, (b) the chain has reached the
      // checkpoint interval, or (c) the action encoding is no smaller
      // than the snapshot itself (an overwrite removes every previous
      // line — a full manifest is both smaller and resets the chain).
      val body: Seq[String] = base match {
        case None => newLines
        case Some(b) =>
          val (baseLines, depth) = resolveWithDepth(fs, root, b)
          if (depth + 1 >= CheckpointInterval) newLines
          else {
            val baseByRel = baseLines.map(l => parseLine(l)._1 -> l).toMap
            val newRels = newLines.map(parseLine(_)._1).toSet
            val actions =
              baseLines.map(parseLine(_)._1).filterNot(newRels)
                .map(r => s"R\t$r") ++
              newLines.filterNot(l => baseByRel.get(parseLine(l)._1)
                .contains(l)).map(l => s"A\t$l")
            if (actions.iterator.map(_.length).sum >=
                newLines.iterator.map(_.length).sum) newLines
            else DeltaMarker +: actions
          }
      }
      // commit time rides the manifest itself (Delta embeds it in the
      // log likewise): file mtime is NOT monotonic with version order
      // under table copies / object-store rename-as-copy / clock skew,
      // so TIMESTAMP AS OF must never depend on it for new commits.
      // n_files likewise: the resolved count must survive without a
      // chain replay for DESCRIBE HISTORY to stay one read per version.
      // representation: a big FULL manifest becomes a tiny pointer +
      // gzip'd body sidecar (see [[CkptKey]]); deltas and small fulls
      // stay plain text
      val pointer = !body.headOption.contains(DeltaMarker) &&
        body.sizeIs >= CheckpointGzMinLines
      val ckptRel =
        if (pointer) Some(s"${java.util.UUID.randomUUID()}.checkpoint.gz")
        else None
      val stamped = effMeta +
        (CommitTsKey -> System.currentTimeMillis.toString) +
        (NFilesKey -> newLines.size.toString) +
        (ReaderKey -> (if (pointer) "2" else "1")) +
        (WriterKey -> requiredWriter(effMeta).toString) ++
        ckptRel.map(CkptKey -> _)
      val metaLines = stamped.toSeq.sortBy(_._1).map { case (k, v) => s"#$k=$v" }
      ckptRel.foreach(writeGzLines(fs, root, _, body))
      val lines =
        (if (pointer) metaLines else metaLines ++ body).mkString("\n")
      val tmp = new Path(root,
        s"$LogDir/.tmp-${java.util.UUID.randomUUID().toString}")
      val out = fs.create(tmp, true)
      try out.write(lines.getBytes("UTF-8")) finally out.close()
      // double-guard for local FS (renameTo overwrites): the target
      // must not exist. Within the JVM the mutex makes this check
      // race-free; on HDFS the rename itself is atomic-exclusive.
      val dst = new Path(root, s"$LogDir/$target.manifest")
      if (!fs.exists(dst) && fs.rename(tmp, dst)) {
        committed = target
        // the committer KNOWS the bytes it just renamed into place —
        // seed the cache so the first read of the new version (often
        // this same process, a heartbeat later) opens nothing; the
        // cache holds the EXPANDED form (headers ++ body)
        val all = metaLines ++ body
        if (all.sizeIs <= ManifestCacheLineMax)
          manifestCache.put(cacheKey(fs, root, target), all.toList)
      } else {
        fs.delete(tmp, false)
        ckptRel.foreach(r =>
          fs.delete(new Path(root, s"$LogDir/$r"), false))
      }
    }
    // AFTER the commit point, best-effort: the pointer may only ever
    // name a durably committed version (crash between rename and here
    // = stale pointer = forward probe, never a phantom version)
    writeLatestPointer(fs, root, committed)
    committed
    }
  }

  /** Delta-style RESTORE: make the table's LATEST state equal version
    * `v` again — as a NEW commit whose manifest re-references v's
    * files (no data is copied or deleted; history, including the
    * states being rolled back, stays readable until vacuum). Returns
    * the new version number. */
  def restore(spark: SparkSession, table: String, v: Long): Long = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // raw lines, not stripped paths: the restored version keeps v's
    // data-skipping stats
    val lines = readFileLines(fs, root, v) // throws if v was vacuumed/absent
    require(lines.nonEmpty, s"version $v of $table is empty")
    // a restore reinstates v's LAYOUT CONTRACT along with its files:
    // dropping the bucket declaration here would silently de-bucket a
    // table whose restored files are in fact still perfectly bucketed
    val spec = parseBucketMeta(readMeta(spark, table, v))
    // a restore reinstates v's COLUMN MAPPING too: the restored files
    // carry v's physical names, so v's logical view must ride along
    // (absent keys = mapping cleared, exactly v's state)
    // contract keys the restore merely re-carries unchanged from the
    // CURRENT latest re-merge if a commit interleaves; keys the
    // restore intentionally rolls back (they differ from the latest's)
    // keep v's values — restore's explicit intent wins
    commitManifest(fs, root,
      Map("operation" -> "restore", "restore_of" -> v.toString) ++
        columnMapping(spark, table, Some(v)).toMeta ++
        spec.map { case (c, n) => BucketKey -> s"$c/$n" } ++
        carrierMetaOf(spark, table, v), // v's declared schema rides too
      _ => lines,
      latestVersion(fs, root), ContractKeys)
  }

  /** In-place CONVERT of an existing plain-parquet directory into the
    * snapshot format (Delta's `CONVERT TO DELTA`): version 0 is
    * committed referencing the DIRECTORY'S OWN files — nothing is
    * rewritten or moved, so importing a 100 TB landing dir into the
    * lake costs one stats harvest (a footer read per file, the
    * distributed path for many files) plus one manifest write. From
    * then on the dir has time travel, atomic commits, stats skipping,
    * DML and OPTIMIZE like any native table; rewrites land under the
    * standard `data/<uuid>` layout, progressively migrating the
    * physical files. The ORIGINAL imported files sit outside `data/`
    * and are therefore never swept by VACUUM even once unreferenced —
    * the conservative choice for files the format didn't create.
    *
    * HIVE-PARTITIONED layouts (`k=v` subdirectories) are refused: the
    * partition VALUES live in directory names, not in the files, so a
    * file-list import would silently drop those columns. Read such
    * dirs through Spark's own partition discovery and commit the
    * DataFrame instead. Returns the committed version (0). */
  def convert(spark: SparkSession, dir: String): Long = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(root) && fs.getFileStatus(root).isDirectory,
      s"$dir is not a directory")
    require(latestVersion(fs, root).isEmpty,
      s"$dir already has a manifest log — it IS a snapshot table")
    val (files, dirs) = fs.listStatus(root).toSeq
      .filterNot(_.getPath.getName.startsWith("_")) // _SUCCESS etc.
      .partition(!_.isDirectory)
    require(dirs.isEmpty,
      s"$dir has subdirectories (${dirs.map(_.getPath.getName).take(3)
        .mkString(", ")}…) — a hive-partitioned layout's partition " +
        "values live in dir names and would be lost; read it with " +
        "partition discovery and commit the DataFrame instead")
    val parquet = files.map(_.getPath.toString)
      .filter(_.endsWith(".parquet"))
    require(parquet.nonEmpty, s"no parquet files in $dir")
    val statsByAbs = SegmentStats.collect(spark, parquet)
    val lines = parquet.map { abs =>
      val rel = relativize(fs, root, abs)
      statsByAbs.get(abs).map(s => s"$rel\t$s").getOrElse(rel)
    }
    commitManifest(fs, root, Map("operation" -> "convert"), _ => lines)
  }

  /** Zero-copy SHALLOW CLONE (Delta's `CREATE TABLE … SHALLOW CLONE`):
    * commit version 0 of `dst` whose manifest re-references `src`'s
    * files (and dv sidecars) by ABSOLUTE path — no data moves, so a
    * dev/test copy of a 100 TB table costs ONE manifest write. The
    * manifest grammar already tolerates absolute entries: `new
    * Path(root, child)` resolves an absolute child to itself, so every
    * read/DML/OPTIMIZE path works unchanged. The clone then evolves
    * independently — appends and COW rewrites land under its OWN root
    * (replacing absolute refs with local segments as they touch them),
    * and its VACUUM can only ever sweep clone-local segment dirs.
    * Stats, dv refs, the bucket layout and the column mapping are all
    * carried, so SPJ and logical-view reads hold on the clone.
    *
    * The shallow-clone caveat every engine shares applies: VACUUM on
    * the SOURCE can remove files the clone still references (the
    * clone's reads then fail at scan time). OPTIMIZE on the clone
    * localizes it (rewritten data lands clone-side). Returns the
    * clone's committed version (0). */
  def shallowClone(spark: SparkSession, src: String, dst: String,
      version: Option[Long] = None): Long = {
    val srcRoot = new Path(src)
    val sfs = srcRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = version.orElse(latestVersion(sfs, srcRoot)).getOrElse(
      throw new IllegalArgumentException(s"no committed version in $src"))
    val lines = readFileLines(sfs, srcRoot, v)
    require(lines.nonEmpty, s"version $v of $src is empty")
    val dstRoot = new Path(dst)
    val dfs = dstRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(latestVersion(dfs, dstRoot).isEmpty,
      s"clone target $dst already has committed versions")
    require(sfs.makeQualified(srcRoot).toUri.getPath !=
      dfs.makeQualified(dstRoot).toUri.getPath,
      "cannot clone a table onto itself")
    def absolutize(rel: String): String =
      if (rel.startsWith("/")) rel // clone-of-clone: already absolute
      else sfs.makeQualified(new Path(srcRoot, rel)).toUri.getPath
    // Deletion-vector sidecars are REWRITTEN clone-side (not
    // re-referenced): their entries key deleted rows by the SOURCE's
    // relative file paths, which must become the absolute paths the
    // clone's manifest lines carry or the read overlay would silently
    // skip nothing. Sidecars are O(deleted rows) by design — the one
    // part of a clone that copies bytes, and the reason its vacuum
    // lifecycle is clone-local from birth.
    import org.apache.spark.sql.functions.{col, concat, lit, when}
    val srcPrefix = sfs.makeQualified(srcRoot).toUri.getPath
    val dvMap: Map[String, String] =
      lines.flatMap(parseLine(_)._3.map(_._1)).distinct.map { d =>
        val newRel = s"dv/${java.util.UUID.randomUUID()}"
        readDvEntries(spark, srcRoot, Seq(d))
          .select(
            when(col(DvFileCol).startsWith("/"), col(DvFileCol))
              .otherwise(concat(lit(srcPrefix + "/"), col(DvFileCol)))
              .as(DvFileCol),
            col(DvIdxCol))
          .write.parquet(new Path(dstRoot, newRel).toString)
        d -> newRel
      }.toMap
    val absLines = lines.map { line =>
      val (rel, stats, refs) = parseLine(line)
      (Seq(absolutize(rel)) ++ stats.toSeq ++
        refs.map { case (d, n) => s"dv=${dvMap(d)}:$n" })
        .mkString("\t")
    }
    val srcMeta = readMeta(spark, src, v)
    val meta = Map("operation" -> "clone",
      "clone_of" -> sfs.makeQualified(srcRoot).toUri.getPath,
      "clone_version" -> v.toString) ++
      ColumnMapping.fromMeta(srcMeta).toMeta ++
      parseBucketMeta(srcMeta).map { case (c, n) => BucketKey -> s"$c/$n" } ++
      srcMeta.get(SchemaEnforce.SchemaKey)
        .map(SchemaEnforce.SchemaKey -> _) // clone keeps the carrier
    commitManifest(dfs, dstRoot, meta, _ => absLines)
  }

  /** DESCRIBE HISTORY surface: one row per committed version —
    * (version, committed_at from the manifest's embedded commit time
    * — mtime only for legacy manifests — n_files, meta
    * as sorted `k=v` pairs). Reads only the manifest log (O(versions)),
    * never the data. */
  def history(spark: SparkSession, table: String)
      : Seq[(Long, java.sql.Timestamp, Long, String)] = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    listVersions(fs, root).map { v =>
      // ONE header read yields the commit time, meta and the file
      // count — never the body: DESCRIBE HISTORY over a million-file
      // table must not gunzip every checkpoint sidecar it walks
      val lines = manifestHeaders(fs, root, v)
      val ts = lines
        .collectFirst { case l if l.startsWith(s"#$CommitTsKey=") =>
          l.stripPrefix(s"#$CommitTsKey=") }
        .flatMap(s => scala.util.Try(s.toLong).toOption)
        .getOrElse(fs.getFileStatus(new Path(root, s"$LogDir/$v.manifest"))
          .getModificationTime)
      val meta = lines.filter(_.startsWith("#"))
        .flatMap(_.drop(1).split("=", 2) match {
          case Array(k, v2) if !SystemKeys.contains(k) => Some(s"$k=$v2")
          case _ => None
        }).sorted.mkString(",")
      // file count from the n_files header where present (a delta
      // manifest's raw lines are actions, not files); legacy manifests
      // predate the header but are always full snapshots — their body
      // read below is a cache hit (the header read seeded it)
      val nFiles = lines
        .collectFirst { case l if l.startsWith(s"#$NFilesKey=") =>
          l.stripPrefix(s"#$NFilesKey=") }
        .flatMap(s => scala.util.Try(s.toLong).toOption)
        .getOrElse(manifestLines(fs, root, v)
          .count(!_.startsWith("#")).toLong)
      (v, new java.sql.Timestamp(ts), nFiles, meta)
    }
  }

  /** Read a version (default: latest). Historic versions stay readable
    * until [[vacuum]] drops their manifests. A version carrying
    * deletion vectors gets the [[applyDv]] overlay (deleted rows
    * skipped at read time); DV-free versions keep the plain
    * vectorized scan plan untouched. A version carrying a column
    * mapping ([[renameColumn]]/[[dropColumn]]) is projected from its
    * stable PHYSICAL column names to the version's logical view —
    * time travel to before a rename reads the old names, because the
    * mapping rides each version's own manifest. */
  def read(spark: SparkSession, table: String,
      version: Option[Long] = None): DataFrame = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = version.orElse(latestVersion(fs, root)).getOrElse(
      throw new IllegalArgumentException(s"no committed version in $table"))
    columnMapping(spark, table, Some(v))
      .applyRead(readPhysical(spark, table, Some(v)))
  }

  /** [[read]] minus the column-mapping projection: the version's rows
    * under their on-disk PHYSICAL column names (DV overlay applied).
    * Internal rewrite paths read and write this space so committed
    * segments never change meaning under a rename. */
  private def readPhysical(spark: SparkSession, table: String,
      version: Option[Long]): DataFrame = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = version.orElse(latestVersion(fs, root)).getOrElse(
      throw new IllegalArgumentException(s"no committed version in $table"))
    // a widened table resolves under its DECLARED schema (the parquet
    // reader promotes narrow committed files in place); everything
    // else keeps the mergeSchema union
    scanLines(spark, root, v, readFileLines(fs, root, v),
      schemaCarrier(spark, table, Some(v)))
  }

  /** The latest version's rows — only those of `files` (absolute paths
    * of some of its data files) when given — under the version's
    * read-planning schema ([[versionSchema]]), with its deletion
    * vectors and column mapping applied. Unlike [[read]], a version
    * whose schema is cached (every commit through [[commit]] that
    * extends a cached schema leaves one) pays no footer inference;
    * the column ORDER is the cached union's, so this serves callers
    * that address columns by name. */
  private[graft] def readByName(spark: SparkSession, table: String,
      files: Option[Seq[String]] = None): DataFrame = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = latestVersion(fs, root).getOrElse(
      throw new IllegalArgumentException(s"no committed version in $table"))
    val all = readFileLines(fs, root, v)
    val lines = files.fold(all) { subset =>
      val keep = subset.toSet
      all.filter(l => keep(new Path(root, parseLine(l)._1).toString))
    }
    columnMapping(spark, table, Some(v)).applyRead(scanLines(spark, root, v,
      lines, versionSchema(spark, table, Some(v))))
  }

  /** A scan of `lines`' files (of version `v`) under `schema`, else
    * their mergeSchema union, with the lines' deletion vectors
    * applied. */
  private def scanLines(spark: SparkSession, root: Path, v: Long,
      lines: Seq[String], schema: Option[StructType]): DataFrame = {
    val files = lines.map(l => new Path(root, parseLine(l)._1).toString)
    require(files.nonEmpty, s"version $v of $root is empty")
    val reader = schema.fold(spark.read.option("mergeSchema", "true"))(
      spark.read.schema)
    applyDv(spark, root, lines, reader.parquet(files: _*))
  }

  /** The version's DECLARED physical schema (the widening carrier,
    * [[SchemaEnforce.SchemaKey]]), when one rides its manifest. */
  def schemaCarrier(spark: SparkSession, table: String,
      version: Option[Long] = None): Option[StructType] = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = version.orElse(latestVersion(fs, root)).getOrElse(return None)
    readMeta(spark, table, v).get(SchemaEnforce.SchemaKey)
      .map(StructType.fromDDL)
  }

  /** The meta entries of version `v` that must RE-CARRY through
    * commits which keep existing files alive (DML, OPTIMIZE, metadata
    * commits): the declared-schema carrier (dropping it would send
    * the next read back to the mergeSchema union, which throws on a
    * widened column) and the bloom-index declaration (dropping it
    * would silently stop indexing future commits). */
  private def carrierMetaOf(spark: SparkSession, table: String,
      v: Long): Map[String, String] =
    metaKeys(spark, table, v, SchemaEnforce.SchemaKey, BloomIndex.MetaKey,
      Invariants.MetaKey)

  /** The entries of version `v`'s meta under `keys`. */
  private def metaKeys(spark: SparkSession, table: String, v: Long,
      keys: String*): Map[String, String] =
    readMeta(spark, table, v).view.filterKeys(keys.contains).toMap

  /** (version -> physical union schema) per table, so a steady
    * append stream pays mergeSchema footer inference ONCE and then
    * extends the union in memory: after each append the cache moves
    * forward to (committed version, union(base, appended)). An entry
    * is only trusted when its version matches the append's base
    * exactly — any foreign commit in between simply misses and
    * re-infers. Bounded (commit frequency per table is the growth
    * rate, and entries are one StructType each). */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, StructType)]()

  /** Write-time schema enforcement for an append onto version `v`:
    * refuse type conflicts before any segment lands, upcast losslessly
    * narrower incoming columns, and (opt-in via
    * [[SchemaEnforce.WidenConf]]) widen the table by committing a
    * declared-schema carrier. Returns the adjusted frame plus the
    * carrier meta entry to ride this commit, if one must. */
  private def enforceAppend(spark: SparkSession, table: String,
      v: Long, physDf: DataFrame)
      : (DataFrame, Option[(String, String)], Option[StructType]) = {
    val cacheKey = new Path(table).toUri.toString
    val declared = schemaCarrier(spark, table, Some(v))
    val tableSchema = declared.orElse(
      Option(schemaCache.get(cacheKey)).collect {
        case (`v`, s) => s }).getOrElse {
      val root = new Path(table)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // the read-planning cache may already hold this immutable
      // version's inferred schema (a prior query) — an append cold
      // start then pays no footer job at all, and a fresh inference
      // is published there for the next reader
      val rKey = Versioned.cacheKey(fs, root, v)
      Option(readSchemaCache.get(rKey)).getOrElse {
        val s = inferPhysicalSchema(spark, fs, root, v)
          .getOrElse(return (physDf, None, None))
        readSchemaCache.put(rKey, s)
        s
      }
    }
    val widen = spark.conf.getOption(SchemaEnforce.WidenConf)
      .exists(_.toBoolean)
    val (adjusted, widened) = SchemaEnforce.enforce(physDf, tableSchema, widen)
    val union = SchemaEnforce.union(
      widened.getOrElse(tableSchema), adjusted.schema)
    // carry a declared schema iff the table ever widened: this commit
    // widened it, or a prior one did (declared present)
    val carrier =
      if (widened.isDefined || declared.isDefined)
        Some(SchemaEnforce.SchemaKey -> union.toDDL)
      else None
    (adjusted, carrier, Some(union))
  }

  /** Merged PHYSICAL schema of a version's data files, inferred from
    * ONE representative file per SEGMENT: a segment's files come from
    * one write and share a schema, so the union over representatives
    * equals the union over all files — on a 1M-file table the
    * cold-start inference reads #segments footers, not a million
    * (top-level CONVERT imports have no segment structure and are
    * each their own representative). None for a file-less version. */
  private def inferPhysicalSchema(spark: SparkSession, fs: FileSystem,
      root: Path, v: Long): Option[StructType] = {
    val rels = readFileLines(fs, root, v).map(parseLine(_)._1)
    val files = rels.groupBy { rel =>
      val segs = rel.split('/')
      if (segs.length >= 2 && segs(0) == "data") segs(1) else rel
    }.values.map(g => new Path(root, g.head).toString).toSeq
    if (files.isEmpty) None
    else Some(spark.read.option("mergeSchema", "true")
      .parquet(files: _*).schema)
  }

  /** PHYSICAL union schema of a version for READ PLANNING, without a
    * per-query footer job: the declared schema carrier when present,
    * else per-segment-representative inference cached per (table,
    * version) — a committed version's schema is immutable, so query
    * compilation must never re-pay a distributed footer merge. None
    * for a file-less carrier-less version (caller falls back). */
  def versionSchema(spark: SparkSession, table: String,
      version: Option[Long] = None): Option[StructType] = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = version.orElse(latestVersion(fs, root)).getOrElse(return None)
    schemaCarrier(spark, table, Some(v)).orElse {
      val key = cacheKey(fs, root, v)
      val hit = readSchemaCache.get(key)
      if (hit != null) Some(hit)
      else inferPhysicalSchema(spark, fs, root, v).map { s =>
        readSchemaCache.put(key, s); s
      }
    }
  }

  /** Advance the schema caches after a successful commit that landed
    * `written` (the staged frame's schema; `wrote` = it produced files).
    * An append is trusted only when it landed EXACTLY one past its
    * enforcement base (no foreign interleave — a racing committer's
    * columns would be missing from the in-memory union). A commit with
    * no base that lands version 0 seeds both caches with the schema its
    * files carry, so the first append after a create pays no footer
    * inference. The read-planning cache only ever takes what
    * [[inferPhysicalSchema]] would return: a parquet write records the
    * frame's schema, and inference reads it back all-nullable, so the
    * seed is exact; an append whose files carry the base's inferred
    * schema leaves the union unchanged. */
  private def advanceSchemaCache(fs: FileSystem, root: Path,
      baseV: Option[Long], committed: Long, union: Option[StructType],
      wrote: Boolean, written: StructType): Unit = {
    val inferred = org.apache.spark.sql.GraftShims.asNullable(written)
    def put(s: StructType): Unit = {
      if (schemaCache.size > 512) schemaCache.clear()
      schemaCache.put(root.toUri.toString, (committed, s))
    }
    baseV match {
      case None if committed == 0L && wrote =>
        put(inferred)
        readSchemaCache.put(cacheKey(fs, root, committed), inferred)
      case Some(b) if committed == b + 1 => union.foreach { u => // append
        put(u)
        val base = readSchemaCache.get(cacheKey(fs, root, b))
        if (base != null && (!wrote || base == inferred))
          readSchemaCache.put(cacheKey(fs, root, committed), base)
      }
      case _ =>
    }
  }

  /** Test-only seam: invoked by [[transact]] between staging and the
    * first commit attempt of every staged-row commit (and again between
    * an invariant re-validation and the retry), and by [[commitMetadataOnly]]
    * between its caller's validation and the commit — the windows a
    * concurrent commit lands in. Production value is a no-op. */
  private[graft] var commitTestHook: () => Unit = () => ()

  /** Widening-aware schema fold for [[repairCarrier]]: same-name
    * fields take the WIDER type (carrier semantics), new fields
    * append nullable. */
  private def mergeWide(a: StructType, b: StructType): StructType = {
    val byName = a.fields.map(f => f.name.toLowerCase -> f).toMap
    val widened = a.fields.map { f =>
      b.fields.find(_.name.equalsIgnoreCase(f.name)) match {
        case Some(g) if SchemaEnforce.widensTo(f.dataType, g.dataType) =>
          f.copy(dataType = g.dataType, nullable = true)
        case _ => f
      }
    }
    StructType(widened ++ b.fields
      .filterNot(f => byName.contains(f.name.toLowerCase))
      .map(_.copy(nullable = true)))
  }

  /** A carrier-bearing append that lands PAST an interleaved commit
    * may have written a carrier computed against the pre-race base —
    * missing any column (or width) the interleave introduced, which
    * would hide that column from every carrier-resolved read. Repair:
    * re-derive the union over the committed version's own segments
    * (one representative footer each, folded widening-aware — plain
    * mergeSchema would throw on exactly the narrow-vs-wide pairs the
    * carrier exists for) and land a metadata-only carrier update when
    * it differs. Runs only on the rare race; failures are contained
    * (the un-repaired state is detectable and re-repairable). */
  private def repairCarrier(spark: SparkSession, table: String,
      committed: Long): Unit =
    try {
      val declared = schemaCarrier(spark, table, Some(committed))
        .getOrElse(return)
      val root = new Path(table)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val rels = readFileLines(fs, root, committed).map(parseLine(_)._1)
      val reps = rels.groupBy { rel =>
        val segs = rel.split('/')
        if (segs.length >= 2 && segs(0) == "data") segs(1) else rel
      }.values.map(g => new Path(root, g.head).toString).toSeq
      if (reps.isEmpty) return
      val union = reps.map(f => spark.read.parquet(f).schema)
        .foldLeft(declared)(mergeWide)
      val same = union.length == declared.length &&
        union.fields.zip(declared.fields).forall { case (x, y) =>
          x.name.equalsIgnoreCase(y.name) &&
            SchemaEnforce.sameType(x.dataType, y.dataType) }
      if (!same)
        commitMetadataOnly(fs, root, spark, table, committed,
          Map("operation" -> "schema_repair",
            SchemaEnforce.SchemaKey -> union.toDDL))
    } catch { case scala.util.control.NonFatal(_) => () }

  /** The column mapping of a version (default latest);
    * [[ColumnMapping.empty]] for unmapped tables. */
  def columnMapping(spark: SparkSession, table: String,
      version: Option[Long] = None): ColumnMapping = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = version.orElse(latestVersion(fs, root)).getOrElse(
      return ColumnMapping.empty)
    ColumnMapping.fromMeta(readMeta(spark, table, v))
  }

  /** ALTER TABLE … RENAME COLUMN as a METADATA-ONLY commit: the new
    * manifest carries the same file lines (an empty delta) plus an
    * updated name mapping — zero data IO on a table of any size.
    * Returns the committed version. */
  def renameColumn(spark: SparkSession, table: String,
      oldName: String, newName: String): Long =
    alterColumns(spark, table, Seq(RenameCol(oldName, newName)))

  /** One RENAME/DROP COLUMN change of an [[alterColumns]] batch. */
  sealed trait ColumnChange
  final case class RenameCol(from: String, to: String) extends ColumnChange
  final case class DropCol(name: String,
      ifExists: Boolean = false) extends ColumnChange

  /** An ORDERED batch of RENAME/DROP COLUMN changes as ONE
    * metadata-only commit — `TableCatalog.alterTable`'s contract is
    * apply-atomically, so a multi-change ALTER must never leave the
    * table partially altered (the per-change form committed one
    * version per change: a failing later change stranded the earlier
    * ones). Every change validates against the EVOLVING logical
    * schema before anything lands; the combined mapping commits with
    * mustBase + revalidate-and-retry (the addInvariants shape) so a
    * racing rename, widening append or drop forces a re-read instead
    * of mergeContractKey's commit-wins fallback quietly reverting the
    * other DDL (two racing renames: the loser's mapping, built
    * pre-race, lacks the winner's entry). Returns the committed
    * version (the current one if every change was an ifExists no-op). */
  def alterColumns(spark: SparkSession, table: String,
      changes: Seq[ColumnChange]): Long = {
    require(changes.nonEmpty, "alterColumns needs at least one change")
    changes.foreach {
      case RenameCol(_, to) => ColumnMapping.validateName(to)
      case _ => ()
    }
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    raceLoop(fs, root, table, s"ALTER COLUMNS on $table") { v =>
      var mapping = columnMapping(spark, table, Some(v))
      var logical = read(spark, table, Some(v)).schema.fieldNames.toSeq
      val spec = bucketSpec(spark, table, Some(v))
      val applied = scala.collection.mutable.ListBuffer.empty[String]
      changes.foreach {
        case RenameCol(from, to) =>
          require(logical.exists(_.equalsIgnoreCase(from)),
            s"column $from does not exist in $table " +
              s"(columns: ${logical.mkString(", ")})")
          require(!logical.exists(_.equalsIgnoreCase(to)),
            s"column $to already exists in $table")
          require(!spec.exists(_._1.equalsIgnoreCase(from)),
            s"cannot rename bucket column $from — the bucket layout " +
              "contract is keyed by it; de-bucket (plain overwrite) first")
          val phys = mapping.physicalOf(from)
          // an unencodable on-disk name must fail HERE, not be
          // silently dropped by fromMeta on the next read
          ColumnMapping.validateName(phys)
          mapping = mapping.copy(renames = mapping.renames
            .filterNot(_._1.equalsIgnoreCase(from)) :+ (to -> phys))
          logical = logical.map(n =>
            if (n.equalsIgnoreCase(from)) to else n)
          applied += s"$from->$to"
        case DropCol(name, ifExists) =>
          if (!logical.exists(_.equalsIgnoreCase(name))) {
            require(ifExists,
              s"column $name does not exist in $table " +
                s"(columns: ${logical.mkString(", ")})")
          } else {
            require(logical.length > 1,
              s"cannot drop $name — it is the only visible column of " +
                table)
            require(!spec.exists(_._1.equalsIgnoreCase(name)),
              s"cannot drop bucket column $name — the bucket layout " +
                "contract is keyed by it; de-bucket (plain overwrite) " +
                "first")
            val phys = mapping.physicalOf(name)
            ColumnMapping.validateName(phys)
            mapping = ColumnMapping(
              mapping.renames.filterNot(_._1.equalsIgnoreCase(name)),
              mapping.dropped :+ phys)
            logical = logical.filterNot(_.equalsIgnoreCase(name))
            applied += s"-$name"
          }
      }
      if (applied.isEmpty) Some(v) // all-ifExists no-op: nothing lands
      else {
        val opMeta = changes match {
          case Seq(RenameCol(f, t)) =>
            Map("operation" -> "rename_column", "rename" -> s"$f->$t")
          case Seq(DropCol(n, _)) =>
            Map("operation" -> "drop_column", "drop" -> n)
          case _ => Map("operation" -> "alter_columns",
            "changes" -> applied.mkString(","))
        }
        try Some(commitMetadataOnly(fs, root, spark, table, v,
          opMeta ++ mapping.toMeta, mustBase = true))
        catch { case _: RewriteConflict => None }
      }
    }
  }

  /** ALTER TABLE … DROP COLUMN as a METADATA-ONLY commit: the physical
    * column is tombstoned — hidden from every read of this and later
    * versions, untouched in committed segments (time travel still sees
    * it), physically discarded as rewrites touch its rows. Returns the
    * committed version. */
  def dropColumn(spark: SparkSession, table: String, name: String): Long =
    alterColumns(spark, table, Seq(DropCol(name)))

  /** Commit the SAME file lines as `v` under new meta (plus the bucket
    * declaration, which must survive a metadata commit). Conflicts with
    * an interleaved commit re-carry the NEW latest's lines AND
    * re-merge the contract keys against it — two racing metadata
    * commits (ADD CONSTRAINT vs CREATE BLOOMFILTER INDEX) both land.
    * `mustBase` instead REFUSES any interleave (RewriteConflict) for
    * callers whose meta was validated against exactly `v`'s data. */
  private def commitMetadataOnly(fs: FileSystem, root: Path,
      spark: SparkSession, table: String, v: Long,
      meta: Map[String, String], mustBase: Boolean = false): Long = {
    val spec = bucketSpec(spark, table, Some(v))
    commitTestHook() // the caller-validated-at-v → commit window
    // inherited contract meta first, so an explicit `meta` entry (an
    // invariant add/drop) OVERRIDES the inherited value for its key
    commitManifest(fs, root,
      carrierMetaOf(spark, table, v) ++ meta ++
        spec.map { case (c, n) => BucketKey -> s"$c/$n" },
      { base =>
        if (mustBase && base != Some(v)) throw new RewriteConflict
        base.toSeq.flatMap(readFileLines(fs, root, _))
      },
      Some(v), ContractKeys)
  }

  /** Committed versions, ascending. Unparseable / staged-hidden names
    * are ignored (a crashed committer's temp file is not a version). */
  def versions(spark: SparkSession, table: String): Seq[Long] = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    listVersions(fs, root)
  }

  /** Absolute data-file paths of a version (default: latest) — the
    * read-planning primitive [[read]] and the DSv2 catalog share. */
  def versionFiles(spark: SparkSession, table: String,
      version: Option[Long] = None): Seq[String] = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = version.orElse(latestVersion(fs, root)).getOrElse(
      throw new IllegalArgumentException(s"no committed version in $table"))
    readManifest(fs, root, v).map(rel => new Path(root, rel).toString)
  }

  /** Change feed (Delta-CDF-lite): the rows ADDED to the table after
    * version `fromV`, up to and including `toV` — i.e. the segments
    * `toV` references that `fromV` didn't. For append histories this
    * is exactly the row-level incremental feed a downstream consumer
    * tails (cost tracks the DELTA, never the table); an overwrite
    * re-snapshots, so its "adds" are the new snapshot — file-level
    * semantics, stated rather than hidden. Two consequences of that
    * file granularity: a COW rewrite surfaces its whole replacement
    * segment, and a DV (merge-on-read) delete — which changes NO
    * files — is entirely invisible here. Consumers that need exact
    * row deltas (deletes included) use [[rowChanges]] or the
    * streaming source's `readChangeFeed` option. Removed-file counts
    * come from [[changedFiles]]. */
  def changes(spark: SparkSession, table: String,
      fromV: Long, toV: Long): DataFrame = {
    require(fromV <= toV, s"fromV $fromV > toV $toV")
    val (added, _) = changedFiles(spark, table, fromV, toV)
    if (added.isEmpty) read(spark, table, Some(toV)).limit(0)
    else columnMapping(spark, table, Some(toV)).applyRead(
      // added files carry PHYSICAL column names; the feed's consumers
      // speak toV's logical view — same projection as [[read]]. A
      // widened table's files resolve under toV's declared schema.
      schemaCarrier(spark, table, Some(toV)) match {
        case Some(s) => spark.read.schema(s).parquet(added: _*)
        case None =>
          spark.read.option("mergeSchema", "true").parquet(added: _*)
      })
  }

  /** (added, removed) absolute file paths between two versions. */
  def changedFiles(spark: SparkSession, table: String,
      fromV: Long, toV: Long): (Seq[String], Seq[String]) = {
    val from = versionFiles(spark, table, Some(fromV)).toSet
    val to = versionFiles(spark, table, Some(toV)).toSet
    ((to -- from).toSeq.sorted, (from -- to).toSeq.sorted)
  }

  /** Name of the change-type column [[rowChanges]] appends — Delta
    * CDF's column name, values `insert` / `delete` /
    * `update_preimage` / `update_postimage`. */
  val ChangeTypeCol = "_change_type"

  /** Name of the commit-version column [[rowChanges]] appends. */
  val CommitVersionCol = "_commit_version"

  /** Hard bound on a [[rowChanges]]/DESCRIBE CHANGES version range.
    * The feed builds one plan step per commit in the range; an
    * unbounded `FROM 0 TO 100000` would assemble a 100k-way union on
    * the driver. Bulk consumption belongs to the per-batch paths
    * ([[consumeChanges]], the streaming change-feed source), which are
    * immune — they diff one version at a time. */
  val MaxChangeRange = 4096L

  /** Row-level change feed (the Delta-CDF contract [[changes]]'
    * file-level semantics can't deliver): the table's rows as they
    * CHANGED in versions (fromV, toV], each tagged with
    * [[ChangeTypeCol]] and [[CommitVersionCol]]. Where [[changes]]
    * hands a downstream consumer a COW UPDATE's whole rewritten
    * segment as adds (re-processing carried rows, never learning what
    * was deleted), this reconstructs the row deltas by DIFFING each
    * commit's replaced segments against their replacements: the
    * manifest diff names exactly the rewritten files, carried files
    * are never opened, and within a rewritten segment the carried
    * rows cancel in the multiset difference — so the diff cost
    * tracks the REWRITTEN segments, never the table. (Delta gets the
    * same rows by persisting `_change_data` files at write time; a
    * manifest-diff reconstruction keeps the write path stock and
    * needs no sidecar format.)
    *
    * Per-commit classification, from the commit's `operation` meta:
    *  - no removed files (append): added rows → `insert`
    *  - `delete`: removed∖added → `delete` (a delete's transform only
    *    drops rows, so added∖removed is empty by construction)
    *  - `update`: removed∖added → `update_preimage`,
    *    added∖removed → `update_postimage` (an update that leaves a
    *    row bit-identical cancels — emitting it as a change would be
    *    a lie)
    *  - `optimize`: layout-only by contract — no change rows, no read
    *  - anything else (overwrite, restore, foreign meta): the generic
    *    row diff, removed∖added → `delete` plus added∖removed →
    *    `insert`. An overwrite re-snapshots, so its diff honestly
    *    costs O(both snapshots) — the same stated degradation as
    *    [[changes]].
    *
    * Rows are compared under toV's schema (columns a removed file
    * carries beyond it are ignored; columns it predates read as
    * null — the usual mergeSchema evolution contract). */
  def rowChanges(spark: SparkSession, table: String,
      fromV: Long, toV: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, regexp_replace}
    import spark.implicits._
    require(fromV <= toV, s"fromV $fromV > toV $toV")
    require(toV - fromV <= MaxChangeRange,
      s"change-feed range ($fromV, $toV] spans ${toV - fromV} versions " +
        s"— above the $MaxChangeRange-version bound (one plan step per " +
        "commit). Consume the feed in chunks: consumeChanges, the " +
        "streaming change-feed source, or smaller DESCRIBE CHANGES ranges")
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // files are read under toV's PHYSICAL schema (stable across
    // renames — a rename changes no data, so it emits no change rows)
    // and projected to toV's logical view at the edge
    val mapping = columnMapping(spark, table, Some(toV))
    val schema = readPhysical(spark, table, Some(toV)).schema
    val logicalNames = schema.fieldNames.toSeq
      .filterNot(mapping.isDropped).map(mapping.logicalOf)
    require(!logicalNames.exists(n =>
      n.equalsIgnoreCase(ChangeTypeCol) || n.equalsIgnoreCase(CommitVersionCol)),
      s"table $table already has a $ChangeTypeCol/$CommitVersionCol column")
    // reads go through the DV overlay of the LINES being read: a row a
    // deletion vector had already removed before this range must not
    // resurface as a preimage or delete
    def readLines(lines: Seq[String]): DataFrame = {
      val files = lines.map(l => new Path(root, parseLine(l)._1).toString)
      if (files.isEmpty)
        mapping.applyRead(spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
      else mapping.applyRead(applyDv(spark, root, lines,
        spark.read.schema(schema).parquet(files: _*)))
    }
    def tag(df: DataFrame, change: String, v: Long): DataFrame =
      df.withColumn(ChangeTypeCol, lit(change))
        .withColumn(CommitVersionCol, lit(v))
    // one log resolution per version: each iteration's current lines
    // become the next iteration's previous — halves the manifest-chain
    // replays on a long range
    var prevLines = readFileLines(fs, root, fromV)
    val steps = ((fromV + 1) to toV).flatMap { v =>
      val curLines = readFileLines(fs, root, v)
      val prevByRel = prevLines.map(l => parseLine(l)._1 -> l).toMap
      val curRels = curLines.map(parseLine(_)._1).toSet
      val addedLines = curLines.filterNot(l => prevByRel.contains(parseLine(l)._1))
      val removedLines = prevLines.filterNot(l => curRels.contains(parseLine(l)._1))
      val op = readMeta(spark, table, v).getOrElse("operation", "")
      // DV-update commits remove no file: the dv delta carries the
      // preimages and the appended segment the postimages — detected
      // below and classified as an update, not insert+delete
      lazy val gainedRefs: Map[String, Seq[String]] =
        curLines.map(parseLine)
          .filter { case (rel, _, _) => prevByRel.contains(rel) }
          .flatMap { case (rel, _, refs) =>
            val prevRefs = parseLine(prevByRel(rel))._3.map(_._1).toSet
            refs.map(_._1).filterNot(prevRefs).map(_ -> rel)
          }
          .groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
      // refs a line LOST while keeping its file: a RESTORE to a
      // pre-DV-delete version changes no file set but drops dv= refs,
      // RESURRECTING the previously deleted rows — without emitting
      // them the feed silently diverges from the snapshot diff
      lazy val lostRefs: Map[String, Seq[String]] =
        curLines.map(parseLine)
          .filter { case (rel, _, _) => prevByRel.contains(rel) }
          .flatMap { case (rel, _, refs) =>
            val cur = refs.map(_._1).toSet
            parseLine(prevByRel(rel))._3.map(_._1)
              .filterNot(cur).map(_ -> rel)
          }
          .groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
      val dvUpdate = op == "update" && gainedRefs.nonEmpty
      val fileSteps: Seq[DataFrame] =
        if (op == "optimize") Nil
        else if (removedLines.isEmpty) {
          if (addedLines.isEmpty) Nil
          else Seq(tag(readLines(addedLines),
            if (dvUpdate) "update_postimage" else "insert", v))
        } else {
          val pre = readLines(removedLines)
          val post = readLines(addedLines)
          op match {
            case "delete" => Seq(tag(pre.exceptAll(post), "delete", v))
            case "update" => Seq(
              tag(pre.exceptAll(post), "update_preimage", v),
              tag(post.exceptAll(pre), "update_postimage", v))
            case _ => Seq(
              tag(pre.exceptAll(post), "delete", v),
              tag(post.exceptAll(pre), "insert", v))
          }
        }
      // DV delta: a merge-on-read DELETE/UPDATE changes no files — it
      // adds dv= refs to surviving lines. The rows those NEW refs
      // name are this commit's deletes (or update preimages);
      // fetching them reads only the affected files, restricted to
      // the new sidecars' row indexes.
      val gained: Map[String, Seq[String]] = // dv dir -> rels gaining it at v
        if (op == "optimize") Map.empty else gainedRefs
      val lost: Map[String, Seq[String]] = // dv dir -> rels losing it at v
        if (op == "optimize") Map.empty else lostRefs
      // the rows a ref map's sidecar entries name — reads only the
      // affected files, restricted to the sidecars' row indexes
      def dvRefRows(refMap: Map[String, Seq[String]]): DataFrame = {
        val pairs = refMap.toSeq.sortBy(_._1).map { case (dir, rels) =>
          readDvEntries(spark, root, Seq(dir))
            .where(col(DvFileCol).isin(rels: _*))
        }.reduce(_.unionAll(_))
        val rels = refMap.values.flatten.toSeq.distinct
        val relDf = rels.map(r => (r, qualifiedRelPath(fs, root, r)))
          .toDF(DvFileCol, "__graft_p")
        val pairsNorm = pairs.join(relDf, DvFileCol)
          .select(col("__graft_p"), col(DvIdxCol).as("__graft_i"))
        mapping.applyRead(spark.read.schema(schema)
          .parquet(rels.map(r => new Path(root, r).toString): _*)
          .withColumn("__graft_p", regexp_replace(
            col("_metadata.file_path"), SchemeAuthorityRegex, ""))
          .withColumn("__graft_i", col("_metadata.row_index"))
          .join(pairsNorm, Seq("__graft_p", "__graft_i"), "left_semi")
          .drop("__graft_p", "__graft_i"))
      }
      val dvSteps: Seq[DataFrame] =
        (if (gained.isEmpty) Nil
         else Seq(tag(dvRefRows(gained),
           if (dvUpdate) "update_preimage" else "delete", v))) ++
        (if (lost.isEmpty) Nil
         else Seq(tag(dvRefRows(lost), "insert", v)))
      prevLines = curLines
      fileSteps ++ dvSteps
    }
    // balanced union: a left-deep reduce over a long range builds an
    // O(range)-deep plan tree (analyzer recursion/driver stack cost);
    // pairwise folding keeps the tree O(log range) deep — the bounded
    // plan shape that lets a wide DESCRIBE CHANGES still analyze
    def fold(dfs: Seq[DataFrame]): DataFrame =
      if (dfs.sizeIs <= 1) dfs.head
      else fold(dfs.grouped(2).map {
        case scala.collection.Seq(a, b) => a.unionAll(b)
        case scala.collection.Seq(a) => a
      }.toSeq)
    if (steps.isEmpty) tag(readLines(Nil), "insert", toV).limit(0)
    else fold(steps)
  }

  /** Cursor-based change-feed consumer — the downstream half of
    * [[changes]]: process everything committed after this consumer's
    * cursor, then advance the cursor to the version just consumed.
    * The cursor (one version number in a file under the consumer's own
    * path) advances AFTER `f` returns, so a consumer that crashes
    * mid-process re-reads the same delta next run — at-least-once, the
    * same replay discipline the reference's 80 h watermark lag encodes
    * (`Ingest:350`), with versions instead of timestamps. An idempotent
    * `f` (e.g. a keyed MERGE) upgrades it to effectively-once. Returns
    * the versions consumed as (from, to], or None if already caught up. */
  def consumeChanges(spark: SparkSession, table: String, cursorPath: String)
      (f: DataFrame => Unit): Option[(Long, Long)] = {
    val cursor = new Path(cursorPath)
    val fs = cursor.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val last: Option[Long] =
      if (!fs.exists(cursor)) None
      else {
        val in = fs.open(cursor)
        val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
        scala.util.Try(s.toLong).toOption
      }
    val live = versions(spark, table)
    val latest = live.lastOption.getOrElse(return None)
    if (last.contains(latest)) return None
    val delta = last match {
      // a vacuumed cursor version has no manifest to diff against —
      // without this check every subsequent run would die in
      // versionFiles(fromV) until someone deleted the cursor by hand.
      // Fall back to a full re-read of the latest snapshot (safe
      // under the consumer's at-least-once contract) and say so.
      case Some(v) if !live.contains(v) =>
        logWarning(
          s"change-feed cursor version $v of $table was vacuumed; " +
            s"re-reading full table at version $latest")
        read(spark, table, Some(latest))
      case Some(v) => changes(spark, table, v, latest)
      case None => read(spark, table, Some(latest)) // first run: full table
    }
    f(delta)
    advanceCursor(fs, cursor, latest)
    Some((last.getOrElse(-1L), latest))
  }

  /** Atomically (where the FS allows) advance the cursor file. Prefers
    * FileContext's overwrite rename — no window with no cursor at all;
    * falls back to delete+rename on filesystems without it, where a
    * crash between the two downgrades the next run to a full re-read
    * (safe, just wasteful — same as a torn cursor write). */
  private def advanceCursor(fs: FileSystem, cursor: Path, v: Long): Unit = {
    val tmp = new Path(cursor.getParent, s".${cursor.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    try {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        fs.getUri, fs.getConf)
      fc.rename(tmp, cursor, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      case _: UnsupportedOperationException | _: java.io.IOException =>
        if (fs.exists(cursor)) fs.delete(cursor, false)
        if (!fs.rename(tmp, cursor))
          throw new java.io.IOException(s"could not advance cursor $cursor")
    }
  }

  /** Latest version committed at or before `tsMicros` (epoch
    * microseconds — the unit Spark's `TIMESTAMP AS OF` hands a DSv2
    * catalog), by manifest commit time. */
  def versionAt(spark: SparkSession, table: String, tsMicros: Long): Long = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val at = listVersions(fs, root).filter { v =>
      commitTimeMs(fs, root, v) * 1000L <= tsMicros
    }
    at.lastOption.getOrElse(throw new IllegalArgumentException(
      s"no version of $table committed at or before timestamp " +
        s"${tsMicros / 1000000L} (epoch seconds)"))
  }

  /** Drop all but the `keepLast` newest versions: their manifests go
    * first (making the versions unreadable), then any data segment dir
    * no surviving manifest references. Survivors keep their exact
    * files, so latest-version reads are untouched. */
  def vacuum(spark: SparkSession, table: String, keepLast: Int = 1): Unit = {
    require(keepLast >= 1, "keepLast must be >= 1")
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val all = listVersions(fs, root)
    // retention is a MUTATION: a newer writer's duties (e.g. a sidecar
    // family this build doesn't know) must refuse, like any commit
    all.lastOption.foreach(v =>
      checkWriter(root, v, manifestHeaders(fs, root, v)))
    val (drop, keep) = all.splitAt(math.max(0, all.size - keepLast))
    dropAndSweep(fs, root, drop, keep)
  }

  /** Time-based retention (Delta's `VACUUM … RETAIN n HOURS` shape):
    * drop every version whose COMMIT TIME (manifest-embedded, mtime
    * for legacy manifests) is older than `hours` — except the latest,
    * which always survives regardless of age (a quiet table must stay
    * readable). Returns the number of versions dropped. */
  def vacuumOlderThan(spark: SparkSession, table: String,
      hours: Double): Int = {
    require(hours >= 0, s"hours must be >= 0: $hours")
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val all = listVersions(fs, root)
    if (all.isEmpty) return 0
    checkWriter(root, all.last, manifestHeaders(fs, root, all.last))
    val cutoff = System.currentTimeMillis - (hours * 3600000.0).toLong
    val latest = all.last
    // Drop only the CONTIGUOUS oldest prefix under the cutoff (the
    // same splitAt shape as vacuum(keepLast)). Commit times are not
    // guaranteed monotonic with version order (multi-writer clock
    // skew, legacy mtime fallback); a non-contiguous drop would leave
    // a GAP in the manifest sequence — latestVersion's _latest
    // forward probe stops at a gap and commitManifest would then
    // allocate a version number below the true latest, silently
    // forking the table.
    val drop = all.takeWhile(v =>
      v != latest && commitTimeMs(fs, root, v) < cutoff)
    val keep = all.drop(drop.size)
    dropAndSweep(fs, root, drop, keep)
    drop.size
  }

  /** How long an UNREFERENCED dir (a crashed writer's staged segment)
    * must sit before [[dropAndSweep]]'s orphan pass may delete it. An
    * IN-FLIGHT commit stages its segment BEFORE the manifest rename,
    * so a concurrent vacuum that swept every unreferenced dir would
    * eat a live writer's data out from under its commit — the grace
    * window is what makes vacuum safe to run while writers run
    * (Delta's VACUUM retention serves exactly this purpose). */
  private[graft] var OrphanGraceMs: Long = 20L * 60 * 1000

  /** Shared retention core: drop the given manifests (making those
    * versions unreadable), then sweep the data segment / dv sidecar /
    * bloom sidecar dirs the DROPPED manifests referenced and no
    * survivor still does. Dirs referenced by NO manifest at all are
    * swept only once older than [[OrphanGraceMs]] — they are either a
    * crashed writer's debris (old) or a live writer's staged commit
    * (new, must survive). */
  private def dropAndSweep(fs: FileSystem, root: Path,
      drop: Seq[Long], keep: Seq[Long]): Unit = {
    // BEFORE any manifest is deleted: if the oldest survivor is a
    // delta, its action chain runs through manifests being dropped —
    // materialize it as a full checkpoint in place. Later survivors'
    // backward walks then stop at it (they replay from the first FULL
    // manifest they meet, not a recorded base version), so the rest of
    // the chain stays resolvable. A crash between this rewrite and the
    // deletes below leaves extra manifests, never a broken chain.
    if (drop.nonEmpty) keep.headOption.foreach(materializeFull(fs, root, _))
    // family refs (data segment / dv / bloom dir uuids) of a manifest
    // set. Only `data/<uuid>/...` rels name a sweepable segment dir;
    // CONVERTed tables commit top-level imported rels (e.g.
    // `part-0000.parquet`) with no '/', which never live under data/
    // and must not crash the sweep.
    def refsOf(vs: Seq[Long]): (Set[String], Set[String], Set[String]) = {
      val data = mutable.Set.empty[String]
      val dv = mutable.Set.empty[String]
      val bloom = mutable.Set.empty[String]
      vs.foreach(v => readFileLines(fs, root, v).foreach { line =>
        val (rel, _, dvRefs) = parseLine(line)
        val segs = rel.split('/')
        if (segs.length >= 2 && segs(0) == "data") data += segs(1)
        dvRefs.foreach { case (dvRel, _) =>
          val d = dvRel.split('/')
          if (d.length >= 2 && d(0) == "dv") dv += d(1)
        }
        parseBloomRef(line).foreach { ref =>
          val b = ref.split('/')
          if (b.length >= 2 && b(0) == "bloom") bloom += b(1)
        }
      })
      (data.toSet, dv.toSet, bloom.toSet)
    }
    // dropped refs must be collected while their chains still resolve
    val (dropData, dropDv, dropBloom) = refsOf(drop)
    // checkpoint-gz sidecar names ride the #ckpt= header — read while
    // the dropped manifests still live, deleted along with them.
    // Lenient HERE only: a manifest this vacuum cannot read just
    // leaves its sidecar as an orphan for a later sweep; the KEEP
    // side below stays strict (an unreadable keep manifest must abort
    // the sweep, never expose a live sidecar to the orphan cutoff)
    val dropCkpt = drop.flatMap { v =>
      try ckptNameOf(fs, root, v)
      catch { case scala.util.control.NonFatal(_) => None }
    }
    drop.foreach { v =>
      fs.delete(new Path(root, s"$LogDir/$v.manifest"), false)
      invalidateManifest(fs, root, v) // a vacuumed version must not
      // remain readable from the cache (restore/read must throw)
    }
    dropCkpt.foreach(n =>
      fs.delete(new Path(root, s"$LogDir/$n"), false))
    val (keepData, keepDv, keepBloom) = refsOf(keep)
    val cutoff = System.currentTimeMillis - OrphanGraceMs
    def sweep(family: String, dropped: Set[String], live: Set[String]): Unit = {
      val famRoot = new Path(root, family)
      if (!fs.exists(famRoot)) return
      val dead = fs.listStatus(famRoot).filter { st =>
        val name = st.getPath.getName
        st.isDirectory && {
          if (live.contains(name)) false
          else if (dropped.contains(name)) true // unreachable: dropped-only
          else st.getModificationTime < cutoff // orphan past the grace
        }
      }
      // recursive dir deletes are independent per segment — a vacuum
      // releasing thousands of them must not serialize the RPCs
      DriverPar.foreach(dead.toSeq)(st => fs.delete(st.getPath, true))
    }
    sweep("data", dropData, keepData)
    sweep("dv", dropDv, keepDv)
    sweep("bloom", dropBloom, keepBloom)
    // orphaned checkpoint sidecars (a crash between the gz write and
    // the manifest rename) age out past the same grace window
    val keepCkpt = keep.flatMap(v => ckptNameOf(fs, root, v)).toSet
    val logDir = new Path(root, LogDir)
    if (fs.exists(logDir)) fs.listStatus(logDir).foreach { st =>
      val n = st.getPath.getName
      if (n.endsWith(".checkpoint.gz") && !keepCkpt.contains(n) &&
          st.getModificationTime < cutoff)
        fs.delete(st.getPath, false)
    }
  }

  /** Rewrite version `v`'s manifest in place as a FULL snapshot
    * (headers preserved, delta marker dropped, actions replaced by the
    * resolved file lines). No-op when already full. Overwrite-rename
    * where the filesystem supports it — same discipline as the
    * `_latest` pointer; the delete+rename fallback has a brief window
    * with no manifest, closed again by the rename. */
  private def materializeFull(fs: FileSystem, root: Path, v: Long): Unit = {
    val all = manifestLines(fs, root, v)
    if (!all.contains(DeltaMarker)) return
    val lines = readFileLines(fs, root, v) // resolve while the chain lives
    val baseHeaders = all.filter(l => l.startsWith("#") &&
      l != DeltaMarker && !l.startsWith(s"#$ReaderKey=") &&
      !l.startsWith(s"#$CkptKey="))
    // same representation decision as a committed checkpoint: big
    // materializations land as pointer + gzip sidecar
    val headers =
      if (lines.sizeIs >= CheckpointGzMinLines) {
        val name = s"${java.util.UUID.randomUUID()}.checkpoint.gz"
        writeGzLines(fs, root, name, lines)
        baseHeaders ++ Seq(s"#$ReaderKey=2", s"#$CkptKey=$name")
      } else baseHeaders :+ s"#$ReaderKey=1"
    val content =
      (if (headers.exists(_.startsWith(s"#$CkptKey="))) headers
       else headers ++ lines).mkString("\n")
    val dst = manifestPath(root, v)
    val tmp = new Path(root,
      s"$LogDir/.tmp-${java.util.UUID.randomUUID().toString}")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    try {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        fs.getUri, fs.getConf)
      fc.rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      case _: UnsupportedOperationException | _: java.io.IOException =>
        if (fs.exists(dst)) fs.delete(dst, false)
        require(fs.rename(tmp, dst),
          s"could not materialize checkpoint manifest $dst")
    }
    invalidateManifest(fs, root, v) // content changed (delta -> full)
  }

  private def listVersions(fs: FileSystem, root: Path): Seq[Long] = {
    val dir = new Path(root, LogDir)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.endsWith(".manifest") =>
        n.stripSuffix(".manifest")
      }
      .flatMap(n => scala.util.Try(n.toLong).toOption)
      .sorted
  }

  /** Best-effort latest-version pointer (`_graft_log/_latest`) — the
    * same discipline as Delta's `_last_checkpoint`: every read plans
    * from the latest version, and without the pointer resolving it is
    * a LIST of the whole log dir. Local FS hides the cost, but object
    * stores make LIST the slowest call there is, and a streaming sink
    * commits once per micro-batch — at 100k commits the listing, not
    * the manifest read, dominates read planning. The pointer makes
    * resolution O(1) file stats: read the pointer, verify its manifest
    * exists, probe FORWARD one exists() per commit the pointer missed
    * (it is written AFTER the commit rename, best-effort — a crash or
    * an interleaved slower writer can leave it a few versions behind,
    * never ahead of a durable commit it names). Anything unreadable,
    * unparseable, or pointing at a vacuumed manifest falls back to the
    * full listing — the pointer is an accelerator, NEVER a source of
    * truth, so corrupting or deleting it costs a LIST and nothing
    * else. */
  private val LatestPointer = "_latest"

  /** Count of full-listing fallbacks taken by [[latestVersion]] —
    * a test hook: LatestPointerSpec proves a read on a deep-history
    * table resolves its version with ZERO listings. */
  private[graft] val latestListFallbacks =
    new java.util.concurrent.atomic.AtomicLong(0L)

  private def manifestPath(root: Path, v: Long): Path =
    new Path(root, s"$LogDir/$v.manifest")

  /** A missing pointer is the open's FileNotFoundException, caught
    * with every other failure: no `exists` probe first. */
  private def readLatestPointer(fs: FileSystem, root: Path): Option[Long] =
    try {
      val in = fs.open(new Path(root, s"$LogDir/$LatestPointer"))
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
      scala.util.Try(s.toLong).toOption.filter(_ >= 0)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Overwrite-rename the pointer to `v`. Best-effort by contract:
    * failure is swallowed — the next read pays a LIST, never reads a
    * wrong version. Monotonicity is not enforced here (two racing
    * committers may land pointer writes out of order); the forward
    * probe in [[latestVersion]] absorbs a behind-pointer. */
  private def writeLatestPointer(fs: FileSystem, root: Path, v: Long): Unit =
    try {
      val ptr = new Path(root, s"$LogDir/$LatestPointer")
      val tmp = new Path(root,
        s"$LogDir/.$LatestPointer.${java.util.UUID.randomUUID()}.tmp")
      val out = fs.create(tmp, true)
      try out.write(v.toString.getBytes("UTF-8")) finally out.close()
      try {
        val fc = org.apache.hadoop.fs.FileContext.getFileContext(
          fs.getUri, fs.getConf)
        fc.rename(tmp, ptr, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      } catch {
        case _: UnsupportedOperationException | _: java.io.IOException =>
          if (fs.exists(ptr)) fs.delete(ptr, false)
          if (!fs.rename(tmp, ptr)) fs.delete(tmp, false)
      }
    } catch { case scala.util.control.NonFatal(_) => () }

  private def latestVersion(fs: FileSystem, root: Path): Option[Long] =
    readLatestPointer(fs, root) match {
      case Some(v) if fs.exists(manifestPath(root, v)) =>
        // pointer valid but possibly behind: one exists() per missed
        // commit (O(staleness), typically zero), never a LIST
        var cur = v
        while (fs.exists(manifestPath(root, cur + 1))) cur += 1
        Some(cur)
      case _ =>
        latestListFallbacks.incrementAndGet()
        listVersions(fs, root).lastOption
    }

  /** File LINES of a version: `relpath` or `relpath\t<stats>[\tdv=…]` —
    * what append/restore must carry forward verbatim. A full manifest
    * stores them directly; a delta manifest is resolved by walking
    * back to the nearest checkpoint and replaying the action chain
    * ([[resolveWithDepth]]). */
  private def readFileLines(fs: FileSystem, root: Path, v: Long): Seq[String] =
    resolveWithDepth(fs, root, v)._1

  /** Refuse manifests stamped with a reader protocol above what this
    * code understands — the forward-compat gate for the line grammar. */
  private def checkReader(root: Path, v: Long, lines: Seq[String]): Unit =
    lines.collectFirst { case l if l.startsWith(s"#$ReaderKey=") =>
      l.stripPrefix(s"#$ReaderKey=") }
      .flatMap(s => scala.util.Try(s.toInt).toOption)
      .filter(_ > ReaderProtocol)
      .foreach(n => throw new IllegalStateException(
        s"version $v of $root requires reader protocol $n; this build " +
          s"understands up to $ReaderProtocol — upgrade before reading " +
          "(refusing beats silently misreading a newer line grammar)"))

  /** Resolve a version's file lines plus its delta-chain depth (0 for
    * a full/checkpoint manifest, else the number of delta manifests
    * between it and its checkpoint, itself included). The walk is
    * bounded by [[CheckpointInterval]] by construction; replay is a
    * rel-keyed ordered fold, so resolution order is deterministic:
    * checkpoint order first, adds appended, in-place line replacements
    * (a file gaining a dv= ref) keep their position. */
  private def resolveWithDepth(fs: FileSystem, root: Path,
      v: Long): (Seq[String], Int) = {
    // The walk below reads OLDER manifests; a concurrent VACUUM may
    // delete one mid-walk. Vacuum materializes the oldest survivor as
    // a full checkpoint BEFORE dropping (dropAndSweep), so a FRESH
    // walk always resolves — the race is in the representation, never
    // the content. Retry from the top when a chain LINK vanished; a
    // vacuumed version v itself (manifest gone) still throws.
    var attempt = 0
    while (true) {
      try return resolveChainOnce(fs, root, v)
      catch {
        case e: java.io.FileNotFoundException =>
          if (attempt >= 5 || !fs.exists(manifestPath(root, v))) throw e
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def resolveChainOnce(fs: FileSystem, root: Path,
      v: Long): (Seq[String], Int) = {
    val cur = manifestLines(fs, root, v)
    checkReader(root, v, cur)
    if (!cur.contains(DeltaMarker))
      return (cur.filterNot(_.startsWith("#")), 0)
    // collect the delta chain newest-first, then the checkpoint base
    val chain = mutable.ArrayBuffer(cur)
    var w = v - 1
    var baseLines: Seq[String] = null
    while (baseLines == null) {
      if (w < 0) throw new IllegalStateException(
        s"delta chain of version $v in $root reaches below version 0 " +
          "without a checkpoint — truncated or hand-damaged log")
      val m = manifestLines(fs, root, w)
      checkReader(root, w, m) // a newer-protocol link poisons the chain
      if (m.contains(DeltaMarker)) { chain += m; w -= 1 }
      else baseLines = m.filterNot(_.startsWith("#"))
    }
    val acc = mutable.LinkedHashMap.empty[String, String]
    baseLines.foreach(l => acc(parseLine(l)._1) = l)
    chain.reverseIterator.foreach { m =>
      m.iterator.filterNot(_.startsWith("#")).foreach { a =>
        if (a.startsWith("R\t")) acc.remove(a.substring(2))
        else if (a.startsWith("A\t")) {
          val line = a.substring(2)
          acc(parseLine(line)._1) = line
        } else throw new IllegalStateException(
          s"unrecognized delta action in a manifest of $root: $a")
      }
    }
    (acc.values.toSeq, chain.size)
  }

  /** Relative file paths of a version (stats suffix stripped). */
  private def readManifest(fs: FileSystem, root: Path, v: Long): Seq[String] =
    readFileLines(fs, root, v).map(_.split('\t').head)

  // ------------------------------------------------- manifest line grammar

  /** Full line grammar (each extension backward compatible — older
    * readers that split at the first tab still get the path):
    *
    * {{{
    *   <relpath>[\trows=<n>[\t<colstat>]...][\tdv=<dvdir>:<n>]...
    * }}}
    *
    * `dv=` fields are DELETION-VECTOR references (merge-on-read
    * DELETE): `<dvdir>` is a table-relative parquet directory of
    * `(file: string, idx: long)` pairs naming deleted row positions,
    * `<n>` the count of this file's rows it deletes. A file line may
    * carry several (stacked deletes); a rewrite of the file drops
    * them all (the replacement physically excludes the rows). Fields
    * are order-insensitive past the path; stats parsing must never
    * see dv fields and vice versa. */
  private[graft] def parseLine(line: String)
      : (String, Option[String], Seq[(String, Long)]) = {
    val parts = line.split('\t')
    val rel = parts.head
    val (dvF, rest) = parts.tail.partition(_.startsWith("dv="))
    // bloom sidecar refs are their own field class: they must neither
    // be mistaken for dv refs nor pollute the stats suffix (whose
    // parser treats any malformed field as "no stats at all")
    val statsF = rest.filterNot(_.startsWith("bloom="))
    val dvRefs = dvF.toSeq.flatMap { f =>
      val body = f.stripPrefix("dv=")
      val cut = body.lastIndexOf(':')
      if (cut <= 0) None
      else scala.util.Try(body.substring(cut + 1).toLong).toOption
        .filter(_ >= 0).map(n => (body.substring(0, cut), n))
    }
    (rel, if (statsF.isEmpty) None else Some(statsF.mkString("\t")), dvRefs)
  }

  /** The bloom sidecar ref riding a manifest line, if any. */
  private[graft] def parseBloomRef(line: String): Option[String] =
    line.split('\t').find(_.startsWith("bloom="))
      .map(_.stripPrefix("bloom=")).filter(_.nonEmpty)

  /** Strips a scheme://authority prefix so executor-side
    * `_metadata.file_path` URIs (`file:///x`, `hdfs://nn:8020/x`) and
    * driver-side `Path.toUri.getPath` strings compare equal. One
    * table lives on one filesystem, so dropping the authority cannot
    * conflate files. */
  private[graft] val SchemeAuthorityRegex = "^[a-zA-Z0-9+.-]+:(//[^/]*)?"

  /** Reserved column names of a DV sidecar's on-disk schema. They must
    * never collide with a TABLE column name: the DML stats-scoping path
    * harvests pushed filters from the optimized plan of a DV-overlaid
    * read, and a sidecar-side filter on a column the table also has
    * (a table named its column `file`) would be mistaken for a table
    * predicate and could wrongly prune every segment — a silent no-op
    * DML. Double-underscore-prefixed names are rejected nowhere but
    * used by no real schema. */
  private[graft] val DvFileCol = "__graft_file"
  private[graft] val DvIdxCol = "__graft_idx"

  /** The on-disk schema of a DV sidecar, as [[mergeOnRead]] writes it:
    * the file's table-relative path and its parquet row index. */
  private val DvSchema = StructType(Seq(
    StructField(DvFileCol, StringType), StructField(DvIdxCol, LongType)))

  /** Union of DV sidecar dirs, read in one scan under the known
    * [[DvSchema]] — no footer-inference job. */
  private def readDvEntries(spark: SparkSession, root: Path,
      dirs: Seq[String]): DataFrame =
    spark.read.schema(DvSchema)
      .parquet(dirs.map(d => new Path(root, d).toString): _*)

  /** Absolute, scheme-stripped form of a table-relative path — the
    * exact form executor-side `_metadata.file_path` normalizes to via
    * [[SchemeAuthorityRegex]]. `makeQualified` resolves a RELATIVE
    * table root against the filesystem working directory; without it a
    * relative table path stays relative on the driver side while
    * file_path is absolute, the join never matches, and the DV overlay
    * silently filters nothing. */
  private def qualifiedRelPath(fs: FileSystem, root: Path,
      rel: String): String =
    fs.makeQualified(new Path(root, rel)).toUri.getPath

  /** The (normalized path, row index) pairs the given lines' DV refs
    * delete — None when no line carries a ref. Entries for files
    * outside `lines` (rewritten since their sidecar was written) drop
    * out via the rel-path restriction. */
  private def dvPairs(spark: SparkSession, root: Path,
      lines: Seq[String]): Option[DataFrame] = {
    val withDv = lines.map(parseLine).filter(_._3.nonEmpty)
    if (withDv.isEmpty) return None
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dvDirs = withDv.flatMap(_._3.map(_._1)).distinct
    val entries = readDvEntries(spark, root, dvDirs)
    val relNorm = withDv.map { case (rel, _, _) =>
      (rel, qualifiedRelPath(fs, root, rel)) }
    Some(entries
      .join(relNorm.toDF(DvFileCol, "__graft_p"), DvFileCol)
      .select(col("__graft_p"), col(DvIdxCol).as("__graft_i")))
  }

  /** Overlay a version's deletion vectors on a scan of its files:
    * anti-join on (normalized file path, parquet row index) against
    * the union of the lines' referenced DV sidecars. A version with
    * no `dv=` fields returns `base` untouched — the DV-free hot path
    * keeps its exact plan. Sidecar entries for files whose line no
    * longer references the sidecar (rewritten since) drop out via the
    * rel-path restriction. Cost tracks the DELETED rows, not the
    * table: the sidecar read is O(deleted), and AQE broadcasts the
    * small side of the anti-join. */
  private def applyDv(spark: SparkSession, root: Path,
      lines: Seq[String], base: DataFrame): DataFrame =
    if (!lines.exists(parseLine(_)._3.nonEmpty)) base
    else liveWithRowIds(spark, root, lines, base)
      .drop("__graft_p", "__graft_i")

  /** `base` (a scan of `lines`' files) with each row's normalized file
    * path and parquet row index as `__graft_p`/`__graft_i`, minus the
    * rows the lines' deletion vectors delete. */
  private def liveWithRowIds(spark: SparkSession, root: Path,
      lines: Seq[String], base: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, regexp_replace}
    val withIds = base
      .withColumn("__graft_p", regexp_replace(
        col("_metadata.file_path"), SchemeAuthorityRegex, ""))
      .withColumn("__graft_i", col("_metadata.row_index"))
    dvPairs(spark, root, lines).fold(withIds)(
      withIds.join(_, Seq("__graft_p", "__graft_i"), "left_anti"))
  }

  /** Merge-on-read DELETE (Delta/Iceberg deletion vectors): rows of
    * the latest version matching `cond` are recorded in a parquet
    * SIDECAR of (file, row-index) pairs and the affected manifest
    * lines gain a `dv=` reference — NO data segment is read-modified-
    * written. At 100 TB this is what makes a one-row GDPR delete a
    * metadata-plus-O(1)-rows commit instead of a segment rewrite
    * (copy-on-write [[rewrite]] amplifies a 1-row delete to the
    * segment size). The read path skips DV rows ([[applyDv]]);
    * OPTIMIZE folds them away (it reads DV-filtered and commits
    * physical files). Stacked deletes append further `dv=` refs; a
    * COW rewrite of a file drops its refs, because the replacement
    * physically excludes the rows.
    *
    * `mayTouch` scopes which segments are even scanned for matches
    * (same stats contract as [[rewrite]]). Already-DV-deleted rows
    * never re-match. Returns the number of rows newly deleted; 0
    * matches commits nothing. */
  def deleteWithDv(spark: SparkSession, table: String,
      mayTouch: SegmentStats.FileStats => Boolean, cond: Column,
      linePrune: String => Boolean = _ => true): Long =
    mergeOnRead(spark, table, mayTouch, _.where(cond),
      (schema, files) => rebaseGuard(spark, schema, files, cond), None,
      linePrune)

  /** Test-only seam: invoked by [[compactSmall]] between staging the
    * compacted segment and its commit attempt — the window a concurrent
    * commit lands in. Production value is a no-op. */
  private[graft] var compactTestHook: () => Unit = () => ()

  /** Size-thresholded partial compaction (Delta's OPTIMIZE bin-pack
    * discipline): only data files SMALLER than `minBytes` are read
    * (DV-filtered — compaction folds their deletion vectors) and
    * rewritten bin-packed into ceil(smallBytes / minBytes) outputs;
    * every file at or above the threshold is carried on its manifest
    * line verbatim — stats, dv refs and all — without being opened.
    * At 100 TB this is the difference between "OPTIMIZE folds last
    * night's 500 small streaming commits" and "OPTIMIZE rewrites the
    * table": cost tracks the SMALL-file bytes, never the table.
    *
    * Returns (new version, files rewritten, files carried), or None
    * when fewer than two files are under the threshold (nothing to
    * gain — no commit). On a BUCKETED table the small rows are
    * re-bucketed into one fresh segment under the declared spec (a
    * bucketed streaming sink writes one small file per bucket per
    * batch — this folds a night of such commits at the cost of
    * shuffling only the small rows), and the declaration rides the
    * new manifest. */
  def compactSmall(spark: SparkSession, table: String,
      minBytes: Long): Option[(Long, Long, Long)] = {
    require(minBytes > 0, s"minBytes must be positive: $minBytes")
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // an attempt answers Some(None) when there is nothing to compact
    raceLoop(fs, root, table, s"compactSmall on $table") { v =>
      val spec = bucketSpec(spark, table, Some(v))
      val lines = readFileLines(fs, root, v)
      // file length from the manifest's bytes= stat where present —
      // zero filesystem probes for post-bytes manifests; a probe (or
      // carry, on error) only for legacy lines
      def lenOf(line: String): Long =
        parseLine(line)._2.flatMap(SegmentStats.parse).flatMap(_.bytes)
          .getOrElse {
            try fs.getFileStatus(new Path(root, parseLine(line)._1)).getLen
            catch { case scala.util.control.NonFatal(_) => Long.MaxValue }
          }
      val (small, carried) = lines.partition(lenOf(_) < minBytes)
      if (small.size < 2) Some(None)
      else {
        val smallBytes = small.map(lenOf).sum
        val nOut = math.max(1L, (smallBytes + minBytes - 1) / minBytes).toInt
        // compaction reads and writes the PHYSICAL space verbatim —
        // renamed columns keep their on-disk names, tombstoned columns'
        // data survives for time travel; the mapping meta rides along
        val mapping = columnMapping(spark, table, Some(v))
        val schema = readPhysical(spark, table, Some(v)).schema
        val packedRows = applyDv(spark, root, small,
          spark.read.schema(schema).parquet(
            small.map(l => new Path(root, parseLine(l)._1).toString): _*))
        // unbucketed: bin-pack into nOut files; bucketed: the declared
        // spec routes rows (one file per bucket in the fresh segment),
        // re-shuffling only the SMALL rows
        val staged = stage(spark, fs, root,
          if (spec.isEmpty) packedRows.coalesce(nOut) else packedRows,
          mapping, Nil, "compaction", spec)
        compactTestHook()
        val smallSet = small.toSet
        transact(spark, fs, root, table, staged,
          Map("operation" -> "optimize") ++
            carrierMetaOf(spark, table, v), // carried files may stay narrow
          Expect(v), Some(_.filterNot(smallSet) ++ staged.lines))
          .map(nv => Some((nv, small.size.toLong, carried.size.toLong)))
      }
    }
  }

  /** Merge-on-read UPDATE (the DV-update shape Delta ships as
    * "deletion vectors for UPDATE"): matched rows are DV-deleted from
    * their files AND their `transform`ed post-images are APPENDED as
    * a fresh segment — one atomic commit carrying both. A 10-row
    * update on a 100 TB table costs a sidecar + a 10-row segment
    * write, never a segment rewrite; a bucketed table's appended
    * post-images are routed into their (possibly new) buckets so the
    * layout contract survives. `transform` sees ONLY the matched,
    * not-yet-deleted rows and must return their updated form (same
    * schema). OPTIMIZE folds as with deletes. Returns rows updated. */
  def updateWithDv(spark: SparkSession, table: String,
      mayTouch: SegmentStats.FileStats => Boolean, cond: Column,
      transform: DataFrame => DataFrame,
      linePrune: String => Boolean = _ => true): Long =
    mergeOnRead(spark, table, mayTouch, _.where(cond),
      (schema, files) => rebaseGuard(spark, schema, files, cond),
      Some(transform), linePrune)

  /** [[updateWithDv]] matched by KEY-TUPLE membership instead of a
    * predicate Column: rows whose `keys` tuple appears in `keyTuples`
    * (null-SAFE equality — a NULL key matches a NULL key, the same
    * grouping [[graft.streaming.UpsertSink]]'s batch dedup uses) are
    * DV-deleted and `transform`'s output appended, one atomic commit.
    * The mark is a BROADCAST LEFT-SEMI JOIN, so a 1M-key micro-batch
    * costs one broadcast + one codegen'd hash probe per scanned row —
    * never a 1M-node literal expression tree (analyzer/codegen cost
    * linear in distinct keys). `guard` is the caller's
    * stats-expressible key domain, used only when a concurrent commit
    * forces the rebase write-skew check. */
  def updateWithDvKeyed(spark: SparkSession, table: String,
      mayTouch: SegmentStats.FileStats => Boolean, keys: Seq[String],
      keyTuples: DataFrame,
      guard: Seq[org.apache.spark.sql.sources.Filter],
      transform: DataFrame => DataFrame): Long = {
    import org.apache.spark.sql.functions.{broadcast, col}
    require(keys.nonEmpty, "updateWithDvKeyed needs at least one key")
    val kt = keyTuples.select(keys.map(col): _*).distinct()
      .toDF(keys.map(k => s"__graft_k_$k"): _*)
    mergeOnRead(spark, table, mayTouch,
      live => live.join(broadcast(kt),
        keys.map(k => live(k) <=> kt(s"__graft_k_$k")).reduce(_ && _),
        "left_semi"),
      (_, _) => guard, Some(transform))
  }

  /** Test-only seam: invoked between a merge-on-read's sidecar
    * compute and its commit attempt, the window a concurrent commit
    * would land in. Production value is a no-op. */
  private[graft] var dvTestHook: () => Unit = () => ()

  /** Shared merge-on-read core: DV-delete the matched rows, plus (for
    * updates) append their transformed post-images in the same
    * commit. */
  private def mergeOnRead(spark: SparkSession, table: String,
      mayTouch: SegmentStats.FileStats => Boolean,
      matcher: DataFrame => DataFrame,
      guardOf: (org.apache.spark.sql.types.StructType, Seq[String]) =>
        Seq[org.apache.spark.sql.sources.Filter],
      post: Option[DataFrame => DataFrame],
      linePrune: String => Boolean = _ => true): Long = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val opName = if (post.isDefined) "update" else "delete"
    raceLoop(fs, root, table, s"DV $opName on $table") { v =>
      val lines = readFileLines(fs, root, v)
      val mapping = columnMapping(spark, table, Some(v))
      val physSchema = readPhysical(spark, table, Some(v)).schema
      val touched = lines.filter(inScope(mapping, mayTouch, linePrune))
      if (touched.isEmpty) Some(0L)
      else {
        val touchedFiles = touched
          .map(l => new Path(root, parseLine(l)._1).toString)
        val live = liveWithRowIds(spark, root, touched,
          spark.read.schema(physSchema).parquet(touchedFiles: _*))
        val relDf = touched.map(parseLine).map { case (rel, _, _) =>
          (qualifiedRelPath(fs, root, rel), rel) }
          .toDF("__graft_p", DvFileCol)
        val dvRel = s"dv/${java.util.UUID.randomUUID()}"
        val dvDir = new Path(root, dvRel)
        // matcher and transform speak the LOGICAL schema; the __graft
        // scratch columns ride through the projection untouched
        val matchedRows = matcher(mapping.applyRead(live))
        matchedRows
          .select(col("__graft_p"), col("__graft_i").as(DvIdxCol))
          .join(relDf, "__graft_p")
          .select(col(DvFileCol), col(DvIdxCol))
          .write.parquet(dvDir.toString)
        // counts from the written sidecar itself — the committed refs
        // must describe exactly the bytes on disk, not a recompute
        val counts = readDvEntries(spark, root, Seq(dvRel))
          .groupBy(DvFileCol).count().as[(String, Long)].collect().toMap
        val matched = counts.values.sum
        dvTestHook() // test seam: lets specs interleave a commit here
        def dropSidecar(): Unit =
          try fs.delete(dvDir, true)
          catch { case scala.util.control.NonFatal(_) => () }
        if (matched == 0L) { dropSidecar(); Some(0L) }
        else {
          val spec = bucketSpec(spark, table, Some(v))
          // post-images: the updated matched rows, appended as one fresh
          // segment bucket-routed like [[rewrite]]'s replacement
          val logicalNames = physSchema.fieldNames.toSeq
            .filterNot(mapping.isDropped).map(mapping.logicalOf)
          val staged = post match {
            case None => Staged(Nil, mapping, spec)
            case Some(t) =>
              val updated = t(matchedRows.drop("__graft_p", "__graft_i"))
              require(updated.columns.map(_.toLowerCase(java.util.Locale.ROOT))
                .sorted.sameElements(logicalNames
                  .map(_.toLowerCase(java.util.Locale.ROOT)).sorted),
                "updateWithDv transform must preserve the table's columns")
              // post-images are incoming rows: a violating SET refuses
              try stage(spark, fs, root, mapping.applyWrite(updated), mapping,
                Invariants.decode(readMeta(spark, table, v)),
                "merge-on-read update post-images", spec)
              catch { case e: InvariantViolation => dropSidecar(); throw e }
          }
          // the lines whose sidecar entries were computed — rebase safety
          // hinges on exactly these staying byte-identical in the latest:
          // the sidecar's (file, row-index) pairs then still describe the
          // exact bytes on disk, while a tagged line that changed (a
          // concurrent rewrite or DV of the same file) invalidates them
          val taggedLines = lines.filter(l => counts.contains(parseLine(l)._1))
          lazy val guard = // lazy: evaluated only on an actual conflict
            if (mapping.isEmpty) guardOf(physSchema, touchedFiles)
            else Nil // name-space mismatch: conservatively conflict
          val landed = transact(spark, fs, root, table, staged,
            Map("operation" -> opName, s"${opName}_mode" -> "dv") ++
              carrierMetaOf(spark, table, v), // untouched files stay narrow
            Rebase(v, lines, taggedLines, () => guard),
            Some(_.map { line =>
              val rel = parseLine(line)._1
              counts.get(rel).map(c => s"$line\tdv=$dvRel:$c").getOrElse(line)
            } ++ staged.lines))
          if (landed.isEmpty) dropSidecar()
          landed.map(_ => matched)
        }
      }
    }
  }

  /** Whether any line of version `v` carries a deletion vector. */
  private[graft] def hasDv(spark: SparkSession, table: String,
      v: Long): Boolean = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    readFileLines(fs, root, v).exists(parseLine(_)._3.nonEmpty)
  }

  /** Per-file deletion-vector row counts of a version (rel path →
    * total deleted rows, summed across stacked refs) — what lets
    * DESCRIBE DETAIL keep its metadata-only row count exact under
    * merge-on-read deletes. */
  def dvDeletedCounts(spark: SparkSession, table: String,
      version: Option[Long] = None): Map[String, Long] = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = version.orElse(latestVersion(fs, root)).getOrElse(
      throw new IllegalArgumentException(s"no committed version in $table"))
    readFileLines(fs, root, v).map(parseLine)
      .filter(_._3.nonEmpty)
      .map { case (rel, _, refs) => rel -> refs.map(_._2).sum }
      .toMap
  }

  /** Data-skipping stats of a version, keyed by ABSOLUTE file path
    * (matching [[versionFiles]] output). Files committed without stats
    * (pre-stats manifests, unreadable footers) are simply absent —
    * readers must treat absence as unprunable. */
  def fileStats(spark: SparkSession, table: String,
      version: Option[Long] = None): Map[String, SegmentStats.FileStats] = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = version.orElse(latestVersion(fs, root)).getOrElse(
      throw new IllegalArgumentException(s"no committed version in $table"))
    val key = (table, v) // caller-spelled: the map's keys embed `root`
    val hit = statsCache.get(key)
    if (hit != null) hit
    else {
      val parsed = readFileLines(fs, root, v).flatMap { line =>
        val (rel, stats, _) = parseLine(line)
        stats.flatMap(SegmentStats.parse)
          .map(new Path(root, rel).toString -> _)
      }.toMap
      if (parsed.size <= ManifestCacheLineMax) statsCache.put(key, parsed)
      parsed
    }
  }

  /** (absolute file -> (rel, bloom sidecar rel)) for every line of a
    * version that carries a bloom ref — the point-lookup pruner's
    * lookup table, one manifest read. */
  def bloomRefs(spark: SparkSession, table: String,
      version: Option[Long] = None): Map[String, (String, String)] = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = version.orElse(latestVersion(fs, root)).getOrElse(
      return Map.empty)
    readFileLines(fs, root, v).flatMap { line =>
      parseBloomRef(line).map { ref =>
        val rel = parseLine(line)._1
        new Path(root, rel).toString -> (rel, ref)
      }
    }.toMap
  }

  /** The declared invariants of a version (default latest). */
  def invariants(spark: SparkSession, table: String,
      version: Option[Long] = None): Seq[Invariants.Rule] = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = version.orElse(latestVersion(fs, root)).getOrElse(return Nil)
    Invariants.decode(readMeta(spark, table, v))
  }

  /** ALTER TABLE … ADD CONSTRAINT: declare invariants, VALIDATING the
    * existing data first (Delta's discipline — a constraint the table
    * already violates refuses, so a declared invariant always means
    * "every row, past and future, satisfies this"). Metadata-only
    * commit; every later write that adds rows is gated atomically.
    * Returns the committed version. */
  def addInvariants(spark: SparkSession, table: String,
      rules: Seq[Invariants.Rule]): Long = {
    require(rules.nonEmpty, "addInvariants needs at least one rule")
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    raceLoop(fs, root, table, s"ADD CONSTRAINT on $table") { v =>
      checkWriter(root, v, manifestHeaders(fs, root, v))
      val existing = invariants(spark, table, Some(v))
      val names = existing.map(_.name).toSet
      val fresh = rules.filterNot(r => names.contains(r.name))
      // the current data must already satisfy the new rules
      Invariants.enforce(read(spark, table, Some(v)), fresh,
        s"ADD CONSTRAINT on $table")
      // mustBase: a commit interleaving between the validation scan
      // and this metadata commit carries rows the new rules never
      // saw — refuse and re-validate against the new latest instead
      // of declaring an invariant over unchecked data
      try Some(commitMetadataOnly(fs, root, spark, table, v,
        Map("operation" -> "add_invariant") ++
          Invariants.encode(existing ++ fresh), mustBase = true))
      catch { case _: RewriteConflict => None }
    }
  }

  /** Drop a declared invariant by its `name` (e.g. `not_null(k)` or a
    * CHECK rule's given name). Metadata-only commit. */
  def dropInvariant(spark: SparkSession, table: String,
      name: String): Long = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = latestVersion(fs, root).getOrElse(
      throw new IllegalArgumentException(s"no committed version in $table"))
    val existing = invariants(spark, table, Some(v))
    val remaining = existing.filterNot(_.name.equalsIgnoreCase(name))
    require(remaining.size < existing.size,
      s"no invariant named '$name' on $table " +
        s"(declared: ${existing.map(_.name).mkString(", ")})")
    // encode() always emits the key (empty = explicitly none), which
    // OVERRIDES the inherited declaration in commitMetadataOnly
    commitMetadataOnly(fs, root, spark, table, v,
      Map("operation" -> "drop_invariant", "dropped" -> name) ++
        Invariants.encode(remaining))
  }

  /** A per-manifest-line pruner for the DML stats-scoping path:
    * lowers the DML predicate's equality/IN conjuncts against each
    * line's bloom sidecar ref — false ONLY when the sidecar PROVES no
    * candidate value is present (false-positive-only, same contract
    * as the scan-side pruning). Identity when the predicate has no
    * equality targets or the table carries no refs, so callers can
    * thread it unconditionally. */
  def bloomLinePruner(spark: SparkSession, table: String,
      filters: Seq[org.apache.spark.sql.sources.Filter])
      : String => Boolean = {
    val eq0 = BloomIndex.equalityTargets(filters)
    if (eq0.isEmpty) return _ => true
    // sidecar entries are keyed by PHYSICAL column names (harvest
    // reads the files themselves; declaration requires an empty
    // mapping, and per-commit harvests index the declared — physical —
    // names). The DML filter speaks the LOGICAL schema: translate
    // before the lookup (ADVICE r9), so after a RENAME a lookup on a
    // reused logical name resolves to its own (fresh) physical slot,
    // misses the sidecar, and soundly keeps the file — instead of
    // probing another column's blooms and skipping files that match.
    val mapping = columnMapping(spark, table)
    val eq = eq0.map { case (c, vs) =>
      mapping.physicalOf(c).toLowerCase(java.util.Locale.ROOT) -> vs }
    val root = new Path(table)
    line => parseBloomRef(line) match {
      case None => true
      case Some(ref) =>
        val rel = parseLine(line)._1
        eq.forall { case (c, vs) =>
          BloomIndex.mightContain(spark, root, ref, rel, c, vs) }
    }
  }

  /** CREATE BLOOMFILTER INDEX: declare `cols` bloom-indexed at `fpp`,
    * BACKFILL per-file blooms for every existing data file of the
    * latest version (one distributed pass), and commit the
    * declaration + per-line sidecar refs. Every later commit then
    * harvests blooms for its own fresh files. Metadata + sidecar
    * only — zero data files rewritten. Returns the committed
    * version. */
  def declareBloomIndex(spark: SparkSession, table: String,
      cols: Seq[String], fpp: Double = 0.03,
      backfillChunkFiles: Int = 1000): Long = {
    require(backfillChunkFiles > 0,
      s"backfillChunkFiles must be positive: $backfillChunkFiles")
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = latestVersion(fs, root).getOrElse(
      throw new IllegalArgumentException(s"no committed version in $table"))
    require(columnMapping(spark, table, Some(v)).isEmpty,
      s"cannot bloom-index $table while a column mapping is in play — " +
        "materialize the logical names first (overwrite/OPTIMIZE)")
    val physSchema = readPhysical(spark, table, Some(v)).schema
    cols.foreach { c =>
      val f = physSchema.fields.find(_.name.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"column $c does not exist in $table " +
            s"(columns: ${physSchema.fieldNames.mkString(", ")})"))
      require(BloomIndex.indexable(f.dataType),
        s"column $c is ${f.dataType.catalogString} — bloom indexing " +
          "supports string and integral point-lookup keys only")
    }
    val lines = readFileLines(fs, root, v)
    val missing = lines.filter(parseBloomRef(_).isEmpty)
    // backfill in CHUNKS of files, one sidecar dir per chunk: a
    // million-file table neither runs one giant harvest job nor lands
    // one giant sidecar that every later consult must swallow whole —
    // consult cost stays bounded by the chunk size
    val refByRel: Map[String, String] = missing
      .grouped(backfillChunkFiles).flatMap { chunk =>
        val rels = chunk.map(parseLine(_)._1)
        val rowsByRel = chunk.flatMap { l =>
          val (rel, st, _) = parseLine(l)
          st.flatMap(SegmentStats.parse).map(s => rel -> s.rows)
        }.toMap
        BloomIndex.harvest(spark, root, rels, rowsByRel, cols, fpp)
          .toSeq.flatMap(s => rels.map(_ -> s))
      }.toMap
    val spec = bucketSpec(spark, table, Some(v))
    commitManifest(fs, root,
      Map("operation" -> "bloom_index") + BloomIndex.encodeMeta(cols, fpp)
        ++ spec.map { case (c, n) => BucketKey -> s"$c/$n" }
        ++ carrierMetaOf(spark, table, v).view
          .filterKeys(_ != BloomIndex.MetaKey).toMap,
      base => base.toSeq.flatMap(readFileLines(fs, root, _)).map { line =>
        val rel = parseLine(line)._1
        refByRel.get(rel) match {
          case Some(s) if parseBloomRef(line).isEmpty =>
            s"$line\tbloom=$s"
          case _ => line
        }
      },
      Some(v), ContractKeys)
  }

  /** The files that can contain the MAXIMUM of `column` in the latest
    * version, decided from manifest stats: the arg-max-bounded file
    * plus every file whose bound is unknown. Files the stats PROVE
    * contribute nothing to the max (column absent = predates it, or
    * all-NULL, or empty) are excluded. None when the stats cannot
    * restrict anything — caller must fall back to a full read.
    *
    * Max-of-file-maxes is the global max, and any file achieving the
    * bounded max contains it, so a `max(col)` read of these files is
    * (usually) ONE file instead of an O(table) column scan. */
  def maxCandidateFiles(spark: SparkSession, table: String,
      column: String): Option[Seq[String]] =
    maxWalk(spark, table, column).flatMap { w =>
      val candidates = (w.best.map(_._1).toList ++ w.unknown).distinct
      // only claim a restriction when it actually restricts; a
      // candidate set as large as the table means the stats bought
      // nothing
      if (candidates.nonEmpty && candidates.size < w.files) Some(candidates)
      else None
    }

  /** `max(column)` over the latest version answered from the manifest
    * stats alone, for an integer-ordered (`l`) column — catalyst's
    * micros for TIMESTAMP and TIMESTAMP_NTZ. `Some(None)` when the
    * stats prove the column NULL in every live row, None when any live
    * file's bound is unknown or of another ordering class (the caller
    * reads instead). The stats are the committed footers' own bounds,
    * so the answer is exactly what a read of the persisted rows gives.
    * Opens the manifest at most; starts no Spark job. */
  private[graft] def statsMax(spark: SparkSession, table: String,
      column: String): Option[Option[Long]] =
    maxWalk(spark, table, column).collect {
      case w if w.unknown.isEmpty && w.best.forall(_._2 == 'l') =>
        w.best.map(_._3.toLong)
    }

  /** One arg-max walk over the latest version's stats for `column`:
    * the file with the largest bounded max (file, ordering class, max),
    * the files whose bound is unknown, and the live file count. Files
    * the stats prove contribute nothing are in neither list. */
  private final case class MaxWalk(best: Option[(String, Char, String)],
      unknown: List[String], files: Int)

  /** The walk behind [[maxCandidateFiles]] and [[statsMax]], over one
    * resolved version. None when a deletion vector rides the version:
    * it may have removed exactly the row achieving a file's recorded
    * max, so the stats are then upper bounds, not attained values
    * (OPTIMIZE folding restores the walk). */
  private def maxWalk(spark: SparkSession, table: String,
      column: String): Option[MaxWalk] = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = latestVersion(fs, root).getOrElse(
      throw new IllegalArgumentException(s"no committed version in $table"))
    if (readFileLines(fs, root, v).exists(parseLine(_)._3.nonEmpty))
      return None
    val all = versionFiles(spark, table, Some(v))
    val stats = fileStats(spark, table, Some(v))
    // stats are keyed by physical column name — a renamed watermark
    // column must still find its bounds
    val lower = columnMapping(spark, table, Some(v)).physicalOf(column)
      .toLowerCase(java.util.Locale.ROOT)
    var unknown = List.empty[String]
    var best: Option[(String, Char, String)] = None
    def better(tag: Char, m: String): Boolean = best.forall {
      case (_, bestTag, bestMax) => tag == bestTag && (tag match {
        case 'l' => m.toLong > bestMax.toLong
        case _ => org.apache.spark.unsafe.types.UTF8String.fromString(m)
          .compareTo(org.apache.spark.unsafe.types.UTF8String
            .fromString(bestMax)) > 0
      })
    }
    all.foreach { f =>
      stats.get(f) match {
        case None => unknown ::= f // stats-less file: must be read
        case Some(st) =>
          if (st.rows == 0L) () // empty: contributes nothing
          else st.cols.get(lower) match {
            case None => () // predates the column: all-NULL
            case Some(c) =>
              if (c.nulls.contains(st.rows)) () // all-NULL
              else (c.tag, c.max) match {
                case (t @ ('l' | 's' | 'b'), Some(m)) =>
                  if (better(t, m)) best = Some((f, t, m))
                  else if (best.exists(_._2 != t)) unknown ::= f // mixed classes
                case _ => unknown ::= f // unbounded or unordered class
              }
          }
      }
    }
    Some(MaxWalk(best, unknown, all.size))
  }

  /** The `#k=v` metadata header of a committed version (empty map for
    * manifests written without meta — fully backward compatible).
    * System headers (commit_ts_ms, n_files, the delta marker) are
    * excluded: they belong to the log layer, not user metadata. */
  def readMeta(spark: SparkSession, table: String, v: Long): Map[String, String] = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    readMetaRaw(fs, root, v)
  }

  /** The last batch writer `appId` committed to `table` — its
    * [[TxnPrefix]] ledger entry in the latest version (resolved through
    * the `_latest` pointer, never a LIST), one cached header read.
    * None when the table has no version or `appId` never committed. */
  def txnVersion(spark: SparkSession, table: String,
      appId: String): Option[Long] = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    latestVersion(fs, root).flatMap(v =>
      readMetaRaw(fs, root, v).get(txnKey(appId))).flatMap(_.toLongOption)
  }

  /** Pin the table's LATEST version, then scan manifest meta
    * newest-first from it for the first commit where `select` yields a
    * value — the shared "my descriptor rides the newest commit that
    * carries it; FOREIGN commits (OPTIMIZE, VACUUM checkpoint
    * rewrites, other writers' appends) carry none and are skipped
    * over" read of the persisted-index descriptors (LSH plane family,
    * IVF codebook). Returns
    * (the pinned latest version — the snapshot a reader must scan, NOT
    * necessarily the version that carried the value — and the value);
    * None when the table has no versions or none carries it. */
  def latestMeta[A](spark: SparkSession, table: String)(
      select: Map[String, String] => Option[A]): Option[(Long, A)] = {
    val vs = versions(spark, table).sorted
    vs.lastOption.flatMap { latest =>
      vs.reverseIterator
        .flatMap(v => select(readMeta(spark, table, v)))
        .nextOption().map((latest, _))
    }
  }

  /** [[readMeta]] from an already-resolved (fs, root) — the form the
    * commit loop's contract-key re-merge uses under the lock (the
    * manifest cache makes it one map lookup on the hot path). */
  private def readMetaRaw(fs: FileSystem, root: Path, v: Long)
      : Map[String, String] =
    metaOf(manifestHeaders(fs, root, v))

  /** The user meta of a manifest's `#k=v` header lines. */
  private def metaOf(headers: Seq[String]): Map[String, String] =
    headers.flatMap { l =>
      l.drop(1).split("=", 2) match {
        case Array(k, v2) if !SystemKeys.contains(k) => Some(k -> v2)
        case _ => None
      }
    }.toMap

  /** Count of PHYSICAL manifest-file opens — test hook proving the
    * cache bounds read-planning IO (ManifestLogSpec). */
  private[graft] val manifestReads =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Bounded LRU cache of manifest content keyed by (qualified root,
    * version). Manifests are IMMUTABLE once committed; the two
    * in-process mutations — VACUUM's deletes and the checkpoint
    * materialization — invalidate their keys below. On an object
    * store every manifest open is a round trip: a delta-chain
    * resolution walks up to [[CheckpointInterval]] manifests and
    * DESCRIBE HISTORY touches every version, so repeated planning
    * over the same versions must not re-pay the log. An
    * OUT-OF-PROCESS vacuum is invisible to this cache; a stale entry
    * can only name files that no longer exist, which fails at scan
    * time — the same TOCTOU window a cache-less read already has.
    * Snapshot-scale entries (beyond [[ManifestCacheLineMax]] lines)
    * are served but not retained, bounding memory. */
  private val ManifestCacheMax = 1024
  // var for tests only: ManifestLogSpec lowers it to simulate a
  // beyond-cache-bound table (where the header-only writer gate
  // matters) without committing 200k files. volatile so readers on
  // other threads (AQE planning) always see the current bound; the
  // global-override window is safe because forked test suites run
  // sequentially (Test/fork=true, testForkedParallel defaults false)
  // and the spec restores under try/finally.
  @volatile private[graft] var ManifestCacheLineMax = 200000

  /** One access-ordered bounded LRU shape for every log-layer cache —
    * the per-cache BOUNDS (entry count here, entry SIZE at each put
    * site) stay visible at the declarations below. */
  private def boundedLru[K, V](max: Int): java.util.Map[K, V] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[K, V](128, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[K, V]): Boolean = size() > max
      })

  private val manifestCache =
    boundedLru[(String, Long), List[String]](ManifestCacheMax)

  private def cacheKey(fs: FileSystem, root: Path, v: Long): (String, Long) =
    (fs.makeQualified(root).toUri.toString, v)

  /** Header (`#k=v`) prefixes of POINTER manifests, cached separately:
    * the expanded-form cache must never hold a header-only entry under
    * the same key (a body consumer would see an empty file list). */
  private val headerCache =
    boundedLru[(String, Long), List[String]](ManifestCacheMax)

  /** Parsed per-file stats per (CALLER-SPELLED table root, version):
    * the catalog's plan path consults these several times per query
    * (filter pushdown, the aggregate-pushdown probe AND answer,
    * runtime row/size estimates, runtime filtering) — the O(files)
    * line parse must be paid once, not five times per query. Keyed by
    * the caller's own root spelling because the cached map's KEYS are
    * absolute paths built from it — serving one spelling's map to
    * another would silently miss every lookup and disable pruning.
    * Entries over [[ManifestCacheLineMax]] files are served uncached
    * (the manifestCache discipline), bounding driver memory. */
  private val statsCache =
    boundedLru[(String, Long), Map[String, SegmentStats.FileStats]](64)

  /** Physical union schema per (table, version) for read planning —
    * a committed version's schema is immutable, so query compilation
    * must not re-run footer inference per query. */
  private val readSchemaCache =
    boundedLru[(String, Long), StructType](512)

  private def invalidateManifest(fs: FileSystem, root: Path, v: Long): Unit = {
    manifestCache.remove(cacheKey(fs, root, v))
    headerCache.remove(cacheKey(fs, root, v))
    readSchemaCache.remove(cacheKey(fs, root, v))
    // spelling-keyed — cheap full clear on the rare mutation paths
    // (vacuum, checkpoint materialization) rather than a key scan
    statsCache.clear()
  }

  /** Test-only: drop every cached manifest. Specs that hand-edit
    * manifest FILES out-of-band (stat doctoring, commit-time aging)
    * must call this — mutating a committed manifest in place is
    * outside the format's contract, exactly as editing a committed
    * parquet footer under any engine's snapshot cache would be. */
  private[graft] def clearManifestCache(): Unit = {
    manifestCache.clear()
    headerCache.clear()
    statsCache.clear()
    readSchemaCache.clear()
  }

  /** One physical open of version `v`'s raw manifest file (counted by
    * [[manifestReads]]) — shared by the expanded and header-only read
    * paths so read accounting and encoding can never drift. */
  private def readRawManifest(fs: FileSystem, root: Path,
      v: Long): List[String] = {
    manifestReads.incrementAndGet()
    val in = fs.open(new Path(root, s"$LogDir/$v.manifest"))
    try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().filter(_.nonEmpty).toList
    finally in.close()
  }

  private def manifestLines(fs: FileSystem, root: Path, v: Long): Seq[String] = {
    val key = cacheKey(fs, root, v)
    val hit = manifestCache.get(key)
    if (hit != null) hit
    else {
      val raw = readRawManifest(fs, root, v)
      // pointer checkpoint: splice the gzip'd body back in so every
      // consumer sees the EXPANDED (headers ++ file lines) form. The
      // protocol gate runs FIRST — a future pointer grammar must
      // refuse here, not be half-read.
      val lines = raw.collectFirst {
        case l if l.startsWith(s"#$CkptKey=") =>
          l.stripPrefix(s"#$CkptKey=")
      } match {
        case Some(name) =>
          checkReader(root, v, raw)
          raw ++ readGzLines(fs, new Path(root, s"$LogDir/$name"))
        case None => raw
      }
      if (lines.sizeIs <= ManifestCacheLineMax) manifestCache.put(key, lines)
      lines
    }
  }

  /** HEADER (`#k=v`) prefix of version `v`'s manifest, WITHOUT
    * splicing a pointer checkpoint's gzip body. Header-only consumers
    * — `readMetaRaw` (the contract-key merge), `commitTimeMs`,
    * DESCRIBE HISTORY, sidecar accounting — must not download and
    * gunzip an O(table) checkpoint body on a million-file table to
    * read a handful of header lines; this is the "header reads stay
    * one TINY file" half of the [[CkptKey]] contract. A non-pointer
    * manifest's raw bytes ARE its expanded form, so the one read this
    * takes seeds the main cache — total physical opens never exceed
    * the pre-header-path count. */
  private def manifestHeaders(fs: FileSystem, root: Path, v: Long)
      : List[String] = {
    val key = cacheKey(fs, root, v)
    val full = manifestCache.get(key)
    if (full != null) return full.takeWhile(_.startsWith("#"))
    val hit = headerCache.get(key)
    if (hit != null) return hit
    val raw = readRawManifest(fs, root, v)
    val headers = raw.takeWhile(_.startsWith("#"))
    if (headers.exists(_.startsWith(s"#$CkptKey="))) {
      // same refuse-don't-half-read gate as the body path: a future
      // pointer grammar (say multi-sidecar #ckpt) must not have its
      // headers half-understood by readMeta/history/vacuum accounting
      checkReader(root, v, headers)
      headerCache.put(key, headers) // pointer: body lives in the sidecar
    } else if (raw.sizeIs <= ManifestCacheLineMax)
      manifestCache.put(key, raw) // raw IS the expanded form
    headers
  }

  /** Atomic (tmp + rename) gzip write of checkpoint body lines. */
  private def writeGzLines(fs: FileSystem, root: Path, name: String,
      lines: Seq[String]): Unit = {
    val tmp = new Path(root,
      s"$LogDir/.tmp-${java.util.UUID.randomUUID().toString}")
    val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      new java.util.zip.GZIPOutputStream(fs.create(tmp, true), 1 << 16),
      java.nio.charset.StandardCharsets.UTF_8), 1 << 16)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
    require(fs.rename(tmp, new Path(root, s"$LogDir/$name")),
      s"could not land checkpoint sidecar $name under $root")
  }

  /** Count of checkpoint-sidecar (gz body) downloads — test hook
    * proving header-only consumers never pay an O(table) body fetch
    * (ManifestLogSpec). */
  private[graft] val sidecarReads =
    new java.util.concurrent.atomic.AtomicLong(0L)

  private def readGzLines(fs: FileSystem, p: Path): List[String] = {
    sidecarReads.incrementAndGet()
    val in = new java.util.zip.GZIPInputStream(fs.open(p), 1 << 16)
    try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().filter(_.nonEmpty).toList
    finally in.close()
  }

  /** The checkpoint sidecar name version `v` points at, if any.
    * STRICT on purpose: vacuum's keep-list uses this to PROTECT live
    * sidecars from the orphan sweep — a swallowed transient read
    * failure there would turn "protect" into "delete" for any sidecar
    * older than the grace window. Lenient callers (the drop side,
    * where a miss just leaves an orphan for a later sweep) wrap it. */
  private def ckptNameOf(fs: FileSystem, root: Path, v: Long): Option[String] =
    manifestHeaders(fs, root, v).collectFirst {
      case l if l.startsWith(s"#$CkptKey=") => l.stripPrefix(s"#$CkptKey=")
    }

  private def listParquet(fs: FileSystem, dir: Path): Seq[String] =
    fs.listStatus(dir).toSeq.flatMap { st =>
      // one level of bucket dirs (gb-<id>) inside a segment; anything
      // deeper is not a layout this format writes
      if (st.isDirectory && st.getPath.getName.startsWith("gb-"))
        fs.listStatus(st.getPath).toSeq.map(_.getPath)
      else Seq(st.getPath)
    }.filter(_.getName.endsWith(".parquet")).map(_.toString)

  /** Table-relative form of a listed data-file path. Both sides are
    * qualified first: `listStatus` hands back fully qualified absolute
    * paths, so a RELATIVE table root must be resolved against the
    * filesystem working directory before the prefix strip — without it
    * every commit on a relative table path fails the under-root
    * check. */
  private def relativize(fs: FileSystem, root: Path, abs: String): String = {
    val r = fs.makeQualified(root).toUri.getPath
    val a = fs.makeQualified(new Path(abs)).toUri.getPath
    require(a.startsWith(r), s"$a not under $r")
    a.stripPrefix(r).stripPrefix("/")
  }
}
