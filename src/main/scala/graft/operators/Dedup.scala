package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines ([EXT] per the
  * north star). Four families — exact, MinHash+LSH, SimHash, n-gram
  * Jaccard — all expressed as shuffle-bounded DataFrame plans:
  *
  *  - exact: one hash-partitioned groupBy on the dedup key.
  *  - MinHash/LSH: per-row signature (narrow), explode to (band,
  *    bucket) — b rows per doc — then one groupBy per band bucket.
  *    Candidate verification only touches rows sharing a bucket, so
  *    the O(n²) pair space is never materialized. This is the
  *    standard shingle→minhash→band→bucket-join pipeline (Broder;
  *    MMDS ch.3) and scales linearly in corpus size at fixed b/r.
  *  - SimHash: 64-bit signature via one explode + re-aggregate.
  *  - n-gram Jaccard: exact verify on LSH candidates via
  *    array_intersect/array_union on shingle sets.
  */
object Dedup extends org.apache.spark.internal.Logging {

  // ---------- exact ----------

  /** Exact dedup: keep the lowest-id row per identical value of `key`.
    * Window over the key — a single hash shuffle; at 100 TB prefer the
    * groupBy(min) + semi-join form, identical semantics. */
  def exactDedup(df: DataFrame, key: Column, id: Column): DataFrame = {
    val w = Window.partitionBy(key).orderBy(id.asc)
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
  }

  // ---------- MinHash + LSH ----------

  /** Per-row MinHash signature of `numHashes` mins over word-shingle
    * hashes. All narrow ops (no shuffle).
    *
    * Cost shape matters: shingling is materialized ONCE per row in a
    * child projection (a naive `array_min(transform(shingles(...)))`
    * per hash function re-evaluates the whole tokenize+shingle tree
    * numHashes times — measured 30x slower at sf0.1), shingles are
    * string-hashed once, and all numHashes minima come from the native
    * MinHashes expression (one codegen'd pass; see
    * graft.functions.MinHashes for why the family must be
    * non-monotone). */
  def withMinhashSignature(df: DataFrame, text: Column, shingleSize: Int,
      numHashes: Int): DataFrame =
    df.withColumn("minhash_sig", graft.functions.ShingleMinHashes(
      TextFunctions.tokens(lower(text)), shingleSize, numHashes))

  /** The staged (pre-fusion) signature pipeline: materialized distinct
    * shingles → `transform(xxhash64)` → native [[graft.functions.MinHashes]].
    * Kept as the semantic reference for ShingleMinHashSpec — the two
    * CodegenFallback `transform`s make it ~2-3× slower per row than the
    * fused expression `withMinhashSignature` now uses. */
  def withMinhashSignatureStaged(df: DataFrame, text: Column,
      shingleSize: Int, numHashes: Int): DataFrame = {
    df.withColumn("__toks", TextFunctions.tokens(lower(text)))
      .withColumn("__sh",
        TextFunctions.shinglesFromTokens(col("__toks"), shingleSize))
      .withColumn("__h", transform(col("__sh"), s => xxhash64(s)))
      .withColumn("minhash_sig",
        graft.functions.MinHashes(col("__h"), numHashes))
      .drop("__toks", "__sh", "__h")
  }

  /** The banding geometry every LSH entry point must satisfy: bands
    * must tile the signature exactly. bands > numHashes would make
    * every band slice EMPTY (one universal bucket — the whole corpus
    * "dominated" by the global minimum id and deleted); a
    * non-dividing bands silently ignores the trailing hashes. */
  private def requireBands(numHashes: Int, bands: Int): Unit =
    require(bands >= 1 && numHashes >= bands && numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes) with at " +
        "least one hash per band — empty band slices would bucket " +
        "the whole corpus together")

  /** Explode a signature into (band_id, band_hash) rows: `bands` bands
    * of `rowsPerBand` hashes each, hashed per band.
    *
    * Docs with an EMPTY shingle set (fewer tokens than the shingle
    * size) produce NO band rows: their signature is the all-MaxValue
    * sentinel, so banding them would put every short doc in one
    * universal bucket and the keep-first rule would mass-delete
    * unrelated one-liners. No shingles = no evidence under the
    * shingle measure = unique (exact dedup still catches identical
    * short docs). */
  def withBands(df: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    require(bands >= 1 && rowsPerBand >= 1,
      s"need at least one band and one hash per band, " +
        s"got bands=$bands rowsPerBand=$rowsPerBand")
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band_id"),
        xxhash64(slice(col("minhash_sig"), b * rowsPerBand + 1, rowsPerBand)
          .cast("array<string>").cast("string")).as("band_hash"))
    }
    df.where(element_at(col("minhash_sig"), 1) =!= lit(Long.MaxValue))
      .withColumn("band", explode(array(bandCols: _*)))
      .withColumn("band_id", col("band.band_id"))
      .withColumn("band_hash", col("band.band_hash"))
      .drop("band")
  }

  /** Candidate duplicate pairs: ids sharing any (band_id, band_hash)
    * bucket. Returns (id_a, id_b) with id_a < id_b, distinct.
    *
    * Buckets larger than `maxBucketSize` are dropped (standard LSH
    * guard): one degenerate bucket — e.g. a boilerplate shingle shared
    * corpus-wide — would otherwise contribute O(bucket^2) pairs and
    * dominate the run at scale. Dropped buckets are near-useless for
    * dedup anyway (they assert similarity to thousands of docs). */
  def lshCandidatePairs(banded: DataFrame, id: String,
      maxBucketSize: Int = 10000): DataFrame = {
    val sized = banded
      .withColumn("__bn",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("band_id"), col("band_hash"))))
      .where(col("__bn") <= maxBucketSize)
    val l = sized.select(col("band_id"), col("band_hash"), col(id).as("id_a"))
    val r = sized.select(col("band_id"), col("band_hash"), col(id).as("id_b"))
    l.join(r, Seq("band_id", "band_hash"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Ids DOMINATED under the keep-first rule: docs sharing any LSH
    * bucket with a lower-id doc. One groupBy over buckets computes the
    * per-bucket min id; a doc is dominated iff some bucket it falls in
    * has a smaller min. Shared by [[minhashDedup]] (drop these) and
    * [[dedupChunkAgainstIndex]] (flag these) so the rule's semantics
    * can never silently diverge between the two. */
  private def dominatedIds(banded: DataFrame, id: String): DataFrame =
    dominationMarked(banded, id)
      .groupBy(col(id))
      .agg(max(when(col("__bucket_min") < col(id), 1).otherwise(0))
        .as("__dominated"))
      .where(col("__dominated") === 1)
      .select(col(id))

  /** The banded frame with each row's bucket minimum attached — ONE
    * hash shuffle on the bucket key (optimization r20, guide §2.4):
    * the per-bucket min as a WINDOW over (band_id, band_hash) replaces
    * the former groupBy(bucket) + join-back, which shuffled the banded
    * frame twice (aggregate + join probe) to attach the same value.
    * Same semantics: min over exactly the bucket's rows, nulls
    * impossible (ids are non-null by construction). */
  private def dominationMarked(banded: DataFrame, id: String): DataFrame =
    banded.withColumn("__bucket_min",
      min(col(id)).over(Window.partitionBy(col("band_id"),
        col("band_hash"))))

  /** Greedy keep-first MinHash dedup: drop any doc that shares an LSH
    * bucket with a lower-id doc. The banded frame feeds two consumers
    * inside [[dominatedIds]] (bucket-min aggregate + domination
    * join); the eager localCheckpoint materializes the dominant-cost
    * signature pass ONCE (the dedupChunkAgainstIndex discipline). */
  def minhashDedup(df: DataFrame, text: Column, id: String,
      shingleSize: Int = 3, numHashes: Int = 16, bands: Int = 4): DataFrame = {
    requireBands(numHashes, bands)
    val banded = withBands(
      withMinhashSignature(df, text, shingleSize, numHashes),
      bands, numHashes / bands)
      .select(col("band_id"), col("band_hash"), col(id))
      .localCheckpoint(true)
    df.join(dominatedIds(banded, id), Seq(id), "left_anti")
  }

  // ---------- SimHash ----------

  /** 64-bit SimHash per row: explode token hashes, sum ±1 per bit
    * position, sign-pack. One shuffle keyed by `id`. */
  def withSimhash(df: DataFrame, text: Column, id: String): DataFrame = {
    val toks = TextFunctions.tokens(lower(text))
    val hashed = df.select(col(id), explode(toks).as("tok"))
      .select(col(id), xxhash64(col("tok")).as("h"))
    val bitSums = (0 until 64).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1)
        .otherwise(-1)).as(s"b$j")
    }
    val packed = (0 until 64).map { j =>
      when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    val sigs = hashed.groupBy(col(id)).agg(bitSums.head, bitSums.tail: _*)
      .select(col(id), packed.as("simhash"))
    df.join(sigs, Seq(id), "left")
  }

  /** Hamming distance between two packed 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  // ---------- n-gram Jaccard ----------

  /** Exact Jaccard over shingle sets for LSH candidate pairs; returns
    * (id_a, id_b, jaccard) for pairs >= threshold. Only candidate pairs
    * are verified — the corpus-wide cross join never exists. */
  def jaccardVerify(df: DataFrame, text: Column, id: String,
      candidates: DataFrame, shingleSize: Int, threshold: Double): DataFrame = {
    val sh = df
      .withColumn("__toks", TextFunctions.tokens(lower(text)))
      .select(col(id).as("__jid"),
        TextFunctions.shinglesFromTokens(col("__toks"), shingleSize)
          .as("__sh"))
    candidates
      .join(sh.withColumnRenamed("__jid", "id_a").withColumnRenamed("__sh", "sh_a"), "id_a")
      .join(sh.withColumnRenamed("__jid", "id_b").withColumnRenamed("__sh", "sh_b"), "id_b")
      // a pair where BOTH shingle sets are empty has no evidence under
      // the shingle measure: dropped BEFORE the division (0/0 would be
      // a DIVIDE_BY_ZERO abort under ANSI, a silent NULL otherwise)
      .withColumn("__union", size(array_union(col("sh_a"), col("sh_b"))))
      .where(col("__union") > 0)
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          col("__union"))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  // ---------- incremental (chunk-vs-corpus) ----------

  /** Bucket-count sizing for the band index. The count is a LAYOUT
    * DECISION inherited by every later append, so it must scale with
    * the corpus, not sit at a constant: 16 buckets at 100 TB is a
    * 16-way parallelism ceiling on the co-located probe path and
    * multi-TB single buckets. Rule: one bucket per ~[[TargetBucketBytes]]
    * of estimated index data, rounded UP to a power of two (stable
    * doubling steps; a future bucket-count halving/merging keeps
    * alignment), clamped to [[[MinIndexBuckets]], [[MaxIndexBuckets]]].
    * 64 MB buckets keep a probe task's index side comfortably
    * in-memory; 65536 caps the file count (and sits under
    * commitBucketed's 100k sanity bound) — a 12 TB index (≈100 TB
    * corpus × 4 bands × ~32 B/row) lands at 65536 × ~200 MB. */
  private[graft] val MinIndexBuckets = 16
  private[graft] val MaxIndexBuckets = 65536
  private[graft] val TargetBucketBytes: Long = 64L << 20
  /** Parquet-encoded estimate per (band_id, band_hash, id) row. */
  private[graft] val BytesPerIndexRow = 32L

  private[graft] def bucketsForIndexBytes(bytes: Long): Int = {
    val need = math.max(1L,
      (math.max(0L, bytes) + TargetBucketBytes - 1) / TargetBucketBytes)
    val hi = java.lang.Long.highestOneBit(need)
    val pow = if (hi == need) need else hi << 1
    math.min(MaxIndexBuckets.toLong,
      math.max(MinIndexBuckets.toLong, pow)).toInt
  }

  /** What a [[writeBandIndex]] commit actually wrote, plus the count
    * the index's POST-COMMIT manifest bytes would choose today
    * ([[bucketsForIndexBytes]] over `Versioned.tableBytes` — zero
    * data scans). `rebucketRecommended` fires when the two diverge
    * ≥4× in either direction: the signal that an appended index has
    * outgrown (or a shrunken one over-provisions) its inherited
    * layout and [[rebucketBandIndex]] is due — otherwise the
    * migration path stays tribal knowledge. Also logged at WARN so
    * unattended chunk writers leave a trail. `version` is the manifest
    * version this write committed — callers coordinating with other
    * writers (the streaming near-dedup ledger) key off it. */
  case class BandIndexWrite(buckets: Int, recommendedBuckets: Int,
      version: Long) {
    def rebucketRecommended: Boolean =
      recommendedBuckets >= 4 * buckets || buckets >= 4 * recommendedBuckets
  }

  /** Exact source row count available WITHOUT a scan job: the
    * optimized plan is projections over one leaf that reports an
    * exact rowCount in its stats. Only leaves whose exactness is OURS
    * to guarantee qualify — a graft DSv2 snapshot scan (manifest
    * `rows=` stats, the vt6 metadata-only-aggregate machinery) or an
    * in-memory LocalRelation (row count exact by construction). Any
    * other relation returns None even when it CARRIES a rowCount:
    * e.g. a catalog table's ANALYZE estimate can be stale, and sizing
    * a bucket layout from it would silently violate this method's
    * exactness contract (r14 ADVICE). A Filter/Join/agg anywhere →
    * None, since the leaf count would over-state. */
  private[operators] def statsRowCount(df: DataFrame): Option[Long] = {
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    def leafOf(p: LogicalPlan): Option[LeafNode] = p match {
      case Project(_, c) => leafOf(c)
      case SubqueryAlias(_, c) => leafOf(c)
      case l: LeafNode => Some(l)
      case _ => None
    }
    leafOf(df.queryExecution.optimizedPlan).flatMap {
      case r: DataSourceV2ScanRelation
          if r.scan.getClass.getName.startsWith("graft.sources.") =>
        r.stats.rowCount.map(_.toLong)
      case l: LocalRelation => l.stats.rowCount.map(_.toLong)
      case _ => None
    }
  }

  /** The (band_id, band_hash, id) band frame of a corpus/chunk — the
    * shared currency of the index paths: [[writeBandIndex]] commits
    * it, [[dedupChunkAgainstIndex]] probes with it, and a caller doing
    * BOTH on the same rows (the streaming near-dedup batch) computes
    * it ONCE (checkpointed) and hands it to [[commitBands]]. The
    * signature pass (tokenize + shingle + minhash) is the dominant
    * PER-ROW compute of the index paths — at rehearsal batch sizes
    * (~500 docs) fixed per-batch job overhead masks the saving
    * (measured ~1% of st17), but per-row cost is what scales with a
    * production micro-batch, so it is paid once by construction. */
  private[graft] def bandFrame(df: DataFrame, text: Column, id: String,
      shingleSize: Int, numHashes: Int, bands: Int): DataFrame = {
    requireBands(numHashes, bands)
    withBands(withMinhashSignature(df, text, shingleSize, numHashes),
      bands, numHashes / bands)
      .select(col("band_id"), col("band_hash"), col(id))
  }

  /** Commit an already-banded frame under [[writeBandIndex]]'s layout
    * rules (explicit > declared-on-append > auto from `sizingRows`). */
  private[graft] def commitBands(banded: DataFrame, path: String,
      bands: Int, buckets: Int, mode: String, meta: Map[String, String],
      sizingRows: => Long): BandIndexWrite = {
    require(buckets >= 0, s"buckets must be >= 0 (0 = auto): $buckets")
    val spark = banded.sparkSession
    val declared =
      if (mode == "append") Versioned.bucketSpec(spark, path).map(_._2)
      else None
    val n =
      if (buckets > 0) buckets
      else declared.getOrElse(
        bucketsForIndexBytes(sizingRows * bands * BytesPerIndexRow))
    val committedV = Versioned.commitBucketed(banded, path, "band_hash",
      n, mode, meta)
    // size the recommendation from the version THIS call committed,
    // not the table's latest — a concurrent append/rebucket landing
    // in the window would otherwise make the WARN and the returned
    // BandIndexWrite describe a different snapshot (r14 ADVICE)
    val rec = Versioned.tableBytes(spark, path, Some(committedV))
      .map(bucketsForIndexBytes).getOrElse(n)
    val res = BandIndexWrite(n, rec, committedV)
    if (res.rebucketRecommended)
      logWarning(
        s"band index $path: declared layout $n buckets vs " +
          s"$rec recommended for its current bytes — " +
          "rebucketBandIndex(spark, path) migration recommended")
    res
  }

  /** Persist the corpus's MinHash band index: (band_id, band_hash, id)
    * as a snapshot table BUCKETED by band_hash. This is the production
    * shape of dedup at 100 TB — the corpus is indexed ONCE; each
    * arriving chunk probes the index instead of re-signaturing the
    * corpus. The bucketing is the scale story: the index's catalog
    * scan reports KeyGroupedPartitioning over bucket(n, band_hash), so
    * the probe join shuffles ONLY the chunk (into the index's layout,
    * via the V2 bucket function) and the index side — whose 100-TB
    * form is itself huge — is read co-located with ZERO Exchange
    * (plan-proved in BandIndexSpec). `mode="append"` adds a new
    * chunk's bands under the same declared layout.
    *
    * `buckets = 0` (the default) is AUTO: on a fresh index the count
    * comes from [[bucketsForIndexBytes]] over `rows × bands ×
    * [[BytesPerIndexRow]]`, where `rows` is the leaf's exact stats
    * rowCount when the corpus is a bare scan of a snapshot table
    * ([[statsRowCount]] — ZERO jobs for the sizing decision) and one
    * count job otherwise (metadata-cheap for parquet; docs too short
    * to band only over-estimate, which over-provisions buckets
    * harmlessly; the sizing count is LAZY — never run when an explicit
    * or declared count applies); on append it INHERITS the declared
    * layout, so chunk writers never need to know the count. An index
    * that has outgrown its layout is migrated with
    * [[rebucketBandIndex]]; the returned [[BandIndexWrite]] says when
    * that is due. */
  def writeBandIndex(df: DataFrame, text: Column, id: String, path: String,
      shingleSize: Int = 3, numHashes: Int = 16, bands: Int = 4,
      buckets: Int = 0, mode: String = "overwrite",
      meta: Map[String, String] = Map.empty): BandIndexWrite =
    commitBands(bandFrame(df, text, id, shingleSize, numHashes, bands),
      path, bands, buckets, mode, meta,
      sizingRows = statsRowCount(df).getOrElse(df.count()))

  /** Rewrite the band index under a new bucket count — the migration
    * path for an index that outgrew its initial layout (append inherits
    * the declared count forever, so growth can only be fixed by a
    * rewrite). `newBuckets = 0` sizes from the index's ACTUAL bytes
    * ([[Versioned.tableBytes]], manifest `bytes=` stats — zero data
    * scans for the decision). One shuffle of the index rows into the
    * new layout; old segments stay behind for time travel (VACUUM
    * reclaims them). Also migrates a LEGACY plain-parquet index dir to
    * the bucketed snapshot form (its loose files are left in place —
    * outside the manifest, so invisible to readers, but not
    * VACUUM-tracked; delete them once the new version is verified).
    * Returns the bucket count written. */
  def rebucketBandIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, newBuckets: Int = 0): Int = {
    require(newBuckets >= 0, s"newBuckets must be >= 0 (0 = auto): $newBuckets")
    val p = new org.apache.hadoop.fs.Path(indexPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(p, Versioned.LogDir))) {
      // legacy plain-parquet dir: no commit log, so no CAS to race —
      // the migration is inherently single-writer here (documented);
      // the committed RESULT is a snapshot table, so every migration
      // after this one takes the guarded path below
      val n =
        if (newBuckets > 0) newBuckets
        else bucketsForIndexBytes(
          if (!fs.exists(p)) 0L
          else fs.listStatus(p).filterNot(_.isDirectory).map(_.getLen).sum)
      Versioned.commitBucketed(bandIndexFrame(spark, indexPath),
        indexPath, "band_hash", n, "overwrite")
      return n
    }
    // Snapshot index: read-rewrite-overwrite is only correct if the
    // base is STILL the version we read when the commit lands — a
    // chunk append interleaving would otherwise be silently dropped
    // from the rewritten index (its docs then re-admitted as "new"
    // by every later probe). commitIf is the CAS; on conflict re-read
    // the new latest (which contains the interleaved append) and
    // retry, like OPTIMIZE/rewrite.
    var attempts = 0
    while (true) {
      attempts += 1
      if (attempts > 5) throw new IllegalStateException(
        s"rebucket of $indexPath kept racing appends (${attempts - 1} " +
          "attempts) — retry when the chunk-writer storm subsides")
      val vs = Versioned.versions(spark, indexPath)
      require(vs.nonEmpty, s"no committed version in $indexPath")
      val base = vs.max
      val n =
        if (newBuckets > 0) newBuckets
        else bucketsForIndexBytes(
          Versioned.tableBytes(spark, indexPath, Some(base)).getOrElse(0L))
      val pinned = Versioned.read(spark, indexPath, Some(base))
      if (Versioned.commitIf(pinned, indexPath, "overwrite", Map.empty,
          base, Some(("band_hash", n))).isDefined)
        return n
    }
    sys.error("unreachable: the CAS loop returns or throws")
  }

  /** The band index as a catalog-scanned DataFrame: the DSv2 scan is
    * what reports the bucketed layout (KeyGroupedPartitioning) to the
    * planner — a plain path read would be correct but shuffle the
    * index side of every probe. Pre-bucketing (plain parquet) index
    * dirs from older builds still read through the legacy path. */
  private def bandIndexFrame(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): DataFrame = {
    if (SnapshotScan.isSnapshot(spark, indexPath))
      SnapshotScan.frame(spark, indexPath)
    else
      // an index built from a corpus with NO banded docs (every doc
      // shorter than the shingle size) on the LEGACY plain-parquet
      // layout is a schema-less empty dir — probe against nothing
      // instead of failing the chunk (the bucketed form commits an
      // empty version with schema, so only the legacy path needs this)
      try spark.read.parquet(indexPath)
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getCondition == "UNABLE_TO_INFER_SCHEMA" =>
          import org.apache.spark.sql.types._
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            StructType(Seq(StructField("band_id", IntegerType),
              StructField("band_hash", LongType))))
      }
  }

  /** Incremental near-dedup: flag each chunk doc that (a) collides with
    * the persisted corpus index, or (b) collides with an earlier-id doc
    * in the SAME chunk (keep-first, minhashDedup's rule). Cost tracks
    * the CHUNK: the chunk is signatured and shuffled; the corpus
    * contributes only the index join — its documents are never read.
    *
    * Scale split, measured over three index decades (18k/1.8M/18M
    * index rows, same 1× chunk; PERFORMANCE.md, "dd10 probe across
    * THREE decades"): the probe's SHUFFLE is byte-identical at every
    * decade (231,319 bytes — the chunk bands moving once into the
    * index's bucket layout; the index side moves ZERO bytes), while
    * the probe's index-side columnar SCAN grows with the index (wall
    * 1.0 → 1.0 → 2.3 s single-box). That split
    * is the design: band hashes are uniform, so no static layout can
    * skip index row groups for an arbitrary chunk — the scan term is
    * irreducible but embarrassingly parallel (scales with executors,
    * no network), whereas a non-bucketed layout would instead grow
    * the SHUFFLE linearly with the index (measured 439 KB → 23 MB →
    * 229 MB) — the term that does NOT scale out, since it serializes
    * every index row through the network each probe.
    * Returns (id, dup_of_corpus, dup_in_chunk). */
  def dedupChunkAgainstIndex(chunk: DataFrame, text: Column, id: String,
      indexPath: String, shingleSize: Int = 3, numHashes: Int = 16,
      bands: Int = 4): DataFrame = {
    // the banded frame feeds THREE consumers (index probe, bucket-min,
    // domination join) — an eager localCheckpoint materializes the
    // chunk's signatures once instead of re-signaturing per consumer,
    // and (unlike persist) its RDD blocks are freed by the
    // ContextCleaner once the returned frame is collected/GC'd, so
    // repeated invocations don't accumulate cache (the nearDupPairs
    // lesson from round 2's review)
    val cband = bandFrame(chunk, text, id, shingleSize, numHashes, bands)
      .localCheckpoint(true)
    dedupBandedAgainstIndex(chunk, cband, id, indexPath)
  }

  /** [[dedupChunkAgainstIndex]] over a caller-materialized band frame
    * (the [[bandFrame]] of the SAME chunk, checkpointed) — for callers
    * that also commit those bands ([[commitBands]]) and must not pay
    * the signature pass twice (graft.streaming.NearDedup). */
  private[graft] def dedupBandedAgainstIndex(chunk: DataFrame,
      cband: DataFrame, id: String, indexPath: String): DataFrame = {
    val spark = chunk.sparkSession
    val index = bandIndexFrame(spark, indexPath)
      .select(col("band_id"), col("band_hash"))
    // Both flags fold in ONE id-keyed aggregate (optimization r20,
    // guide §2.4): the bucket-min rides the banded rows as a window
    // over the single bucket-key shuffle (see [[dominationMarked]] —
    // the semi-join against the index reuses that same partitioning,
    // and the index side still moves ZERO bytes, the dd10 scale
    // property), and the corpus-hit rows union in under the same id
    // shuffle the domination aggregate already pays — replacing the
    // former separate distinct + two left joins. max() over the union
    // is exactly "any bucket dominates / any band hits the corpus".
    val marked = dominationMarked(cband, id)
    val corpusHit = cband
      .join(index, Seq("band_id", "band_hash"), "left_semi")
      .select(col(id), lit(true).as("__dc"), lit(false).as("__dk"))
    val flags = marked
      .select(col(id), lit(false).as("__dc"),
        (col("__bucket_min") < col(id)).as("__dk"))
      .unionByName(corpusHit)
      .groupBy(col(id))
      .agg(max(col("__dc")).as("__dc"), max(col("__dk")).as("__dk"))
    chunk.select(col(id))
      .join(flags, Seq(id), "left")
      .select(col(id),
        coalesce(col("__dc"), lit(false)).as("dup_of_corpus"),
        coalesce(col("__dk"), lit(false)).as("dup_in_chunk"))
  }
}
