package graft.operators

import graft.SparkSpec
import graft.functions.{TextFunctions, VectorFunctions}
import org.apache.spark.sql.functions._

/** Dedup / similarity / multimodal operator behavior on *injected*
  * near-duplicates (the synthetic corpus has none). */
class OperatorSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = graft.Tables(spark, sfDir, "documents")

  /** Physical bucket ids actually SCANNED by a materialized frame's
    * graft snapshot reads — the plan-level evidence that an `isin` on
    * the layout column bucket-pruned. Call after an action so AQE has
    * finalized the join plan. */
  private def scannedGraftBuckets(frame: org.apache.spark.sql.DataFrame)
      : Set[Int] = {
    def resolve(p: org.apache.spark.sql.execution.SparkPlan)
        : org.apache.spark.sql.execution.SparkPlan = p match {
      case a: org.apache.spark.sql.execution.adaptive
          .AdaptiveSparkPlanExec => resolve(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        resolve(q.plan)
      case r: org.apache.spark.sql.execution.exchange
          .ReusedExchangeExec => resolve(r.child)
      case other => other
    }
    def subtree(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val r = resolve(p)
      r +: r.children.flatMap(subtree)
    }
    subtree(frame.queryExecution.executedPlan)
      .collect {
        case b: org.apache.spark.sql.execution.datasources.v2
            .BatchScanExec
            if b.scan.getClass.getName.startsWith("graft.") => b
      }.flatMap(_.inputPartitions.collect {
        case h: org.apache.spark.sql.connector.read.HasPartitionKey =>
          h.partitionKey().getInt(0)
      }).toSet
  }

  test("exactDedup keeps lowest id per duplicated text") {
    val withDups = docs.union(docs.withColumn("doc_id", $"doc_id" + 100000))
    val kept = Dedup.exactDedup(withDups, $"text", $"doc_id")
    assert(kept.count() == docs.count())
    assert(kept.agg(max("doc_id")).head().getLong(0) < 100000)
  }

  test("short docs (no shingles) are NEVER near-dup candidates: the " +
    "sentinel signature must not bucket unrelated one-liners together") {
    // five distinct docs each SHORTER than the shingle size (3 tokens):
    // all share the all-MaxValue sentinel signature — pre-fix the
    // keep-first rule deleted every one but the minimum id
    val shorts = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma beta"),
      (4L, "delta"), (5L, "x y")).toDF("doc_id", "text")
    val kept = Dedup.minhashDedup(shorts, $"text", "doc_id")
    assert(kept.count() == 5,
      "distinct short docs must all survive near-dedup")
    // incremental form: short chunk docs are unique, not corpus dups
    val idx = tmpDir("bandidx") + "/idx"
    Dedup.writeBandIndex(shorts, $"text", "doc_id", idx)
    val flags = Dedup.dedupChunkAgainstIndex(
      Seq((10L, "omega"), (11L, "psi chi")).toDF("doc_id", "text"),
      $"text", "doc_id", idx)
    assert(flags.where($"dup_of_corpus" || $"dup_in_chunk").count() == 0)
    // jaccardVerify on an empty-shingle pair: dropped, never 0/0
    val cands = Seq((1L, 2L)).toDF("id_a", "id_b")
    assert(Dedup.jaccardVerify(shorts, $"text", "doc_id", cands,
      shingleSize = 3, threshold = 0.0).count() == 0)
    // banding geometry that would empty every slice fails FAST
    intercept[IllegalArgumentException] {
      Dedup.minhashDedup(shorts, $"text", "doc_id",
        numHashes = 16, bands = 32)
    }
    intercept[IllegalArgumentException] {
      Dedup.minhashDedup(shorts, $"text", "doc_id",
        numHashes = 16, bands = 5) // non-dividing: trailing hashes lost
    }
  }

  test("minhashDedup drops exact copies and keeps distinct docs") {
    val copies = docs.limit(5).withColumn("doc_id", $"doc_id" + 100000)
    val withDups = docs.union(copies)
    val kept = Dedup.minhashDedup(withDups, $"text", "doc_id")
    // every exact copy shares all bands with its lower-id original
    assert(kept.where($"doc_id" >= 100000).count() == 0)
    assert(kept.count() <= docs.count())
  }

  test("incremental dedup vs persisted index: per-doc flags exact on " +
    "pairwise-independent texts; corpus docs never re-read") {
    // synthetic texts of 12 md5-derived tokens: distinct docs share NO
    // shingles (J=0), so per-doc LSH flags are deterministic — unlike
    // the real corpus, whose true near-dup pairs make per-doc flags
    // non-closed-form (that form is oracle-checked as counts in dd10)
    def synth(ids: Seq[Long]) = ids.toDF("doc_id").select($"doc_id",
      concat_ws(" ", (0 until 12).map(i =>
        md5(concat($"doc_id".cast("string"), lit(s"_$i")))): _*).as("text"))
    val corpus = synth(1L to 50L)
    val ix = tmpDir("ddix") + "/index"
    Dedup.writeBandIndex(corpus, $"text", "doc_id", ix)
    val chunk = synth(101L to 120L)                        // clean originals
      .union(corpus.where($"doc_id" <= 5)                  // corpus copies
        .select($"doc_id" + 500, $"text"))
      .union(synth(101L to 103L)                           // in-chunk copies
        .select($"doc_id" + 800, $"text"))
    val flags = Dedup.dedupChunkAgainstIndex(chunk, $"text", "doc_id", ix)
      .collect().map(r => r.getLong(0) -> (r.getBoolean(1), r.getBoolean(2)))
      .toMap
    (101L to 120L).foreach(id => assert(flags(id) == (false, false), id))
    (501L to 505L).foreach(id => assert(flags(id)._1, s"$id not corpus-dup"))
    (901L to 903L).foreach(id => assert(flags(id)._2, s"$id not chunk-dup"))
    // keep-first: the in-chunk ORIGINALS of the 901-903 copies stay clean
    assert(!flags(101L)._2 && !flags(102L)._2 && !flags(103L)._2)
  }

  test("simhash: identical text => identical signature; hamming 0") {
    val two = docs.limit(1).select($"doc_id", $"text")
      .union(docs.limit(1).select(($"doc_id" + 1).as("doc_id"), $"text"))
    val sigs = Dedup.withSimhash(two, $"text", "doc_id")
      .select("simhash").as[Long].collect()
    assert(sigs.length == 2 && sigs(0) == sigs(1))
  }

  test("jaccardVerify: exact copy has jaccard 1.0") {
    val a = docs.limit(3)
    val dup = a.withColumn("doc_id", $"doc_id" + 100000)
    val all = a.union(dup)
    val cands = a.select($"doc_id".as("id_a"), ($"doc_id" + 100000).as("id_b"))
    val verified = Dedup.jaccardVerify(all, $"text", "doc_id", cands, 3, 0.99)
    assert(verified.count() == 3)
    assert(verified.select("jaccard").as[Double].collect().forall(_ == 1.0))
  }

  test("cosine: self-similarity is 1, orthogonal is 0") {
    val df = Seq((Array(1f, 0f), Array(1f, 0f), Array(0f, 1f)))
      .toDF("a", "b", "c")
    val r = df.select(
      VectorFunctions.cosine($"a", $"b").as("same"),
      VectorFunctions.cosine($"a", $"c").as("orth")).head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(1)) < 1e-12)
  }

  test("bruteForceTopK finds an injected near-identical vector first") {
    val emb = graft.Tables(spark, sfDir, "embeddings")
    val q = emb.where($"vec_id" === 0).select("embedding")
      .head().getSeq[Float](0).toArray
    // inject a copy of the query vector with id 9999
    val injected = emb.union(
      emb.where($"vec_id" === 0).select(lit(9999L).as("vec_id"),
        $"embedding", lit(0).as("label")))
    val top = Similarity.bruteForceTopK(
      injected.where($"vec_id" =!= 0), "embedding", "vec_id", q, 3)
      .collect()
    assert(top.head.getLong(0) == 9999L)
    assert(top.head.getDouble(1) == 1.0)
  }

  test("lshTopK with full probe matches brute force on the same bucket set") {
    val emb = graft.Tables(spark, sfDir, "embeddings")
    val q = emb.where($"vec_id" === 0).select("embedding")
      .head().getSeq[Float](0).toArray
    val indexed = Similarity.index(emb.where($"vec_id" =!= 0),
      "embedding", numPlanes = 6, dim = 64)
    // probeHamming = 6 => all buckets => identical to brute force
    val lsh = Similarity.lshTopK(indexed, "embedding", "vec_id", q, 6, 5,
      probeHamming = 6).collect().map(r => (r.getLong(0), r.getDouble(1)))
    val brute = Similarity.bruteForceTopK(emb.where($"vec_id" =!= 0),
      "embedding", "vec_id", q, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(lsh.toSeq == brute.toSeq)
  }

  test("ivfTopK with full probe matches brute force") {
    val emb = graft.Tables(spark, sfDir, "embeddings")
    val q = emb.where($"vec_id" === 0).select("embedding")
      .head().getSeq[Float](0).toArray
    val indexed = Similarity.ivfIndex(emb.where($"vec_id" =!= 0),
      "embedding", "vec_id", nlist = 8)
    // every row lands in exactly one list
    assert(indexed.count() == emb.count() - 1)
    assert(indexed.select("list_id").distinct().count() <= 8)
    val ivf = Similarity.ivfTopK(indexed, "embedding", "vec_id", q,
      nlist = 8, nprobe = 8, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val brute = Similarity.bruteForceTopK(emb.where($"vec_id" =!= 0),
      "embedding", "vec_id", q, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(ivf.toSeq == brute.toSeq)
  }

  test("persisted bucket-partitioned LSH index: probe bucket-prunes to " +
    "the Hamming ball's buckets and matches the in-memory LSH probe") {
    val emb = graft.Tables(spark, sfDir, "embeddings")
    val corpus = emb.where($"vec_id" =!= 0)
    val q = emb.where($"vec_id" === 0).select("embedding")
      .head().getSeq[Float](0).toArray
    val path = tmpDir("lshidx") + "/index"
    Similarity.writePersistedIndex(corpus, "embedding", 6, 64, path)
    val probed = Similarity.probePersistedIndex(spark, path, "embedding",
      "vec_id", q, numPlanes = 6, k = 5, probeHamming = 2)
    // the driver-enumerated Hamming ball must prune FILES at plan
    // time: the scan's planned partitions cover only buckets the
    // ball's values hash to
    val planes = graft.functions.VectorFunctions.makePlanes(6, 64)
    val qBucket = planes.zipWithIndex.map { case (p, i) =>
      val d = p.zip(q).map { case (w, x) => w * x.toDouble }.sum
      if (d > 0) 1L << i else 0L
    }.sum
    val ball = Similarity.hammingBall(qBucket, 6, 2).get
    assert(ball.size == 1 + 6 + 15) // C(6,0)+C(6,1)+C(6,2)
    val expected = ball.map(bucketOfLong(_, Similarity.lshBuckets(6))).toSet
    val read = scanBuckets(probed)
    assert(read.nonEmpty && read.subsetOf(expected),
      s"probe scanned buckets $read, ball hashes to $expected")
    // and the probe result equals the in-memory index probe
    val inMem = Similarity.lshTopK(
      Similarity.index(corpus, "embedding", 6, 64),
      "embedding", "vec_id", q, 6, 5, probeHamming = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(probed.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      == inMem.toSeq)
    // an over-wide ball falls back to the bit_count filter — same rows
    assert(Similarity.hammingBall(0L, 63, 20).isEmpty)
    val full = Similarity.probePersistedIndex(spark, path, "embedding",
      "vec_id", q, numPlanes = 6, k = 5, probeHamming = 6)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val brute = Similarity.bruteForceTopK(corpus, "embedding", "vec_id",
      q, 5).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(full.toSeq == brute.toSeq)
  }

  /** Buckets a graft snapshot probe plan actually scans: the partition
    * keys of the DSv2 scan's planned input partitions — empty-set
    * assertion-safe because BucketGroupedBatch keys every split. */
  private def scanBuckets(df: org.apache.spark.sql.DataFrame): Set[Int] = {
    val scans = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
          if b.scan.getClass.getName.startsWith("graft.") => b
    }
    assert(scans.nonEmpty, "no graft snapshot scan in the probe plan")
    scans.flatMap(_.inputPartitions.collect {
      case h: org.apache.spark.sql.connector.read.HasPartitionKey =>
        h.partitionKey().getInt(0)
    }).toSet
  }

  /** The layout-hash bucket of a long key — must match
    * Versioned.commitBucketed's write-side split. */
  private def bucketOfLong(v: Long, n: Int): Int = {
    val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(v, 42)
    ((h % n) + n) % n
  }

  test("persisted IVF index: probe bucket-prunes to the probed cells' " +
    "buckets and matches the in-memory probe; the no-codebook probe " +
    "resolves the committed descriptor") {
    val emb = graft.Tables(spark, sfDir, "embeddings")
    val corpus = emb.where($"vec_id" =!= 0)
    val q = emb.where($"vec_id" === 0).select("embedding")
      .head().getSeq[Float](0).toArray
    val cb = Similarity.buildCodebook(corpus, "embedding", "vec_id", nlist = 8)
    val path = tmpDir("ivfidx") + "/index"
    Similarity.writePersistedIvf(corpus, "embedding", cb, path)
    val probed = Similarity.probePersistedIvf(spark, path, "embedding",
      "vec_id", q, cb, nprobe = 2, k = 5)
    // the isin(list_id) predicate must prune FILES at plan time: the
    // scan's planned partitions cover only the probed cells' buckets
    val expected = Similarity.probeCells(cb, q, 2)
      .map(bucketOfLong(_, Similarity.ivfBuckets(8))).toSet
    val read = scanBuckets(probed)
    assert(read.nonEmpty && read.subsetOf(expected),
      s"probe scanned buckets $read, probed cells hash to $expected")
    // and the probe result equals the in-memory index probe
    val inMem = Similarity.ivfTopK(
      Similarity.ivfAssign(corpus, "embedding", cb),
      "embedding", "vec_id", q, cb, nprobe = 2, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(probed.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      == inMem.toSeq)
    // the no-codebook probe resolves the COMMITTED codebook (the
    // retrain-handoff surface) and returns the same rows
    val resolved = Similarity.probePersistedIvf(spark, path, "embedding",
      "vec_id", q, nprobe = 2, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(resolved.toSeq == inMem.toSeq)
    // a caller holding a DIFFERENT codebook refuses loudly — silently
    // probing cells the rows aren't assigned to is the recall bug the
    // fingerprint exists to prevent
    val other = Similarity.buildCodebook(corpus, "embedding", "vec_id",
      nlist = 8, refineIters = 1)
    assert(intercept[IllegalArgumentException] {
      Similarity.probePersistedIvf(spark, path, "embedding", "vec_id",
        q, other, nprobe = 2, k = 5)
    }.getMessage.contains("fingerprint"))
  }

  test("Lloyd-refined codebook: assignment still partitions the corpus, " +
    "full probe still exact, refinement moves centroids") {
    val emb = graft.Tables(spark, sfDir, "embeddings")
    val corpus = emb.where($"vec_id" =!= 0)
    val q = emb.where($"vec_id" === 0).select("embedding")
      .head().getSeq[Float](0).toArray
    val seed = Similarity.buildCodebook(corpus, "embedding", "vec_id", 8)
    val refined = Similarity.buildCodebook(corpus, "embedding", "vec_id", 8,
      refineIters = 2)
    // refinement actually moved at least one centroid off its seed vector
    assert(seed.entries.zip(refined.entries).exists { case ((_, a), (_, b)) =>
      !java.util.Arrays.equals(a, b)
    })
    val indexed = Similarity.ivfAssign(corpus, "embedding", refined)
    assert(indexed.count() == corpus.count())
    val ivf = Similarity.ivfTopK(indexed, "embedding", "vec_id", q,
      refined, nprobe = 8, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val brute = Similarity.bruteForceTopK(corpus, "embedding", "vec_id", q, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(ivf.toSeq == brute.toSeq)
  }

  test("fused Lloyd step (IvfTrainStep) reproduces the explode+groupBy " +
    "mean update it replaced (optimization r19)") {
    val emb = graft.Tables(spark, sfDir, "embeddings")
    val corpus = emb.where($"vec_id" =!= 0)
    val seed = Similarity.buildCodebook(corpus, "embedding", "vec_id", 8)
    val one = Similarity.buildCodebook(corpus, "embedding", "vec_id", 8,
      refineIters = 1)
    // reference: the pre-r19 path — assign under the SEED codebook,
    // posexplode, grouped avg per (list, pos)
    val ref = Similarity.ivfAssign(corpus, "embedding", seed)
      .select($"list_id", posexplode($"embedding").as(Seq("pos", "x")))
      .groupBy($"list_id", $"pos")
      .agg(avg($"x".cast("double")).as("m"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    one.entries.zip(seed.entries).foreach { case ((lid, got), (_, sv)) =>
      (0 until got.length).foreach { d =>
        val expect = ref.getOrElse((lid, d), sv(d)) // empty list keeps seed
        assert(math.abs(got(d) - expect) <=
          1e-12 * math.max(1.0, math.abs(expect)),
          s"centroid $lid dim $d: ${got(d)} vs $expect")
      }
    }
  }

  test("persisted LSH append: same plane family, post-append probe " +
    "equals the in-memory probe on the union") {
    val emb = graft.Tables(spark, sfDir, "embeddings")
    val corpus = emb.where($"vec_id" =!= 0)
    val build = corpus.where($"vec_id" % 2 === 0)
    val extra = corpus.where($"vec_id" % 2 === 1)
    val q = emb.where($"vec_id" === 0).select("embedding")
      .head().getSeq[Float](0).toArray
    val path = tmpDir("lshappend") + "/index"
    Similarity.writePersistedIndex(build, "embedding", 6, 64, path)
    // the family guard must exist right after the BUILD, before any
    // append: it rides the build's own commit meta, atomically with
    // the rows (the r15 ADVICE bug — a sidecar erased by the very
    // overwrite it guarded — cannot exist on this layout)
    assert(Similarity.planeFamilyOf(spark, path).contains((6, 64)),
      "freshly built LSH index is guard-less")
    Similarity.appendToPersistedIndex(extra, "embedding", 6, 64, path)
    assert(Versioned.versions(spark, path).sorted == Seq(0L, 1L))
    val probed = Similarity.probePersistedIndex(spark, path, "embedding",
      "vec_id", q, numPlanes = 6, k = 5, probeHamming = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val inMem = Similarity.lshTopK(
      Similarity.index(corpus, "embedding", 6, 64),
      "embedding", "vec_id", q, 6, 5, probeHamming = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(probed.toSeq == inMem.toSeq,
      s"appended LSH index probe diverged: ${probed.toSeq} vs ${inMem.toSeq}")
    // a mismatched plane family refuses on BOTH write and read paths —
    // the buckets were hashed under (6, 64); family-8 rows would land
    // in (and family-8 probes look in) the wrong buckets
    assert(Similarity.planeFamilyOf(spark, path).contains((6, 64)))
    assert(intercept[IllegalArgumentException] {
      Similarity.appendToPersistedIndex(extra, "embedding", 8, 64, path)
    }.getMessage.contains("plane family"))
    assert(intercept[IllegalArgumentException] {
      Similarity.probePersistedIndex(spark, path, "embedding", "vec_id",
        q, numPlanes = 8, k = 5)
    }.getMessage.contains("plane family"))
    // a plain parquet dir: appends refuse with the rebuild pointer
    val bare = tmpDir("lshheal") + "/index"
    Similarity.index(build, "embedding", 6, 64)
      .write.partitionBy("bucket").parquet(bare)
    assert(Similarity.planeFamilyOf(spark, bare).isEmpty)
    assert(intercept[IllegalArgumentException] {
      Similarity.appendToPersistedIndex(extra, "embedding", 6, 64, bare)
    }.getMessage.contains("writePersistedIndex"))
  }

  test("persisted IVF append: frozen-codebook assignment, post-append " +
    "full probe equals brute force on the union, dir-pruning intact, " +
    "in-distribution append does NOT flag retrain") {
    val emb = graft.Tables(spark, sfDir, "embeddings")
    val q = emb.where($"vec_id" === 0).select("embedding")
      .head().getSeq[Float](0).toArray
    // build on the even half, append the odd half (same distribution)
    val corpus = emb.where($"vec_id" =!= 0)
    val build = corpus.where($"vec_id" % 2 === 0)
    val extra = corpus.where($"vec_id" % 2 === 1)
    val cb = Similarity.buildCodebook(build, "embedding", "vec_id",
      nlist = 8)
    val path = tmpDir("ivfappend") + "/index"
    val baseline = Similarity.writePersistedIvf(build, "embedding", cb, path)
    assert(baseline.vectors == build.count() && baseline.meanSim > 0.0)
    assert(Similarity.loadPersistedIvf(spark, path)
      .exists(st => st.baseline == baseline &&
        st.fingerprint == Similarity.fingerprint(cb) &&
        st.buckets == Similarity.ivfBuckets(8)))
    val app = Similarity.appendToPersistedIvf(extra, "embedding", cb, path)
    assert(app.appended == extra.count())
    assert(!app.retrainRecommended,
      s"in-distribution append must not flag retrain: $app vs $baseline")
    // the append committed a new snapshot version carrying the same
    // descriptor (baseline inherited, not re-seeded)
    assert(Versioned.versions(spark, path).sorted == Seq(0L, 1L))
    assert(Similarity.loadPersistedIvf(spark, path)
      .exists(st => st.version == 1L && st.baseline == baseline))
    // full probe (nprobe = nlist) over the appended index is EXACT on
    // the union corpus — no appended row lost, none mis-routed
    val probed = Similarity.probePersistedIvf(spark, path, "embedding",
      "vec_id", q, cb, nprobe = 8, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val brute = Similarity.bruteForceTopK(corpus, "embedding", "vec_id",
      q, 5).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(probed.toSeq == brute.toSeq)
    // bucket-pruning survives the append: a narrow probe's planned
    // partitions still cover only the probed cells' buckets
    val narrow = Similarity.probePersistedIvf(spark, path, "embedding",
      "vec_id", q, cb, nprobe = 2, k = 5)
    val expected = Similarity.probeCells(cb, q, 2)
      .map(bucketOfLong(_, Similarity.ivfBuckets(8))).toSet
    val read = scanBuckets(narrow)
    assert(read.nonEmpty && read.subsetOf(expected),
      s"post-append probe scanned buckets $read vs cells' $expected")
    // appending with a DIFFERENT codebook refuses (fingerprint guard)
    val other = Similarity.buildCodebook(build, "embedding", "vec_id",
      nlist = 8, refineIters = 1)
    assert(intercept[IllegalArgumentException] {
      Similarity.appendToPersistedIvf(extra, "embedding", other, path)
    }.getMessage.contains("fingerprint"))
    // a MIS-TYPED append refuses BEFORE committing: commitIf skips the
    // write-time enforceAppend (it exists for MERGE rewrites), so this
    // gate is the index's own — without it the bad segment would land
    // in the manifest and fail only at the next read
    val mistyped = extra.withColumn("vec_id", $"vec_id".cast("int"))
    assert(intercept[IllegalArgumentException] {
      Similarity.appendToPersistedIvf(mistyped, "embedding", cb, path)
    }.getMessage.contains("does not match index"))
    assert(Versioned.versions(spark, path).sorted == Seq(0L, 1L),
      "mis-typed append committed a version")
  }

  test("persisted IVF append: a shifted distribution fires " +
    "retrainRecommended; appending without a build baseline refuses") {
    // closed-form clusterable corpus: one-hot axis vectors in 16 dims.
    // The 8 seed centroids (lowest ids) cover axes 0-7 exactly, so the
    // build cohort assigns at cosine 1.0 (distance 0 — the tight-build
    // floor case). A cohort on axes 8-15 is orthogonal to EVERY cell:
    // best sim 0, distance 1.0 >= 2 x the 0.01 floor — genuine drift.
    // (The real `embeddings` table is deliberately NOT used here: its
    // near-uniform vectors give a ~0.82 build distance that nothing
    // can double — on unclusterable data the RELATIVE rule staying
    // silent for mildly-degraded cohorts is correct; the ABSOLUTE
    // floor for anti-correlated cohorts has its own test below.)
    def oneHot(axis: Int): Array[Float] =
      Array.tabulate(16)(d => if (d == axis) 1f else 0f)
    val build = (1L to 80L).map(i => (i, oneHot((i % 8).toInt)))
      .toDF("vec_id", "embedding")
    val cb = Similarity.buildCodebook(build, "embedding", "vec_id",
      nlist = 8)
    val path = tmpDir("ivfdrift") + "/index"
    val baseline = Similarity.writePersistedIvf(build, "embedding", cb, path)
    assert(math.abs(baseline.meanSim - 1.0) < 1e-9, s"$baseline")
    val inDist = (100L to 119L).map(i => (i, oneHot((i % 8).toInt)))
      .toDF("vec_id", "embedding")
    assert(!Similarity.appendToPersistedIvf(inDist, "embedding", cb, path)
      .retrainRecommended, "in-distribution cohort must not flag")
    val shifted = (200L to 219L).map(i => (i, oneHot(8 + (i % 8).toInt)))
      .toDF("vec_id", "embedding")
    val app = Similarity.appendToPersistedIvf(shifted, "embedding", cb, path)
    assert(app.retrainRecommended,
      s"orthogonal cohort must flag retrain: $app vs $baseline")
    // a plain-dir index (no commit log, no descriptor) refuses the
    // append loudly and points at the rebuild, not a silent append
    // whose codebook nobody recorded
    val bare = tmpDir("ivfbare") + "/index"
    Similarity.ivfAssign(build, "embedding", cb)
      .write.partitionBy("list_id").parquet(bare)
    val e = intercept[IllegalArgumentException] {
      Similarity.appendToPersistedIvf(build, "embedding", cb, bare)
    }
    assert(e.getMessage.contains("writePersistedIvf"))
  }

  test("batch probe ivfTopKMany: each query's top-k equals its single " +
    "probe at the same nprobe (pruned AND full), the persisted form " +
    "equals per-query probePersistedIvf, and colliding column names " +
    "refuse") {
    def oneHot(axis: Int): Array[Float] =
      Array.tabulate(16)(d => if (d == axis) 1f else 0f)
    val corpus = (1L to 64L).map(i => (i, oneHot((i % 8).toInt)))
      .toDF("vec_id", "embedding")
    val cb = Similarity.buildCodebook(corpus, "embedding", "vec_id",
      nlist = 8)
    val indexed = Similarity.ivfAssign(corpus, "embedding", cb)
    val queries = Seq(0, 3, 5, 7).map(a => (a.toLong, oneHot(a)))
      .toDF("qid", "qemb")
    def manyAsMap(frame: org.apache.spark.sql.DataFrame)
        : Map[Long, Seq[(Long, Double)]] =
      frame.collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    for (nprobe <- Seq(2, 8)) { // pruned and full
      val many = manyAsMap(Similarity.ivfTopKMany(indexed,
        "embedding", "vec_id", queries, "qid", "qemb", cb, nprobe, k = 3))
      Seq(0, 3, 5, 7).foreach { a =>
        val single = Similarity.ivfTopK(indexed, "embedding", "vec_id",
          oneHot(a), cb, nprobe, k = 3)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(many(a.toLong) == single,
          s"nprobe=$nprobe query axis $a: ${many(a.toLong)} vs $single")
      }
    }
    // persisted form: resolved codebook, same per-query results
    val path = tmpDir("ivfmany") + "/index"
    Similarity.writePersistedIvf(corpus, "embedding", cb, path)
    val manyP = manyAsMap(Similarity.probePersistedIvfMany(spark,
      path, "embedding", "vec_id", queries, "qid", "qemb", nprobe = 8,
      k = 3))
    Seq(0, 3, 5, 7).foreach { a =>
      val single = Similarity.probePersistedIvf(spark, path, "embedding",
        "vec_id", oneHot(a), nprobe = 8, k = 3)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(manyP(a.toLong) == single)
    }
    // the static cell-set filter restores plan-time BUCKET PRUNING for
    // the batch join: a 1-query nprobe=2 batch scans only that query's
    // cells' buckets, exactly like the single probe's isin literal
    val narrow = Similarity.probePersistedIvfMany(spark, path,
      "embedding", "vec_id", queries.where($"qid" === 3L), "qid",
      "qemb", nprobe = 2, k = 3)
    val n = Similarity.ivfBuckets(8)
    val expectedBuckets = Similarity.probeCells(cb, oneHot(3), 2).map {
      v =>
        val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(v, 42)
        ((h % n) + n) % n
    }.toSet
    narrow.collect() // materialize so AQE finalizes the join plan
    val readBuckets = scannedGraftBuckets(narrow)
    assert(readBuckets.nonEmpty && readBuckets.subsetOf(expectedBuckets),
      s"batch probe scanned buckets $readBuckets beyond the probed " +
        s"cells' $expectedBuckets")
    // a null-embedding query row is DROPPED (a null cosine can rank
    // nothing), not answered with k null-scored rows
    val withNull = queries.unionByName(
      Seq((99L, null.asInstanceOf[Array[Float]])).toDF("qid", "qemb"))
    val nm = manyAsMap(Similarity.ivfTopKMany(indexed, "embedding",
      "vec_id", withNull, "qid", "qemb", cb, 8, k = 3))
    assert(!nm.contains(99L) && nm.keySet == Set(0L, 3L, 5L, 7L))
    // a wrong-dim query row FAILS LOUDLY (the cosine truncates to the
    // shorter operand — silently ranking a PREFIX of the space
    // otherwise), in BOTH the batch form and the single probe
    val wrongDimQ = queries.unionByName(
      Seq((98L, Array.fill(8)(0.5f))).toDF("qid", "qemb"))
    val dimE = intercept[Exception] {
      Similarity.ivfTopKMany(indexed, "embedding", "vec_id", wrongDimQ,
        "qid", "qemb", cb, 2, 3).collect()
    }
    val dimM = Iterator.iterate(dimE: Throwable)(_.getCause)
      .takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(dimM.contains("dim") && dimM.contains("8"), dimM)
    assert(intercept[IllegalArgumentException] {
      Similarity.ivfTopK(indexed, "embedding", "vec_id",
        Array.fill(8)(0.5f), cb, 2, 3)
    }.getMessage.contains("dim 8"))
    // collisions refuse BOTH ways: query columns shadowing the
    // index's, and index columns shadowing the query's
    assert(intercept[IllegalArgumentException] {
      Similarity.ivfTopKMany(indexed, "embedding", "vec_id",
        corpus, "vec_id", "embedding", cb, 2, 3)
    }.getMessage.contains("collide"))
    assert(intercept[IllegalArgumentException] {
      Similarity.ivfTopKMany(indexed.withColumn("qid", lit(1L)),
        "embedding", "vec_id", queries, "qid", "qemb", cb, 2, 3)
    }.getMessage.contains("collide"))
    // ...and CASE-INSENSITIVELY, like Spark's resolution: a qid named
    // "Score" would slip a case-sensitive guard and then be silently
    // replaced by withColumn("score"), corrupting the ranking window
    assert(intercept[IllegalArgumentException] {
      Similarity.ivfTopKMany(indexed, "embedding", "vec_id",
        queries.withColumnRenamed("qid", "Score"), "Score", "qemb",
        cb, 2, 3)
    }.getMessage.contains("collide"))
    assert(intercept[IllegalArgumentException] {
      Similarity.ivfTopKMany(indexed, "embedding", "vec_id",
        queries.withColumnRenamed("qemb", "__RN"), "qid", "__RN",
        cb, 2, 3)
    }.getMessage.contains("collide"))
  }

  test("batch probe pins a NON-DETERMINISTIC queries frame once: the " +
    "cell-set filter and the probe join see the SAME rows, so no " +
    "candidate is silently dropped by a second evaluation emitting " +
    "cells absent from the isin") {
    def oneHot(axis: Int): Array[Float] =
      Array.tabulate(16)(d => if (d == axis) 1f else 0f)
    val corpus = (1L to 64L).map(i => (i, oneHot((i % 8).toInt)))
      .toDF("vec_id", "embedding")
    val cb = Similarity.buildCodebook(corpus, "embedding", "vec_id",
      nlist = 8)
    val indexed = Similarity.ivfAssign(corpus, "embedding", cb)
    // every evaluation hands out the NEXT axis — a frame that answers
    // differently each pass, the adversarial shape for any two-pass
    // plan (rand()/sample()/changing-source stand-in)
    OperatorSpec.evalCounter.set(0)
    val shifty = udf { () =>
      oneHot(OperatorSpec.evalCounter.getAndIncrement() % 8)
    }.asNondeterministic()
    val queries = spark.range(4).select($"id".as("qid"),
      shifty().as("qemb"))
    val res = Similarity.ivfTopKMany(indexed, "embedding", "vec_id",
      queries, "qid", "qemb", cb, nprobe = 1, k = 3).collect()
    // pre-fix: the second evaluation emits cells outside the collected
    // isin set and whole queries return ZERO candidates; pinned, every
    // query ranks a full top-k against whichever axis it materialized
    val byQid = res.groupBy(_.getLong(0))
    assert(byQid.keySet == Set(0L, 1L, 2L, 3L),
      s"queries lost their candidates: ${byQid.keySet}")
    byQid.foreach { case (q, rows) =>
      assert(rows.length == 3, s"qid=$q returned ${rows.length} rows")
      assert(rows.map(_.getDouble(2)).max == 1.0,
        s"qid=$q top score ${rows.map(_.getDouble(2)).max}")
    }
  }

  test("batch probe lshTopKMany: each query's top-k equals its single " +
    "probe at the same radius (pruned AND exact), the persisted form " +
    "equals per-query probePersistedIndex and bucket-prunes to the " +
    "probed balls, and unenumerable balls / collisions / null " +
    "queries behave") {
    val emb = graft.Tables(spark, sfDir, "embeddings")
    val corpus = emb.where($"vec_id" > 10)
    val qids = Seq(0L, 3L, 5L, 7L)
    val queries = emb.where($"vec_id".isin(qids: _*))
      .select($"vec_id".as("qid"), $"embedding".as("qemb"))
    def qVec(i: Long): Array[Float] = emb.where($"vec_id" === i)
      .select("embedding").head().getSeq[Float](0).toArray
    def manyAsMap(frame: org.apache.spark.sql.DataFrame)
        : Map[Long, Seq[(Long, Double)]] =
      frame.collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val indexed = Similarity.index(corpus, "embedding", 6, 64)
    for (radius <- Seq(2, 6)) { // pruned ball and exact cross-join
      val many = manyAsMap(Similarity.lshTopKMany(indexed, "embedding",
        "vec_id", queries, "qid", "qemb", numPlanes = 6, dim = 64,
        probeHamming = radius, k = 5))
      qids.foreach { i =>
        val single = Similarity.lshTopK(indexed, "embedding", "vec_id",
          qVec(i), 6, 5, probeHamming = radius)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(many(i) == single,
          s"radius=$radius qid=$i: ${many(i)} vs $single")
      }
    }
    // persisted form: family resolved from the committed descriptor,
    // per-query parity with the single persisted probe
    val path = tmpDir("lshmany") + "/index"
    Similarity.writePersistedIndex(corpus, "embedding", 6, 64, path)
    val manyP = manyAsMap(Similarity.probePersistedLshMany(spark, path,
      "embedding", "vec_id", queries, "qid", "qemb", k = 5,
      probeHamming = 2))
    qids.foreach { i =>
      val single = Similarity.probePersistedIndex(spark, path,
        "embedding", "vec_id", qVec(i), numPlanes = 6, k = 5,
        probeHamming = 2)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(manyP(i) == single)
    }
    // the static cell-set isin restores plan-time BUCKET PRUNING: a
    // 1-query radius-1 batch scans only that query's ball's buckets
    val narrow = Similarity.probePersistedLshMany(spark, path,
      "embedding", "vec_id", queries.where($"qid" === 3L), "qid",
      "qemb", k = 5, probeHamming = 1)
    narrow.collect() // materialize so AQE finalizes the join plan
    val planes = graft.functions.VectorFunctions.makePlanes(6, 64)
    val q3 = qVec(3L)
    val qBucket = planes.zipWithIndex.map { case (p, i) =>
      val d = p.zip(q3).map { case (w, x) => w * x.toDouble }.sum
      if (d > 0) 1L << i else 0L
    }.sum
    val expected = Similarity.hammingBall(qBucket, 6, 1).get
      .map(bucketOfLong(_, Similarity.lshBuckets(6))).toSet
    val read = scannedGraftBuckets(narrow)
    assert(read.nonEmpty && read.subsetOf(expected),
      s"batch probe scanned buckets $read beyond the ball's $expected")
    // an unenumerable ball refuses with guidance (the batch join has
    // no nested-loop fallback), while radius >= numPlanes is exact
    assert(intercept[IllegalArgumentException] {
      Similarity.lshTopKMany(indexed, "embedding", "vec_id", queries,
        "qid", "qemb", numPlanes = 63, dim = 64, probeHamming = 20,
        k = 5)
    }.getMessage.contains("enumerable"))
    // null-embedding query rows are dropped, not answered
    val withNull = queries.unionByName(Seq(
      (99L, null.asInstanceOf[Array[Float]])).toDF("qid", "qemb"))
    assert(manyAsMap(Similarity.lshTopKMany(indexed, "embedding",
      "vec_id", withNull, "qid", "qemb", 6, 64, 2, 5)).keySet ==
      qids.toSet)
    // a wrong-dim query row FAILS LOUDLY at execution (r17 ADVICE):
    // HyperplaneBucket truncates its dot product, so without the
    // guard the row would hash into the wrong bucket and silently
    // return low/zero-recall results where the single probe refuses
    val wrongDim = queries.unionByName(Seq(
      (98L, Array.fill(32)(0.5f))).toDF("qid", "qemb"))
    val dimErr = intercept[Exception] {
      Similarity.lshTopKMany(indexed, "embedding", "vec_id", wrongDim,
        "qid", "qemb", 6, 64, 2, 5).collect()
    }
    val dimMsg = Iterator.iterate(dimErr: Throwable)(_.getCause)
      .takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(dimMsg.contains("dim") && dimMsg.contains("32"),
      s"wrong-dim query did not fail by dim: $dimMsg")
    // collisions refuse case-insensitively, both ways
    assert(intercept[IllegalArgumentException] {
      Similarity.lshTopKMany(indexed, "embedding", "vec_id",
        queries.withColumnRenamed("qid", "Bucket"), "Bucket", "qemb",
        6, 64, 2, 5)
    }.getMessage.contains("collide"))
    assert(intercept[IllegalArgumentException] {
      Similarity.lshTopKMany(indexed.withColumn("qemb", lit(1)),
        "embedding", "vec_id", queries, "qid", "qemb", 6, 64, 2, 5)
    }.getMessage.contains("collide"))
  }

  test("IVF-PQ: one-hot vectors quantize exactly so the full PQ probe " +
    "equals brute force; the codes-only index never carries the " +
    "embedding; zero-norm rows rank nothing; an injected query copy " +
    "is retrieved at exact cosine 1.0 on real embeddings; m < k " +
    "refuses") {
    def oneHot(axis: Int): Array[Float] =
      Array.tabulate(16)(d => if (d == axis) 1f else 0f)
    val corpus = (1L to 64L).map(i => (i, oneHot((i % 8).toInt)))
      .toDF("vec_id", "embedding")
    val cb = Similarity.buildCodebook(corpus, "embedding", "vec_id",
      nlist = 8)
    val pq = Similarity.ivfPqIndex(corpus, "embedding", "vec_id", cb)
    assert(pq.columns.toSet ==
      Set("vec_id", "list_id", "pq_scale", "pq_code"),
      s"PQ index must be codes-only: ${pq.columns.mkString(",")}")
    // one-hot components are 0/1 with scale 1/127: codes 0/127
    // reconstruct bit-exactly, so approximate == exact and the full
    // probe reproduces brute force including scores
    val full = Similarity.ivfPqTopK(pq, corpus, "embedding", "vec_id",
      oneHot(3), cb, nprobe = 8, m = 64, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val brute = Similarity.bruteForceTopK(corpus, "embedding", "vec_id",
      oneHot(3), 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(full == brute, s"$full vs $brute")
    // zero-norm rows carry null codes and are never ranked
    val withZero = corpus.unionByName(
      Seq((999L, Array.fill(16)(0f))).toDF("vec_id", "embedding"))
    val pqz = Similarity.ivfPqIndex(withZero, "embedding", "vec_id", cb)
    assert(pqz.where($"vec_id" === 999L).head().isNullAt(
      pqz.columns.indexOf("pq_code")))
    assert(!Similarity.ivfPqTopK(pqz, withZero, "embedding", "vec_id",
      oneHot(3), cb, 8, 65, 65).collect().map(_.getLong(0))
      .contains(999L))
    // real embeddings: the injected exact copy of the query wins the
    // approximate shortlist (max natural cosine ~0.49 on this corpus,
    // int8 ranking error bounded far below that margin) and rescores
    // at exactly 1.0
    val emb = graft.Tables(spark, sfDir, "embeddings")
    val q = emb.where($"vec_id" === 0).select("embedding")
      .head().getSeq[Float](0).toArray
    val real = emb.where($"vec_id" =!= 0).select($"vec_id", $"embedding")
      .unionByName(emb.where($"vec_id" === 0)
        .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding"))
    val cbR = Similarity.buildCodebook(real, "embedding", "vec_id",
      nlist = 16, refineIters = 2)
    val top = Similarity.ivfPqTopK(
      Similarity.ivfPqIndex(real, "embedding", "vec_id", cbR),
      real, "embedding", "vec_id", q, cbR, nprobe = 4, m = 10, k = 1)
      .head()
    assert(top.getLong(0) == 1000000L && top.getDouble(1) == 1.0,
      s"copy not retrieved: $top")
    assert(intercept[IllegalArgumentException] {
      Similarity.ivfPqTopK(pq, corpus, "embedding", "vec_id", oneHot(3),
        cb, 8, m = 3, k = 5)
    }.getMessage.contains("m=3"))
  }

  test("persisted IVF-PQ: the codes ride the snapshot layout — full " +
    "probe equals brute force on exactly-quantizable vectors, the " +
    "pruned probe bucket-prunes AND reads ~1/4 the bytes of the float " +
    "index, appends drift-check on true embeddings, and the float " +
    "paths refuse the PQ layout (and vice versa)") {
    def oneHot(axis: Int): Array[Float] =
      Array.tabulate(16)(d => if (d == axis) 1f else 0f)
    val corpus = (1L to 80L).map(i => (i, oneHot((i % 8).toInt)))
      .toDF("vec_id", "embedding")
    val cb = Similarity.buildCodebook(corpus, "embedding", "vec_id",
      nlist = 8)
    val pqPath = tmpDir("ivfpq") + "/index"
    val floatPath = tmpDir("ivfpqf") + "/index"
    val baseline = Similarity.writePersistedIvfPq(corpus, "embedding",
      "vec_id", cb, pqPath)
    Similarity.writePersistedIvf(corpus, "embedding", cb, floatPath)
    assert(math.abs(baseline.meanSim - 1.0) < 1e-9, s"$baseline")
    // full probe == brute force (one-hots quantize exactly)
    val full = Similarity.probePersistedIvfPq(spark, pqPath, corpus,
      "embedding", "vec_id", oneHot(3), nprobe = 8, m = 80, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val brute = Similarity.bruteForceTopK(corpus, "embedding", "vec_id",
      oneHot(3), 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(full == brute, s"$full vs $brute")
    // the pruned CODES scan bucket-prunes to the probed cells (the
    // returned frame is the m-bounded rescore over the source — the
    // plan-level pruning claim lives on the codes scan itself)
    val prunedCells = Similarity.probeCells(cb, oneHot(3), 2)
    val prunedScan = SnapshotScan.frameAt(spark, pqPath,
        Similarity.loadPersistedIvf(spark, pqPath).get.version)
      .where($"list_id".isin(prunedCells.toSeq: _*))
    prunedScan.collect()
    val expected = prunedCells
      .map(bucketOfLong(_, Similarity.ivfBuckets(8))).toSet
    val read = scannedGraftBuckets(prunedScan)
    assert(read.nonEmpty && read.subsetOf(expected),
      s"PQ codes scan read buckets $read beyond the probed cells' $expected")
    // ...and the pruned probe's RESULTS match the single float probe
    // at the same cells (exactly-quantizable corpus, m covers them)
    val prunedTop = Similarity.probePersistedIvfPq(spark, pqPath, corpus,
      "embedding", "vec_id", oneHot(3), nprobe = 2, m = 80, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val prunedFloat = Similarity.probePersistedIvf(spark, floatPath,
      "embedding", "vec_id", oneHot(3), nprobe = 2, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(prunedTop == prunedFloat, s"$prunedTop vs $prunedFloat")
    // ...and reads a fraction of the float index's bytes for the SAME
    // cells. Measured on an INCOMPRESSIBLE random corpus — one-hot
    // vectors dictionary-encode to nothing on both layouts and the
    // parquet footers dominate, hiding the payload shrink the int8
    // codes buy (codes are 1/4 the width; footer overhead keeps the
    // measured ratio under ~0.6 rather than 0.25).
    def bytesOf(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect(); graft.tools.PlanMetrics.bytesRead(df)
    }
    val rnd = new scala.util.Random(7)
    val dense = (1L to 2000L)
      .map(i => (i, Array.fill(64)(rnd.nextFloat() * 2f - 1f)))
      .toDF("vec_id", "embedding")
    val cbD = Similarity.buildCodebook(dense, "embedding", "vec_id", 8)
    val densePq = tmpDir("ivfpqd") + "/index"
    val denseFloat = tmpDir("ivfpqdf") + "/index"
    Similarity.writePersistedIvfPq(dense, "embedding", "vec_id", cbD,
      densePq)
    Similarity.writePersistedIvf(dense, "embedding", cbD, denseFloat)
    val qd = dense.where($"vec_id" === 1L).select("embedding")
      .head().getSeq[Float](0).toArray
    // the SCAN TERM is where PQ pays: the codes scan over the same
    // probed cells vs the float index's probe scan (the rescore is a
    // separate m-bounded point fetch against the source)
    val stD = Similarity.loadPersistedIvf(spark, densePq).get
    val cellsD = Similarity.probeCells(stD.codebook, qd, 8)
    val codesScan = SnapshotScan.frameAt(spark, densePq, stD.version)
      .where($"list_id".isin(cellsD.toSeq: _*))
    val pqBytes = bytesOf(codesScan)
    val floatBytes = bytesOf(Similarity.probePersistedIvf(spark,
      denseFloat, "embedding", "vec_id", qd, nprobe = 8, k = 5))
    assert(pqBytes > 0 && pqBytes < (floatBytes * 6) / 10,
      s"PQ codes scan read $pqBytes bytes vs float $floatBytes — the " +
        "4x shrink did not materialize")
    // ...and the probe's results are still exact for the rescored set
    val pqTop = Similarity.probePersistedIvfPq(spark, densePq, dense,
      "embedding", "vec_id", qd, nprobe = 8, m = 2000, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val bruteD = Similarity.bruteForceTopK(dense, "embedding", "vec_id",
      qd, 5).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(pqTop == bruteD, s"full-m PQ probe diverged: $pqTop vs $bruteD")
    // append: assigns + quantizes, drift quality from TRUE embeddings
    val app = Similarity.appendToPersistedIvfPq(
      (100L to 109L).map(i => (i, oneHot(8 + (i % 8).toInt)))
        .toDF("vec_id", "embedding"),
      "embedding", "vec_id", cb, pqPath)
    assert(app.appended == 10 && app.retrainRecommended,
      s"orthogonal PQ cohort must flag drift: $app")
    assert(Versioned.read(spark, pqPath).count() == 90)
    // cross-guards: float paths refuse the PQ layout and vice versa,
    // and a lossy in-place retrain refuses with the rebuild pointer
    assert(intercept[IllegalArgumentException] {
      Similarity.probePersistedIvf(spark, pqPath, "embedding", "vec_id",
        oneHot(3), nprobe = 8, k = 5)
    }.getMessage.contains("probePersistedIvfPq"))
    assert(intercept[IllegalArgumentException] {
      Similarity.appendToPersistedIvf(corpus, "embedding", cb, pqPath)
    }.getMessage.contains("appendToPersistedIvfPq"))
    assert(intercept[IllegalArgumentException] {
      Similarity.probePersistedIvfPq(spark, floatPath, corpus,
        "embedding", "vec_id", oneHot(3), 8, 80, 5)
    }.getMessage.contains("probePersistedIvf"))
    assert(intercept[IllegalArgumentException] {
      Similarity.appendToPersistedIvfPq(corpus, "embedding", "vec_id",
        cb, floatPath)
    }.getMessage.contains("appendToPersistedIvf"))
    assert(intercept[IllegalArgumentException] {
      Similarity.retrainPersistedIvf(spark, pqPath, "embedding",
        "vec_id", nlist = 8)
    }.getMessage.contains("writePersistedIvfPq"))
  }

  test("persisted PRODUCT index: pruned probe bucket-prunes to the " +
    "probed cells' buckets and its codes scan reads below the int8 " +
    "codes scan for the same cells") {
    val rnd = new scala.util.Random(11)
    val dense = (1L to 2000L)
      .map(i => (i, Array.fill(64)(rnd.nextFloat() * 2f - 1f)))
      .toDF("vec_id", "embedding")
    val cbD = Similarity.buildCodebook(dense, "embedding", "vec_id", 8)
    val books = ProductQuant.train(dense, "embedding", "vec_id",
      numSub = 16, k = 64, iters = 1)
    val prodPath = tmpDir("prodplan") + "/index"
    val pqPath = tmpDir("prodplan8") + "/index"
    Similarity.writePersistedIvfProduct(dense, "embedding", "vec_id",
      cbD, books, prodPath)
    Similarity.writePersistedIvfPq(dense, "embedding", "vec_id", cbD,
      pqPath)
    val qd = dense.where($"vec_id" === 1L).select("embedding")
      .head().getSeq[Float](0).toArray
    val st = Similarity.loadPersistedIvf(spark, prodPath).get
    val cells = Similarity.probeCells(st.codebook, qd, 2)
    // plan-time bucket pruning: the codes scan's planned partitions
    // cover only the probed cells' buckets (the float path's layout
    // property, inherited unchanged by the scheme-2 rows)
    val codesScan = SnapshotScan.frameAt(spark, prodPath, st.version)
      .where($"list_id".isin(cells.toSeq: _*))
    codesScan.collect()
    val expected = cells.map(bucketOfLong(_, Similarity.ivfBuckets(8)))
      .toSet
    val read = scanBuckets(codesScan)
    assert(read.nonEmpty && read.subsetOf(expected),
      s"product codes scan read buckets $read, cells hash to $expected")
    // the compression term: product codes (16 B/vector) vs the int8
    // codes (64 B + scale) over the SAME cells — incompressible
    // corpus, footers shared, so the payload shrink must show
    def bytesOf(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect(); graft.tools.PlanMetrics.bytesRead(df)
    }
    val stPq = Similarity.loadPersistedIvf(spark, pqPath).get
    val prodBytes = bytesOf(codesScan)
    val pqBytes = bytesOf(
      SnapshotScan.frameAt(spark, pqPath, stPq.version)
        .where($"list_id".isin(cells.toSeq: _*)))
    assert(prodBytes > 0 && prodBytes < (pqBytes * 7) / 10,
      s"product codes scan read $prodBytes bytes vs int8 $pqBytes — " +
        "the sub-byte-per-dim shrink did not materialize")
    // and the two-stage probe at full m restores exact results
    val full = Similarity.probePersistedIvfProduct(spark, prodPath,
      dense, "embedding", "vec_id", qd, nprobe = 8, m = 2000, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val brute = Similarity.bruteForceTopK(dense, "embedding", "vec_id",
      qd, 5).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(full == brute, s"full-m product probe diverged: $full vs $brute")
  }

  test("batch probe ivfPqTopKMany: each query's top-k equals its " +
    "single two-stage probe at the same (nprobe, m) — pruned AND full " +
    "— the persisted form equals per-query probePersistedIvfPq, the " +
    "broadcast-join rescore path matches the isin path bit-for-bit, " +
    "and null queries / collisions / m<k behave") {
    def oneHot(axis: Int): Array[Float] =
      Array.tabulate(16)(d => if (d == axis) 1f else 0f)
    val corpus = (1L to 64L).map(i => (i, oneHot((i % 8).toInt)))
      .toDF("vec_id", "embedding")
    val cb = Similarity.buildCodebook(corpus, "embedding", "vec_id",
      nlist = 8)
    val pq = Similarity.ivfPqIndex(corpus, "embedding", "vec_id", cb)
    val queries = Seq(0, 3, 5, 7).map(a => (a.toLong, oneHot(a)))
      .toDF("qid", "qemb")
    def manyAsMap(frame: org.apache.spark.sql.DataFrame)
        : Map[Long, Seq[(Long, Double)]] =
      frame.collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    for (nprobe <- Seq(2, 8); m <- Seq(5, 64)) { // pruned/full × tight/wide
      val many = manyAsMap(Similarity.ivfPqTopKMany(pq, corpus,
        "embedding", "vec_id", queries, "qid", "qemb", cb, nprobe, m,
        k = 3))
      Seq(0, 3, 5, 7).foreach { a =>
        val single = Similarity.ivfPqTopK(pq, corpus, "embedding",
          "vec_id", oneHot(a), cb, nprobe, m, k = 3)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(many(a.toLong) == single,
          s"nprobe=$nprobe m=$m axis $a: ${many(a.toLong)} vs $single")
      }
    }
    // the rescore's two fetch paths (static isin point-fetch vs
    // broadcast semi-join) must be results-identical: force the join
    // path with a cap of 0 and compare against the literal path
    val viaJoin = manyAsMap(Similarity.ivfPqTopKMany(pq, corpus,
      "embedding", "vec_id", queries, "qid", "qemb", cb, 8, 10, 3,
      idLiteralCap = 0))
    val viaIsin = manyAsMap(Similarity.ivfPqTopKMany(pq, corpus,
      "embedding", "vec_id", queries, "qid", "qemb", cb, 8, 10, 3))
    assert(viaJoin == viaIsin, s"$viaJoin vs $viaIsin")
    // persisted form: codebook/codes/version off one pinned commit
    val path = tmpDir("ivfpqmany") + "/index"
    Similarity.writePersistedIvfPq(corpus, "embedding", "vec_id", cb,
      path)
    val manyP = manyAsMap(Similarity.probePersistedIvfPqMany(spark,
      path, corpus, "embedding", "vec_id", queries, "qid", "qemb",
      nprobe = 2, m = 10, k = 3))
    Seq(0, 3, 5, 7).foreach { a =>
      val single = Similarity.probePersistedIvfPq(spark, path, corpus,
        "embedding", "vec_id", oneHot(a), nprobe = 2, m = 10, k = 3)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(manyP(a.toLong) == single)
    }
    // a float index refuses the PQ batch probe by name
    val floatPath = tmpDir("ivfpqmanyf") + "/index"
    Similarity.writePersistedIvf(corpus, "embedding", cb, floatPath)
    assert(intercept[IllegalArgumentException] {
      Similarity.probePersistedIvfPqMany(spark, floatPath, corpus,
        "embedding", "vec_id", queries, "qid", "qemb", 2, 10, 3)
    }.getMessage.contains("probePersistedIvfMany"))
    // a null-embedding query row is DROPPED, not answered
    val withNull = queries.unionByName(
      Seq((99L, null.asInstanceOf[Array[Float]])).toDF("qid", "qemb"))
    assert(manyAsMap(Similarity.ivfPqTopKMany(pq, corpus, "embedding",
      "vec_id", withNull, "qid", "qemb", cb, 8, 10, 3))
      .keySet == Set(0L, 3L, 5L, 7L))
    // a wrong-dim query row FAILS LOUDLY in the PQ batch form too
    val wrongDimQ = queries.unionByName(
      Seq((98L, Array.fill(8)(0.5f))).toDF("qid", "qemb"))
    val dimE = intercept[Exception] {
      Similarity.ivfPqTopKMany(pq, corpus, "embedding", "vec_id",
        wrongDimQ, "qid", "qemb", cb, 2, 10, 3).collect()
    }
    val dimM = Iterator.iterate(dimE: Throwable)(_.getCause)
      .takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(dimM.contains("dim") && dimM.contains("8"), dimM)
    // collisions refuse on all three frames: query vs reserved, index
    // vs query/internal, source vs query/internal
    assert(intercept[IllegalArgumentException] {
      Similarity.ivfPqTopKMany(pq, corpus, "embedding", "vec_id",
        queries.withColumnRenamed("qemb", "PQ_CODE"), "qid", "PQ_CODE",
        cb, 2, 10, 3)
    }.getMessage.contains("collide"))
    assert(intercept[IllegalArgumentException] {
      Similarity.ivfPqTopKMany(pq.withColumn("qid", lit(1L)), corpus,
        "embedding", "vec_id", queries, "qid", "qemb", cb, 2, 10, 3)
    }.getMessage.contains("collide"))
    assert(intercept[IllegalArgumentException] {
      Similarity.ivfPqTopKMany(pq, corpus.withColumn("Score", lit(1)),
        "embedding", "vec_id", queries, "qid", "qemb", cb, 2, 10, 3)
    }.getMessage.contains("collide"))
    assert(intercept[IllegalArgumentException] {
      Similarity.ivfPqTopKMany(pq, corpus, "embedding", "vec_id",
        queries, "qid", "qemb", cb, 2, m = 2, k = 3)
    }.getMessage.contains("m=2"))
  }

  test("drift floor: a cohort orthogonal-or-worse to EVERY centroid " +
    "fires even against a LOOSE baseline — where the relative 2x rule " +
    "is geometrically unreachable (build meanSim < 0.5 demands a " +
    "cohort sim below what spread centroids admit)") {
    // the rule in isolation: loose baseline b = 0.25 puts the relative
    // threshold at cohort sim <= -0.5 — unreachable; the floor fires
    // exactly on anti-correlated cohorts and nothing milder
    val loose = Similarity.IvfStats(100, 0.25)
    assert(!Similarity.IvfAppend(10, 0.10, loose).retrainRecommended,
      "mildly-degraded cohort must stay silent on a loose baseline")
    assert(Similarity.IvfAppend(10, -0.05, loose).retrainRecommended,
      "anti-correlated cohort must fire via the floor")
    assert(!Similarity.IvfAppend(0, -1.0, loose).retrainRecommended,
      "empty cohort never fires")
    assert(!Similarity.IvfAppend(10, -1.0, Similarity.IvfStats(0, 0.0))
      .retrainRecommended, "unarmed baseline never justifies a verdict")
    // end-to-end: all-ones build rows against one-hot axis centroids
    // assign at cos 1/4 = a 0.25 baseline; the NEGATED cohort assigns
    // at -0.25 — the relative rule needs <= -0.5 (silent), the floor
    // fires, and the in-distribution cohort stays silent
    val axes = Similarity.IvfCodebook((0L until 8L).map(a =>
      (a, Array.tabulate(16)(d => if (d == a) 1.0 else 0.0))).toArray)
    val ones = Array.fill(16)(1f)
    val anti = Array.fill(16)(-1f)
    val build = (1L to 40L).map(i => (i, ones)).toDF("vec_id", "embedding")
    val path = tmpDir("ivffloor") + "/index"
    val baseline = Similarity.writePersistedIvf(build, "embedding", axes,
      path)
    assert(math.abs(baseline.meanSim - 0.25) < 1e-9, s"$baseline")
    assert(!Similarity.appendToPersistedIvf(
      (100L to 109L).map(i => (i, ones)).toDF("vec_id", "embedding"),
      "embedding", axes, path).retrainRecommended,
      "in-distribution cohort flagged on the loose baseline")
    val app = Similarity.appendToPersistedIvf(
      (200L to 209L).map(i => (i, anti)).toDF("vec_id", "embedding"),
      "embedding", axes, path)
    assert(math.abs(app.meanSim + 0.25) < 1e-9 && app.retrainRecommended,
      s"anti-correlated cohort must fire via the floor: $app")
    // a NO-EVIDENCE cohort (every assignment sim null — zero-norm
    // embeddings) renders NO verdict: its quality is NaN, not the 0.0
    // that would trip the absolute floor and retrain a healthy index
    // off one garbage batch
    assert(!Similarity.IvfAppend(10, Double.NaN, loose)
      .retrainRecommended, "NaN cohort fired the floor")
    val zeros = (300L to 309L).map(i => (i, Array.fill(16)(0f)))
      .toDF("vec_id", "embedding")
    val degenerate = Similarity.appendToPersistedIvf(zeros, "embedding",
      axes, path)
    assert(degenerate.meanSim.isNaN && !degenerate.retrainRecommended,
      s"zero-norm cohort must render no verdict: $degenerate")
    // ...and a NaN cohort never RE-SEEDS an unarmed baseline: on a
    // fresh index the first measurable cohort arms it, not the garbage
    val fresh = tmpDir("ivfnanseed") + "/index"
    Similarity.ensurePersistedIvf(zeros, "embedding", axes, fresh)
    Similarity.appendToPersistedIvf(zeros, "embedding", axes, fresh)
    val afterNaN = Similarity.loadPersistedIvf(spark, fresh).get.baseline
    assert(afterNaN.vectors == 0,
      s"NaN cohort re-seeded the baseline: $afterNaN")
    Similarity.appendToPersistedIvf(
      (400L to 409L).map(i => (i, ones)).toDF("vec_id", "embedding"),
      "embedding", axes, fresh)
    val armed = Similarity.loadPersistedIvf(spark, fresh).get.baseline
    assert(armed.vectors == 10 && math.abs(armed.meanSim - 0.25) < 1e-9,
      s"first measurable cohort did not arm the baseline: $armed")
  }

  test("retrainPersistedIvf closes the drift loop IN PLACE: the rebuilt " +
    "codebook covers the shifted mass, the baseline resets, a stale " +
    "codebook refuses, old versions stay probe-able, and the full " +
    "probe stays exact") {
    def oneHot(axis: Int): Array[Float] =
      Array.tabulate(16)(d => if (d == axis) 1f else 0f)
    // build corpus on axes 0-7 with ids 9-88: the 8 seeds (ids 9-16)
    // cover its axes exactly — baseline 1.0
    val build = (9L to 88L).map(i => (i, oneHot((i % 8).toInt)))
      .toDF("vec_id", "embedding")
    val cb = Similarity.buildCodebook(build, "embedding", "vec_id",
      nlist = 8)
    val path = tmpDir("ivfretrain") + "/index"
    assert(math.abs(Similarity
      .writePersistedIvf(build, "embedding", cb, path).meanSim - 1.0) < 1e-9)
    // drifted cohort on axes 8-15 with ids 1-8 — orthogonal to every
    // cell: flags retrain
    val shifted = (1L to 8L).map(i => (i, oneHot(8 + (i % 8).toInt)))
      .toDF("vec_id", "embedding")
    assert(Similarity.appendToPersistedIvf(shifted, "embedding", cb, path)
      .retrainRecommended)
    val preRetrainV = Versioned.versions(spark, path).max
    // retrain IN PLACE over everything the index holds, at nlist 16:
    // the new seeds (lowest 16 ids = the shifted 1-8 + build 9-16)
    // cover ALL 16 axes, so the union assigns at exactly 1.0 again —
    // the overwrite commit IS the swap
    val (cb2, stats2) = Similarity.retrainPersistedIvf(spark, path,
      "embedding", "vec_id", nlist = 16)
    assert(stats2.vectors == 88 && math.abs(stats2.meanSim - 1.0) < 1e-9,
      s"retrained baseline must reset to 1.0: $stats2")
    assert(Similarity.loadPersistedIvf(spark, path)
      .exists(st => st.fingerprint == Similarity.fingerprint(cb2) &&
        st.buckets == Similarity.ivfBuckets(16) && st.baseline == stats2))
    // the OLD codebook is stale now: appends and probes holding it
    // refuse instead of silently mis-routing
    assert(intercept[IllegalArgumentException] {
      Similarity.appendToPersistedIvf(shifted, "embedding", cb, path)
    }.getMessage.contains("fingerprint"))
    // the cohort class that drifted the OLD codebook is in-distribution
    // for the new one
    val again = (200L to 207L).map(i => (i, oneHot(8 + (i % 8).toInt)))
      .toDF("vec_id", "embedding")
    assert(!Similarity.appendToPersistedIvf(again, "embedding", cb2, path)
      .retrainRecommended)
    // and the retrained index is still exact under a full probe — via
    // the no-codebook probe (the handoff surface: nobody had to be
    // told about the retrain)
    val q = oneHot(12)
    val probed = Similarity.probePersistedIvf(spark, path, "embedding",
      "vec_id", q, nprobe = 16, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val brute = Similarity.bruteForceTopK(
      build.unionByName(shifted).unionByName(again), "embedding",
      "vec_id", q, 5).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(probed.toSeq == brute.toSeq)
    // time travel: the pre-retrain snapshot is still readable (a live
    // probe pinned to it mid-retrain reads consistent old data)
    assert(Versioned.read(spark, path, Some(preRetrainV)).count() == 88)
  }

  test("fingerprint is deterministic and text-sensitive") {
    val fps = docs.limit(10)
      .select(TextFunctions.fingerprint($"text").as("fp")).as[Long].collect()
    val fps2 = docs.limit(10)
      .select(TextFunctions.fingerprint($"text").as("fp")).as[Long].collect()
    assert(fps.toSeq == fps2.toSeq)
    assert(fps.distinct.length > 1)
  }

  test("multimodal: media schema + feature extraction shape") {
    val media = Multimodal.asMediaTable(docs.limit(10))
    assert(media.schema.fieldNames.toSeq ==
      Seq("doc_id", "payload", "media_type", "meta"))
    val feats = Multimodal.extractFeatures(media)
    assert(feats.count() == 10)
    val r = feats.head()
    assert(r.getSeq[Double](r.fieldIndex("feature")).size == 4)
    val frames = Multimodal.sampleFrames(media, 2)
    assert(frames.count() > 0)
  }
}

/** Shared mutable state for the non-determinism probe above — a
  * static cell so executor-thread udf invocations (local[n], one JVM)
  * all advance one counter. */
object OperatorSpec {
  val evalCounter = new java.util.concurrent.atomic.AtomicInteger(0)
}
