package graft.streaming

import graft.SparkSpec
import graft.operators.{Similarity, Versioned}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The streaming ANN ingest (graft.streaming.AnnIngest) on the r16
  * snapshot layout: replay idempotence via the carried `txn.anningest`
  * commit-meta ledger, drift detection against the
  * commit-meta baseline, retrain handoff by construction (batches
  * assign under the COMMITTED codebook), legacy-layout refusal, and
  * checkpoint-restart convergence through a real stop/start. */
class AnnIngestSpec extends SparkSpec {
  import spark.implicits._

  /** One-hot 16-dim vectors: closed-form cosines (1 on the same axis,
    * 0 across axes), and the 8 lowest ids cover axes 0-7 so the seed
    * codebook assigns the build cohort at sim 1.0 exactly. */
  private def oneHot(axis: Int): Array[Float] =
    Array.tabulate(16)(d => if (d == axis) 1f else 0f)

  private def vecs(rows: (Long, Int)*): DataFrame =
    rows.map { case (id, a) => (id, oneHot(a)) }.toDF("vec_id", "embedding")

  private def baselineOf(path: String): Similarity.IvfStats =
    Similarity.loadPersistedIvf(spark, path).get.baseline

  private def applied(path: String): Option[Long] =
    Versioned.txnVersion(spark, path, AnnIngest.AppId)

  test("replay skips via the commit ledger: same batch id twice leaves " +
    "the index, the version chain and the baseline unchanged — a " +
    "snapshot append replayed blindly would duplicate the vectors") {
    val path = tmpDir("annreplay") + "/ivf"
    val b0 = vecs((1L to 8L).map(i => (i, (i % 8).toInt)): _*)
    val cb = Similarity.buildCodebook(b0, "embedding", "vec_id", nlist = 8)
    val first = AnnIngest.processBatch(b0, 0L, "embedding", cb, path)
    assert(!first.replayed && first.appended == 8 &&
      !first.retrainRecommended)
    val vs = Versioned.versions(spark, path).sorted
    val rows = Versioned.read(spark, path)
      .select($"vec_id", $"list_id").as[(Long, Long)].collect().toSet
    assert(rows.map(_._1) == (1L to 8L).toSet)
    val base = baselineOf(path)
    val replay = AnnIngest.processBatch(b0, 0L, "embedding", cb, path)
    assert(replay.replayed && replay.appended == -1)
    assert(Versioned.versions(spark, path).sorted == vs,
      "replay committed a version")
    assert(Versioned.read(spark, path)
      .select($"vec_id", $"list_id").as[(Long, Long)].collect().toSet
      == rows, "replay changed the index contents")
    assert(baselineOf(path) == base, "replay changed the drift baseline")
    assert(applied(path).contains(0L))
  }

  test("drift: the first non-empty batch seeds the baseline (an EMPTY " +
    "first batch never does); an orthogonal later batch flags " +
    "retrainRecommended, an in-distribution one does not") {
    val path = tmpDir("anndrift") + "/ivf"
    val b0 = vecs((1L to 16L).map(i => (i, (i % 8).toInt)): _*)
    val cb = Similarity.buildCodebook(b0, "embedding", "vec_id", nlist = 8)
    // batch 0 delivers zero rows: an armed IvfStats(0, 0.0) baseline
    // would set the drift threshold at meanSim <= -1, silencing the
    // flag for the stream's lifetime — the seed's zero-vector baseline
    // must never justify a verdict
    assert(AnnIngest.processBatch(b0.limit(0), 0L, "embedding", cb, path)
      .appended == 0)
    assert(baselineOf(path).vectors == 0,
      "empty batch must not arm the baseline")
    assert(!AnnIngest.processBatch(b0, 1L, "embedding", cb, path)
      .retrainRecommended)
    assert {
      val b = baselineOf(path)
      b.vectors == 16 && math.abs(b.meanSim - 1.0) < 1e-9
    }
    assert(!AnnIngest.processBatch(
      vecs((100L to 107L).map(i => (i, (i % 8).toInt)): _*),
      2L, "embedding", cb, path).retrainRecommended)
    val shifted = AnnIngest.processBatch(
      vecs((200L to 207L).map(i => (i, 8 + (i % 8).toInt)): _*),
      3L, "embedding", cb, path)
    assert(shifted.retrainRecommended, s"orthogonal batch silent: $shifted")
  }

  test("retrain handoff by construction: an in-place retrain lands " +
    "mid-stream and the NEXT batch assigns under the retrained " +
    "codebook with no operator intervention; the seed codebook is " +
    "never trusted again") {
    val path = tmpDir("annretrain") + "/ivf"
    val b0 = vecs((9L to 16L).map(i => (i, (i % 8).toInt)): _*)
    val cb = Similarity.buildCodebook(b0, "embedding", "vec_id", nlist = 8)
    assert(AnnIngest.processBatch(b0, 0L, "embedding", cb, path)
      .appended == 8)
    // drifted cohort arrives, flags retrain
    val drifted = vecs((1L to 8L).map(i => (i, 8 + (i % 8).toInt)): _*)
    assert(AnnIngest.processBatch(drifted, 1L, "embedding", cb, path)
      .retrainRecommended)
    // the operator retrains IN PLACE (nlist 16 covers all axes now)
    val (cb2, stats2) = Similarity.retrainPersistedIvf(spark, path,
      "embedding", "vec_id", nlist = 16)
    assert(math.abs(stats2.meanSim - 1.0) < 1e-9)
    // the stream keeps running with its ORIGINAL seed codebook object:
    // the next batch must assign under cb2 (resolved from the commit),
    // so the same cohort class no longer flags drift
    val next = AnnIngest.processBatch(
      vecs((300L to 307L).map(i => (i, 8 + (i % 8).toInt)): _*),
      2L, "embedding", cb, path)
    assert(!next.replayed && !next.retrainRecommended,
      s"post-retrain batch still assigned under the stale codebook: $next")
    assert(math.abs(next.meanSim - 1.0) < 1e-9, s"$next")
    // and the full probe over seed+drift+post-retrain rows is exact
    val q = oneHot(12)
    val all = b0.unionByName(drifted).unionByName(
      vecs((300L to 307L).map(i => (i, 8 + (i % 8).toInt)): _*))
    val probed = Similarity.probePersistedIvf(spark, path, "embedding",
      "vec_id", q, nprobe = 16, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val brute = Similarity.bruteForceTopK(all, "embedding", "vec_id", q, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(probed.toSeq == brute.toSeq)
  }

  test("auto-retrain handoff: drift fires mid-stream and the SINK " +
    "retrains in place — probes pinned before the retrain read the old " +
    "(version, codebook, data) triple, the next probe resolves the new " +
    "one, and the re-seeded baseline stops the same class re-firing") {
    val path = tmpDir("annauto") + "/ivf"
    val policy = Some(AnnIngest.AutoRetrain("vec_id", nlist = 16))
    val b0 = vecs((1L to 8L).map(i => (i, (i % 8).toInt)): _*)
    val cb = Similarity.buildCodebook(b0, "embedding", "vec_id", nlist = 8)
    val first = AnnIngest.processBatch(b0, 0L, "embedding", cb, path, policy)
    assert(!first.retrainRecommended && !first.retrained)
    val stOld = Similarity.loadPersistedIvf(spark, path).get
    // the drifted cohort: the flag fires AND the sink retrains itself
    val drifted = vecs((200L to 207L).map(i => (i, 8 + (i % 8).toInt)): _*)
    val hit = AnnIngest.processBatch(drifted, 1L, "embedding", cb, path,
      policy)
    assert(hit.retrainRecommended && hit.retrained, s"$hit")
    val stNew = Similarity.loadPersistedIvf(spark, path).get
    assert(stNew.fingerprint != stOld.fingerprint &&
      stNew.codebook.entries.length == 16 &&
      stNew.version > stOld.version,
      s"retrain did not land: $stOld -> $stNew")
    // exactly ONE commit past the batch-1 append: seed, b0, b1, retrain
    assert(Versioned.versions(spark, path).sorted.length == 4)
    // old-then-new atomicity: a probe pinned BEFORE the retrain reads
    // the old snapshot under the old codebook — internally consistent
    // (it equals brute force over exactly the rows that version held)
    val q = oneHot(3)
    val oldProbe = Similarity.ivfTopK(
      graft.operators.SnapshotScan.frameAt(spark, path, stOld.version),
      "embedding", "vec_id", q, stOld.codebook, nprobe = 8, k = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val oldBrute = Similarity.bruteForceTopK(b0, "embedding", "vec_id",
      q, 3).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(oldProbe.toSeq == oldBrute.toSeq)
    // ...and a fresh probe resolves the retrained triple: exact over
    // EVERYTHING ingested, including the drifted cohort the old
    // codebook could not cell apart
    val q2 = oneHot(12)
    val newProbe = Similarity.probePersistedIvf(spark, path, "embedding",
      "vec_id", q2, nprobe = 16, k = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val newBrute = Similarity.bruteForceTopK(b0.unionByName(drifted),
      "embedding", "vec_id", q2, 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(newProbe.toSeq == newBrute.toSeq)
    // the retrain re-seeded the baseline over the whole corpus, so the
    // same shifted class is in-distribution now: no re-fire, no loop
    val again = AnnIngest.processBatch(
      vecs((300L to 307L).map(i => (i, 8 + (i % 8).toInt)): _*),
      2L, "embedding", cb, path, policy)
    assert(!again.retrainRecommended && !again.retrained, s"$again")
    assert(math.abs(again.meanSim - 1.0) < 1e-9, s"$again")
    // without a policy the flag still only WARNs (the pre-r16 contract)
    val manual = tmpDir("annmanual") + "/ivf"
    AnnIngest.processBatch(b0, 0L, "embedding", cb, manual)
    val warned = AnnIngest.processBatch(drifted, 1L, "embedding", cb,
      manual)
    assert(warned.retrainRecommended && !warned.retrained)
    assert(Similarity.loadPersistedIvf(spark, manual).get.fingerprint ==
      Similarity.fingerprint(cb), "no-policy sink retrained anyway")
  }

  test("auto-retrain preserves the FULL batch schema: an index whose " +
    "streamed batches carry extra columns is not narrowed by the " +
    "retrain, so the next micro-batch's append-schema check passes " +
    "instead of crashing the stream") {
    val path = tmpDir("annwide") + "/ivf"
    val policy = Some(AnnIngest.AutoRetrain("vec_id", nlist = 16))
    def wide(rows: (Long, Int)*): DataFrame =
      vecs(rows: _*).withColumn("source", concat(lit("shard-"),
        $"vec_id" % 4))
    val b0 = wide((1L to 8L).map(i => (i, (i % 8).toInt)): _*)
    val cb = Similarity.buildCodebook(b0, "embedding", "vec_id", nlist = 8)
    assert(!AnnIngest.processBatch(b0, 0L, "embedding", cb, path, policy)
      .retrained)
    val hit = AnnIngest.processBatch(
      wide((200L to 207L).map(i => (i, 8 + (i % 8).toInt)): _*),
      1L, "embedding", cb, path, policy)
    assert(hit.retrainRecommended && hit.retrained, s"$hit")
    // the retrained index still carries the payload column, row-correct
    val post = Versioned.read(spark, path)
    assert(post.columns.contains("source"),
      s"retrain narrowed the schema to ${post.columns.mkString(",")}")
    assert(post.where($"source" === "shard-1").count() ==
      post.select("vec_id").where($"vec_id" % 4 === 1).count())
    // the NEXT batch appends against the retrained index — this is the
    // line that crashed with requireAppendSchema before the fix
    val next = AnnIngest.processBatch(wide(300L -> 9), 2L, "embedding",
      cb, path, policy)
    assert(!next.replayed && next.appended == 1, s"$next")
    assert(Versioned.read(spark, path).where($"vec_id" === 300L)
      .select("source").head().getString(0) == "shard-0")
  }

  test("PQ streaming ingest: batches assign on true embeddings and " +
    "append int8 codes under the ledger; replay skips; the full PQ " +
    "probe over everything streamed equals brute force; drift still " +
    "WARNs from pre-quantization sims; AutoRetrain + PQ refuses at " +
    "construction; layout mismatches refuse by name") {
    val path = tmpDir("annpq") + "/ivf"
    val b0 = vecs((1L to 16L).map(i => (i, (i % 8).toInt)): _*)
    val cb = Similarity.buildCodebook(b0, "embedding", "vec_id", nlist = 8)
    val pq = Some("vec_id")
    val o0 = AnnIngest.processBatch(b0, 0L, "embedding", cb, path,
      pqId = pq)
    assert(!o0.replayed && o0.appended == 16 &&
      math.abs(o0.meanSim - 1.0) < 1e-9, s"$o0")
    // the index holds CODES, not embeddings
    assert(Versioned.read(spark, path).columns.toSet ==
      Set("vec_id", "list_id", "pq_scale", "pq_code"))
    val b1 = vecs((100L to 107L).map(i => (i, (i % 8).toInt)): _*)
    assert(!AnnIngest.processBatch(b1, 1L, "embedding", cb, path,
      pqId = pq).replayed)
    // replay skips via the ledger, exactly like the float stream
    assert(AnnIngest.processBatch(b1, 1L, "embedding", cb, path,
      pqId = pq).replayed)
    // full PQ probe (m covers everything) == brute force over the union
    val q = oneHot(5)
    val probed = Similarity.probePersistedIvfPq(spark, path,
      b0.unionByName(b1), "embedding", "vec_id", q, nprobe = 8,
      m = 24, k = 6).collect().map(r => (r.getLong(0), r.getDouble(1)))
    val brute = Similarity.bruteForceTopK(b0.unionByName(b1),
      "embedding", "vec_id", q, 6)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(probed.toSeq == brute.toSeq, s"${probed.toSeq} vs ${brute.toSeq}")
    // drift detection is quantization-independent: an orthogonal
    // cohort flags (true-embedding sims), but nothing retrains
    val drifted = AnnIngest.processBatch(
      vecs((200L to 207L).map(i => (i, 8 + (i % 8).toInt)): _*),
      2L, "embedding", cb, path, pqId = pq)
    assert(drifted.retrainRecommended && !drifted.retrained, s"$drifted")
    // AutoRetrain cannot compose with a lossy-codes index: refuse at
    // sink construction AND at processBatch
    assert(intercept[IllegalArgumentException] {
      AnnIngest.sink("embedding", cb, path,
        autoRetrain = Some(AnnIngest.AutoRetrain("vec_id")), pqId = pq)
    }.getMessage.contains("lossy"))
    assert(intercept[IllegalArgumentException] {
      AnnIngest.processBatch(b1, 3L, "embedding", cb, path,
        Some(AnnIngest.AutoRetrain("vec_id")), None, pq)
    }.getMessage.contains("lossy"))
    // a float stream pointed at the PQ index refuses by name, and a
    // PQ stream pointed at a float index refuses by name
    assert(intercept[IllegalArgumentException] {
      AnnIngest.processBatch(vecs(300L -> 3), 3L, "embedding", cb, path)
    }.getMessage.contains("float ingest"))
    val floatPath = tmpDir("annpqf") + "/ivf"
    AnnIngest.processBatch(b0, 0L, "embedding", cb, floatPath)
    assert(intercept[IllegalArgumentException] {
      AnnIngest.processBatch(vecs(300L -> 3), 1L, "embedding", cb,
        floatPath, pqId = pq)
    }.getMessage.contains("float IVF index"))
  }

  test("auto-rebuild closes the PQ drift loop: a drifted batch fires " +
    "the flag and the SINK rebuilds the quantized index in place from " +
    "the SOURCE table's true embeddings — fresh codebook, descriptor-" +
    "resolved full probe equals brute force over everything streamed, " +
    "baseline re-seeded so the same class stops re-firing; the policy " +
    "refuses without pqId") {
    val path = tmpDir("annrebuild") + "/ivf"
    val pq = Some("vec_id")
    val b0 = vecs((1L to 8L).map(i => (i, (i % 8).toInt)): _*)
    val drifted = vecs((200L to 207L).map(i => (i, 8 + (i % 8).toInt)): _*)
    // the source table the probes rescore against — by contract it
    // covers everything streamed; the spec accumulates it alongside
    var source: DataFrame = b0
    val policy = Some(AnnIngest.AutoRebuild(_ => source, "vec_id",
      nlist = 16))
    val cb = Similarity.buildCodebook(b0, "embedding", "vec_id", nlist = 8)
    val first = AnnIngest.processBatch(b0, 0L, "embedding", cb, path,
      pqId = pq, autoRebuild = policy)
    assert(!first.retrainRecommended && !first.retrained, s"$first")
    val stOld = Similarity.loadPersistedIvf(spark, path).get
    assert(stOld.pq)
    // the drifted cohort: the flag fires AND the sink rebuilds from
    // the source — which must already contain the cohort (the stream
    // lands vectors in the source before/alongside the index)
    source = b0.unionByName(drifted)
    val hit = AnnIngest.processBatch(drifted, 1L, "embedding", cb, path,
      pqId = pq, autoRebuild = policy)
    assert(hit.retrainRecommended && hit.retrained, s"$hit")
    val stNew = Similarity.loadPersistedIvf(spark, path).get
    assert(stNew.pq && stNew.fingerprint != stOld.fingerprint &&
      stNew.codebook.entries.length == 16 &&
      stNew.version > stOld.version,
      s"rebuild did not land: $stOld -> $stNew")
    // the rebuilt index still holds CODES, and a fresh probe resolves
    // the new (version, codebook, codes) triple: exact over EVERYTHING
    // streamed, including the drifted class the old codebook could not
    // cell apart
    assert(Versioned.read(spark, path).columns.toSet ==
      Set("vec_id", "list_id", "pq_scale", "pq_code"))
    val q2 = oneHot(12)
    val probed = Similarity.probePersistedIvfPq(spark, path, source,
      "embedding", "vec_id", q2, nprobe = 16, m = 16, k = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val brute = Similarity.bruteForceTopK(source, "embedding", "vec_id",
      q2, 3).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(probed.toSeq == brute.toSeq,
      s"${probed.toSeq} vs ${brute.toSeq}")
    // the ledger survived the foreign rebuild commit: a replay of
    // batch 1 skips
    assert(AnnIngest.processBatch(drifted, 1L, "embedding", cb, path,
      pqId = pq, autoRebuild = policy).replayed)
    // re-seeded baseline: the same shifted class is in-distribution
    // now — no re-fire, no rebuild loop
    val again = vecs((300L to 307L).map(i => (i, 8 + (i % 8).toInt)): _*)
    source = source.unionByName(again)
    val o2 = AnnIngest.processBatch(again, 2L, "embedding", cb, path,
      pqId = pq, autoRebuild = policy)
    assert(!o2.retrainRecommended && !o2.retrained, s"$o2")
    assert(math.abs(o2.meanSim - 1.0) < 1e-9, s"$o2")
    // the policy only composes with pqId: refuse at sink construction
    // AND at processBatch
    assert(intercept[IllegalArgumentException] {
      AnnIngest.sink("embedding", cb, path, autoRebuild = policy)
    }.getMessage.contains("pqId"))
    assert(intercept[IllegalArgumentException] {
      AnnIngest.processBatch(b0, 3L, "embedding", cb, path,
        autoRebuild = policy)
    }.getMessage.contains("pqId"))
    // and the manual surface refuses a float index by name
    val floatPath = tmpDir("annrebuildf") + "/ivf"
    AnnIngest.processBatch(b0, 0L, "embedding", cb, floatPath)
    assert(intercept[IllegalArgumentException] {
      Similarity.rebuildPersistedIvfPq(spark, floatPath, b0,
        "embedding", "vec_id", nlist = 8)
    }.getMessage.contains("retrainPersistedIvf"))
  }

  test("vacuum on the index cannot erase the replay ledger (every " +
    "commit carries it forward); a legacy plain-dir layout refuses up " +
    "front") {
    val path = tmpDir("annvacuum") + "/ivf"
    val b0 = vecs((1L to 8L).map(i => (i, (i % 8).toInt)): _*)
    val cb = Similarity.buildCodebook(b0, "embedding", "vec_id", nlist = 8)
    AnnIngest.processBatch(b0, 0L, "embedding", cb, path)
    AnnIngest.processBatch(vecs(100L -> 1), 1L, "embedding", cb, path)
    // a foreign batch append lands on top, then retention sweeps every
    // version below it — every manifest the stream committed
    Similarity.appendToPersistedIvf(vecs(200L -> 2), "embedding",
      Similarity.loadPersistedIvf(spark, path).get.codebook, path)
    Versioned.vacuum(spark, path, keepLast = 1)
    val survivor = Versioned.versions(spark, path)
    assert(survivor.size == 1,
      "precondition: vacuum erased every manifest the stream committed")
    assert(Versioned.readMeta(spark, path, survivor.head)
      .get(Versioned.txnKey(AnnIngest.AppId)).contains("1"),
      "the foreign append did not carry the ledger")
    assert(applied(path).contains(1L))
    assert(AnnIngest.processBatch(vecs(100L -> 1), 1L, "embedding", cb,
      path).replayed, "post-vacuum replay double-applied")
    // a NEW batch still proceeds
    assert(!AnnIngest.processBatch(vecs(300L -> 3), 2L, "embedding", cb,
      path).replayed)

    // plain-dir layouts refuse before any commit: the batch= shape and
    // the plain list_id= build shape alike
    val legacyBatch = tmpDir("annlegacy") + "/ivf"
    Similarity.ivfAssign(b0, "embedding", cb)
      .write.partitionBy("list_id").parquet(s"$legacyBatch/batch=0")
    assert(intercept[IllegalStateException] {
      AnnIngest.processBatch(vecs(400L -> 4), 0L, "embedding", cb,
        legacyBatch)
    }.getMessage.contains("writePersistedIvf"))
    val legacyPlain = tmpDir("annlegacy2") + "/ivf"
    Similarity.ivfAssign(b0, "embedding", cb)
      .write.partitionBy("list_id").parquet(legacyPlain)
    assert(intercept[IllegalStateException] {
      AnnIngest.processBatch(vecs(400L -> 4), 0L, "embedding", cb,
        legacyPlain)
    }.getMessage.contains("writePersistedIvf"))
  }

  test("maintenance composition: threshold COMPACT folds a night of " +
    "streamed appends into the declared bucket layout — the IVF " +
    "descriptor and the replay ledger survive the foreign commit, the " +
    "full probe stays exact, and the stream keeps appending") {
    val path = tmpDir("anncompact") + "/ivf"
    val cb = Similarity.buildCodebook(
      vecs((1L to 8L).map(i => (i, (i % 8).toInt)): _*),
      "embedding", "vec_id", nlist = 8)
    // four streamed batches: one small file per non-empty bucket per
    // batch — the shape a night of micro-batches leaves behind
    (0 until 4).foreach { b =>
      AnnIngest.processBatch(
        vecs((1L to 8L).map(i => (b * 100L + i, (i % 8).toInt)): _*),
        b.toLong, "embedding", cb, path)
    }
    val before = Versioned.versionFiles(spark, path).size
    val fpBefore = Similarity.loadPersistedIvf(spark, path).get.fingerprint
    val res = Versioned.compactSmall(spark, path, minBytes = 1000000L)
    assert(res.isDefined, "nothing compacted")
    assert(Versioned.versionFiles(spark, path).size < before,
      s"file count did not drop from $before")
    // the compaction commit carries NO ivf descriptor (the descriptor
    // read skips over it) but does carry the ledger forward
    val st = Similarity.loadPersistedIvf(spark, path).get
    assert(st.fingerprint == fpBefore && st.buckets ==
      Similarity.ivfBuckets(8),
      s"descriptor lost to the foreign compaction commit: $st")
    assert(applied(path).contains(3L),
      "replay ledger lost to the foreign compaction commit")
    assert(AnnIngest.processBatch(vecs(999L -> 1), 3L, "embedding", cb,
      path).replayed, "post-compaction replay was re-applied")
    // probe exactness over everything, against the compacted files
    val q = oneHot(5)
    val all = (0 until 4).flatMap(b => (1L to 8L).map(i =>
      (b * 100L + i, (i % 8).toInt)))
    val probed = Similarity.probePersistedIvf(spark, path, "embedding",
      "vec_id", q, nprobe = 8, k = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val brute = Similarity.bruteForceTopK(vecs(all: _*), "embedding",
      "vec_id", q, 4).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(probed.toSeq == brute.toSeq)
    // and the stream keeps going: a NEW batch CAS-appends on top of
    // the compaction version under the carried bucket declaration
    assert(!AnnIngest.processBatch(vecs(500L -> 2), 4L, "embedding", cb,
      path).replayed)
    assert(applied(path).contains(4L))
  }

  test("auto-retrain through a REAL stream: a drifted commit arrives on " +
    "the change feed, the foreachBatch sink flags and retrains in " +
    "place mid-stream, and the post-stream probe resolves the " +
    "retrained codebook exactly") {
    val base = tmpDir("annautostream")
    val table = s"$base/vecs"
    val idx = s"$base/ivf"
    val b0 = vecs((1L to 16L).map(i => (i, (i % 8).toInt)): _*)
    val drifted = vecs((200L to 215L).map(i => (i, 8 + (i % 8).toInt)): _*)
    val cb = Similarity.buildCodebook(b0, "embedding", "vec_id", nlist = 8)
    def start() = spark.readStream.format("graft-changes")
      .option("path", table).load()
      .writeStream
      .foreachBatch(AnnIngest.sink("embedding", cb, idx,
        Some(AnnIngest.AutoRetrain("vec_id", nlist = 16))))
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("update").start()
    Versioned.commit(b0.coalesce(1), table) // v0: in-distribution
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    val st0 = Similarity.loadPersistedIvf(spark, idx).get
    assert(st0.fingerprint == Similarity.fingerprint(cb),
      "in-distribution batch must not retrain")
    // the drifted cohort lands on the FEED, not via processBatch — the
    // sink itself must close the loop inside the running stream
    Versioned.commit(drifted.coalesce(1), table, "append") // v1
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val st1 = Similarity.loadPersistedIvf(spark, idx).get
    assert(st1.fingerprint != st0.fingerprint &&
      st1.codebook.entries.length == 16,
      s"stream did not auto-retrain: $st0 -> $st1")
    val q = oneHot(12)
    val probed = Similarity.probePersistedIvf(spark, idx, "embedding",
      "vec_id", q, nprobe = 16, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val brute = Similarity.bruteForceTopK(b0.unionByName(drifted),
      "embedding", "vec_id", q, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(probed.toSeq == brute.toSeq)
    // the retrained codebook must actually COVER the drifted mass —
    // an exhaustive probe is exact for ANY codebook, so assert with a
    // PRUNED one: a drifted-axis query's nearest cells contain drifted
    // vectors (this is what AutoRetrain's default Lloyd pass buys;
    // seeds alone are all pre-drift rows and would leave the arrived
    // mass cell-less, re-firing the flag forever)
    val pruned = Similarity.probePersistedIvf(spark, idx, "embedding",
      "vec_id", q, nprobe = 2, k = 3)
      .collect().map(_.getLong(0))
    assert(pruned.nonEmpty && pruned.exists(_ >= 200L),
      s"pruned probe found no drifted vector post-retrain: " +
        s"${pruned.toSeq}")
  }

  test("checkpoint-restart through a real stream: the full probe of the " +
    "streamed-in snapshot index equals brute force on the union, and " +
    "a narrow probe still bucket-prunes on list_id") {
    val base = tmpDir("annstream")
    val table = s"$base/vecs"
    val idx = s"$base/ivf"
    val emb = graft.Tables(spark, sfDir, "embeddings")
      .select($"vec_id", $"embedding")
    val corpus = emb.where($"vec_id" =!= 0)
    val q = emb.where($"vec_id" === 0).select($"embedding")
      .head().getSeq[Float](0).toArray
    val cb = Similarity.buildCodebook(corpus.where($"vec_id" % 2 === 0),
      "embedding", "vec_id", nlist = 8)
    def startStream() = spark.readStream.format("graft-changes")
      .option("path", table).load()
      .writeStream
      .foreachBatch(AnnIngest.sink("embedding", cb, idx))
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("update").start()
    graft.operators.Versioned.commit(
      corpus.where($"vec_id" % 2 === 0).coalesce(2), table)
    val q1 = startStream()
    try q1.processAllAvailable() finally q1.stop()
    // restart from the checkpoint; v1 lands while the stream is down
    graft.operators.Versioned.commit(
      corpus.where($"vec_id" % 2 =!= 0).coalesce(2), table, "append")
    val q2 = startStream()
    try q2.processAllAvailable() finally q2.stop()
    val probed = Similarity.probePersistedIvf(spark, idx, "embedding",
      "vec_id", q, cb, nprobe = 8, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val brute = Similarity.bruteForceTopK(corpus, "embedding", "vec_id",
      q, 5).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(probed.toSeq == brute.toSeq,
      s"streamed index full probe diverged: ${probed.toSeq} vs ${brute.toSeq}")
    // bucket-pruning holds across the streamed-in versions: a narrow
    // probe's planned partitions cover only the probed cells' buckets
    val narrow = Similarity.probePersistedIvf(spark, idx, "embedding",
      "vec_id", q, cb, nprobe = 2, k = 5)
    val n = Similarity.ivfBuckets(8)
    val expected = Similarity.probeCells(cb, q, 2).map { v =>
      val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(v, 42)
      ((h % n) + n) % n
    }.toSet
    val read = narrow.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
          if b.scan.getClass.getName.startsWith("graft.") => b
    }.flatMap(_.inputPartitions.collect {
      case h: org.apache.spark.sql.connector.read.HasPartitionKey =>
        h.partitionKey().getInt(0)
    }).toSet
    assert(read.nonEmpty && read.subsetOf(expected),
      s"probe scanned buckets $read, probed cells hash to $expected")
  }
}
