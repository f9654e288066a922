package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The "production day" integration rehearsal (r15 verdict #4): every
  * individually-proven component of the training-data story, composed
  * on ONE corpus in the order an operator would actually run them —
  *
  *   1. pipe1 batch curation (gate → dedup → decontaminate → pack →
  *      split → shard ledger);
  *   2. dd10 band-index build over the curated corpus;
  *   3. st17 streaming near-dedup batches over arriving docs (fresh +
  *      corpus copies + in-chunk copies — closed-form outcomes);
  *   4. st18 streaming ANN ingest batches over their embeddings
  *      (snapshot IVF index, ledgered appends) — plus the SAME stream
  *      into an IVF-PQ sibling — then a DRIFTED cohort into each:
  *      the float sink fires AutoRetrain (in-place retrain), the
  *      quantized sink fires AutoRebuild (retrain from the source
  *      table's true embeddings) — both loops closed mid-day, under
  *      no operator;
  *   5. maintenance: rebucket/retrain (the indexes' OPTIMIZE) +
  *      VACUUM on both shared indexes — then the checks a 100 TB
  *      operator cares about: a replayed batch still skips (the
  *      carried txn ledger), a fresh probe is still correct, and
  *      the ANN full probe still equals brute force.
  *
  * Prints one JSON line per stage: wall, shuffle bytes where a probe
  * plan is attributable, and the version count each shared table ended
  * the stage at — the integration measurement the per-component
  * rehearsals (ProbeRehearsal, NearDedupRehearsal, AnnRehearsal,
  * DeltaRehearsal) deliberately do not cover.
  *
  * Usage: ProductionDayRehearsal <sfDir> <workDir>
  */
object ProductionDayRehearsal {
  def main(args: Array[String]): Unit = {
    require(args.length == 2,
      "usage: ProductionDayRehearsal <sfDir> <workDir>")
    val Array(sfDir, workDir) = args
    require(workDir.startsWith("/tmp"), "workDir must be under /tmp")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[32]"))
      .appName("graft-production-day")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.shuffle.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val bandIndex = s"$workDir/band_index"
    val ivfIndex = s"$workDir/ivf_index"
    val out = s"$workDir/out"
    def versionsOf(p: String): Int =
      graft.operators.Versioned.versions(spark, p).size
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }

    // ---- stage 1: pipe1, exactly as declared to the driver
    val (ledgerRows, pipeS) = timed {
      graft.SparkEntry.queries("pipe1_corpus_pipeline")(spark, sfDir)
        .collect().length
    }
    println(f"""{"stage":"pipe1_curation","wall_s":$pipeS%.2f,"ledger_rows":$ledgerRows}""")

    // ---- stage 2: band-index build over the curated (gate-shaped)
    // corpus — the state every later st17 batch probes. One decile is
    // HELD OUT as the "arriving" docs the stream will see.
    val docs = graft.Tables(spark, sfDir, "documents")
      .select($"doc_id", $"text", $"n_chars")
    val gated = graft.queries.CapstoneQueries.gate(docs)
      .select($"doc_id", $"text")
    val corpus = gated.where($"doc_id" % 10 =!= 0)
    val (w, buildS) = timed {
      graft.operators.Dedup.writeBandIndex(corpus, $"text", "doc_id",
        bandIndex)
    }
    println(f"""{"stage":"dd10_index_build","wall_s":$buildS%.2f,"buckets":${w.buckets},"index_versions":${versionsOf(bandIndex)}}""")

    // ---- stage 3: st17 batches over "arriving" docs. Batch 0: the
    // held-out decile — genuinely unseen doc ids and (mostly) unseen
    // texts; the corpus carries injected near-dups, so a nonzero
    // dup_of_corpus here is the operator's real-world view, not an
    // error. Batch 1: the next arrivals + corpus copies + copies of
    // batch-0 docs — every class the composed sink must classify.
    val arriving = gated.where($"doc_id" % 10 === 0)
      .localCheckpoint(true)
    val fresh0 = arriving.where($"doc_id" % 20 === 0)
    val batch1 = arriving.where($"doc_id" % 20 =!= 0)
      .unionByName(corpus.where($"doc_id" % 20 === 3) // corpus copies
        .select(($"doc_id" + 50000000L).as("doc_id"), $"text"))
      .unionByName(fresh0.where($"doc_id" % 40 === 0) // copies of batch 0
        .select(($"doc_id" + 60000000L).as("doc_id"), $"text"))
      .unionByName(arriving.where($"doc_id" % 40 === 10) // in-chunk 2nd
        .select(($"doc_id" + 65000000L).as("doc_id"), $"text")) // copies
      .localCheckpoint(true)
    // segment hygiene rides the SINKS now (r17): the AutoCompact
    // policy folds the streamed small segments in-stream, so the
    // maintenance stage below no longer needs a manual compactSmall
    val hygiene = Some(graft.streaming.AutoCompact(
      minBytes = 4L << 20, minSmallFiles = 48))
    def filesOf(path: String): Int =
      graft.operators.Versioned.fileStats(spark, path).size
    val (o0, st17aS) = timed {
      graft.streaming.NearDedup.processBatch(fresh0, 0L, $"text",
        "doc_id", bandIndex, out, autoCompact = hygiene)
    }
    println(f"""{"stage":"st17_batch0","wall_s":$st17aS%.2f,"admitted":${o0.admitted},"dup_of_corpus":${o0.dupOfCorpus},"survivors":${o0.survivors},"compacted":${o0.compacted},"index_files":${filesOf(bandIndex)},"index_versions":${versionsOf(bandIndex)}}""")
    // probe attribution for the batch-1 shape (the chunk-vs-index claim)
    val probeQ = graft.operators.Dedup.dedupChunkAgainstIndex(
      batch1, $"text", "doc_id", bandIndex)
      .where($"dup_of_corpus" || $"dup_in_chunk")
    probeQ.collect()
    val probeShuffle = PlanMetrics.shuffleBytes(probeQ)
    val (o1, st17bS) = timed {
      graft.streaming.NearDedup.processBatch(batch1, 1L, $"text",
        "doc_id", bandIndex, out, autoCompact = hygiene)
    }
    println(f"""{"stage":"st17_batch1","wall_s":$st17bS%.2f,"probe_shuffle_bytes":$probeShuffle,"admitted":${o1.admitted},"dup_of_corpus":${o1.dupOfCorpus},"dup_in_chunk":${o1.dupInChunk},"survivors":${o1.survivors},"compacted":${o1.compacted},"index_files":${filesOf(bandIndex)},"index_versions":${versionsOf(bandIndex)}}""")

    // ---- stage 4: st18 batches over the embeddings of the corpus —
    // codebook seeded from the first batch's half, snapshot appends
    val emb = graft.Tables(spark, sfDir, "embeddings")
      .select($"vec_id", $"embedding")
    val half0 = emb.where($"vec_id" % 2 === 0).localCheckpoint(true)
    val half1 = emb.where($"vec_id" % 2 =!= 0).localCheckpoint(true)
    val cb = graft.operators.Similarity.buildCodebook(half0, "embedding",
      "vec_id", nlist = 16)
    val (a0, st18aS) = timed {
      graft.streaming.AnnIngest.processBatch(half0, 0L, "embedding", cb,
        ivfIndex, autoCompact = hygiene)
    }
    val (a1, st18bS) = timed {
      graft.streaming.AnnIngest.processBatch(half1, 1L, "embedding", cb,
        ivfIndex, autoCompact = hygiene)
    }
    println(f"""{"stage":"st18_batches","wall_s":${st18aS + st18bS}%.2f,"appended":${a0.appended + a1.appended},"retrain_flagged":${a0.retrainRecommended || a1.retrainRecommended},"compacted":${a0.compacted || a1.compacted},"index_files":${filesOf(ivfIndex)},"index_versions":${versionsOf(ivfIndex)}}""")

    // ---- stage 4a: the SAME stream shape into an IVF-PQ sibling
    // index (r17): codes at ~1/4 the bytes, same ledger discipline;
    // the full PQ probe (rescore budget covering everything) must
    // equal brute force over both halves — the composed proof that
    // quantize-on-ingest loses nothing the rescore can't recover.
    val pqIndex = s"$workDir/ivf_pq_index"
    val (pqOut, st18pqS) = timed {
      val p0 = graft.streaming.AnnIngest.processBatch(half0, 0L,
        "embedding", cb, pqIndex, autoCompact = hygiene,
        pqId = Some("vec_id"))
      val p1 = graft.streaming.AnnIngest.processBatch(half1, 1L,
        "embedding", cb, pqIndex, autoCompact = hygiene,
        pqId = Some("vec_id"))
      (p0, p1)
    }
    val qPq = emb.where($"vec_id" === 2).select($"embedding")
      .head().getSeq[Float](0).toArray
    val allEmb = half0.unionByName(half1)
    val pqProbe = graft.operators.Similarity.probePersistedIvfPq(spark,
      pqIndex, allEmb, "embedding", "vec_id", qPq, nprobe = 16,
      m = 50, k = 10).collect().map(_.getLong(0)).toSeq
    val pqBrute = graft.operators.Similarity.bruteForceTopK(allEmb,
      "embedding", "vec_id", qPq, 10).collect().map(_.getLong(0)).toSeq
    require(pqProbe == pqBrute,
      s"streamed PQ probe diverged: $pqProbe vs $pqBrute")
    println(f"""{"stage":"st18_pq_batches","wall_s":$st18pqS%.2f,"appended":${pqOut._1.appended + pqOut._2.appended},"probe_exact":true,"index_files":${filesOf(pqIndex)},"index_versions":${versionsOf(pqIndex)}}""")

    // ---- stage 4b: a DRIFTED cohort under the AutoRetrain policy:
    // the sink must flag the drift AND close the loop itself — the
    // in-place retrain commit is the swap, no operator intervention.
    // The cohort is the NEGATED MEAN of the committed centroids
    // (resolved from the index's own descriptor): embeddings live in a
    // cone, so every centroid has substantial positive cosine to their
    // mean, and the negation is anti-correlated with ALL of them —
    // mean assignment sim goes negative, which clears the 2×-distance
    // drift bar against any baseline (plain per-vector negation does
    // NOT: some centroid is usually anti-correlated with any single
    // vector, and the cohort measured sim 0.22 — too mild to flag
    // against this corpus's ~0.6 baseline).
    val cbCommitted = graft.operators.Similarity
      .loadPersistedIvf(spark, ivfIndex).get.codebook.entries
    val dim = cbCommitted.head._2.length
    val anti = Array.tabulate(dim) { d =>
      (-cbCommitted.map(_._2(d)).sum / cbCommitted.length).toFloat
    }
    val driftedB = half1.limit(1000)
      .select(($"vec_id" + 90000000L).as("vec_id"),
        typedLit(anti).as("embedding"))
      .localCheckpoint(true)
    val (a2, st18cS) = timed {
      graft.streaming.AnnIngest.processBatch(driftedB, 2L, "embedding",
        cb, ivfIndex,
        Some(graft.streaming.AnnIngest.AutoRetrain("vec_id")), hygiene)
    }
    require(a2.retrainRecommended && a2.retrained,
      s"drifted ANN batch did not auto-retrain: $a2")
    println(f"""{"stage":"st18_drift_auto_retrain","wall_s":$st18cS%.2f,"appended":${a2.appended},"retrained":${a2.retrained},"index_versions":${versionsOf(ivfIndex)}}""")

    // ---- stage 4c (r18): the SAME drifted cohort into the PQ
    // sibling under AutoRebuild — lossy codes cannot retrain in
    // place, so the sink rebuilds from the SOURCE table's true
    // embeddings (which by the layout's contract covers everything
    // streamed): the quantized drift loop closed in-stream, and the
    // descriptor-resolved full probe must equal brute force over the
    // rebuilt corpus with no operator hand-off.
    val driftedPq = driftedB
      .select(($"vec_id" + 5000000L).as("vec_id"), $"embedding")
      .localCheckpoint(true)
    val pqSource = allEmb.unionByName(driftedPq).localCheckpoint(true)
    val (a3, st18dS) = timed {
      graft.streaming.AnnIngest.processBatch(driftedPq, 2L, "embedding",
        cb, pqIndex, autoCompact = hygiene, pqId = Some("vec_id"),
        autoRebuild = Some(graft.streaming.AnnIngest.AutoRebuild(
          _ => pqSource, "vec_id")))
    }
    require(a3.retrainRecommended && a3.retrained,
      s"drifted PQ batch did not auto-rebuild: $a3")
    val pqProbe2 = graft.operators.Similarity.probePersistedIvfPq(spark,
      pqIndex, pqSource, "embedding", "vec_id", qPq, nprobe = 16,
      m = 50, k = 10).collect().map(_.getLong(0)).toSeq
    val pqBrute2 = graft.operators.Similarity.bruteForceTopK(pqSource,
      "embedding", "vec_id", qPq, 10).collect().map(_.getLong(0)).toSeq
    require(pqProbe2 == pqBrute2,
      s"post-rebuild PQ probe diverged: $pqProbe2 vs $pqBrute2")
    println(f"""{"stage":"st18_pq_drift_auto_rebuild","wall_s":$st18dS%.2f,"appended":${a3.appended},"rebuilt":${a3.retrained},"probe_exact":true,"index_versions":${versionsOf(pqIndex)}}""")

    // ---- stage 4d (r19): the PRODUCT-quantized sibling — the 16×
    // compression tier streamed through the SAME composed lifecycle:
    // books trained once on the seed half (sampled, corpus-size-
    // independent), the sink seeds scheme 2 and each batch encodes
    // under the COMMITTED books; the same drifted cohort fires
    // AutoRebuild, which dispatches on the live scheme and retrains
    // BOTH codebook families from the source keeping the subspace
    // shape; the descriptor-resolved two-stage probe must equal brute
    // force over the rebuilt corpus — quantize-on-ingest at 16×
    // loses nothing the rescore can't recover, even across an
    // in-stream rebuild.
    val prodIndex = s"$workDir/ivf_product_index"
    val books = graft.operators.ProductQuant.train(half0, "embedding",
      "vec_id", numSub = 16, k = 256, iters = 1)
    val driftedProd = driftedB
      .select(($"vec_id" + 7000000L).as("vec_id"), $"embedding")
      .localCheckpoint(true)
    val prodSource = allEmb.unionByName(driftedProd).localCheckpoint(true)
    val (prodOut, st18eS) = timed {
      val p0 = graft.streaming.AnnIngest.processBatch(half0, 0L,
        "embedding", cb, prodIndex, autoCompact = hygiene,
        pqId = Some("vec_id"), productBooks = Some(books))
      val p1 = graft.streaming.AnnIngest.processBatch(half1, 1L,
        "embedding", cb, prodIndex, autoCompact = hygiene,
        pqId = Some("vec_id"), productBooks = Some(books))
      val p2 = graft.streaming.AnnIngest.processBatch(driftedProd, 2L,
        "embedding", cb, prodIndex, autoCompact = hygiene,
        pqId = Some("vec_id"), productBooks = Some(books),
        autoRebuild = Some(graft.streaming.AnnIngest.AutoRebuild(
          _ => prodSource, "vec_id")))
      (p0, p1, p2)
    }
    require(prodOut._3.retrainRecommended && prodOut._3.retrained,
      s"drifted product batch did not auto-rebuild: ${prodOut._3}")
    val stProd = graft.operators.Similarity
      .loadPersistedIvf(spark, prodIndex).get
    require(stProd.pqBooks.nonEmpty &&
      stProd.pqBooks.get.numSub == books.numSub,
      "product rebuild changed the subspace shape or demoted the scheme")
    val prodProbe = graft.operators.Similarity.probePersistedIvfProduct(
      spark, prodIndex, prodSource, "embedding", "vec_id", qPq,
      nprobe = 16, m = 200, k = 10).collect().map(_.getLong(0)).toSeq
    val prodBrute = graft.operators.Similarity.bruteForceTopK(prodSource,
      "embedding", "vec_id", qPq, 10).collect().map(_.getLong(0)).toSeq
    require(prodProbe == prodBrute,
      s"post-rebuild product probe diverged: $prodProbe vs $prodBrute")
    println(f"""{"stage":"st18_product_lifecycle","wall_s":$st18eS%.2f,"appended":${prodOut._1.appended + prodOut._2.appended},"rebuilt":${prodOut._3.retrained},"probe_exact":true,"index_versions":${versionsOf(prodIndex)}}""")

    // ---- stage 5: maintenance — the indexes' OPTIMIZE analogues plus
    // retention on both shared tables
    val (_, maintS) = timed {
      graft.operators.Dedup.rebucketBandIndex(spark, bandIndex)
      graft.operators.Similarity.retrainPersistedIvf(spark, ivfIndex,
        "embedding", "vec_id", nlist = 16)
      graft.operators.Versioned.vacuum(spark, bandIndex, keepLast = 1)
      graft.operators.Versioned.vacuum(spark, ivfIndex, keepLast = 1)
    }
    println(f"""{"stage":"maintenance","wall_s":$maintS%.2f,"band_versions":${versionsOf(bandIndex)},"ivf_versions":${versionsOf(ivfIndex)}}""")

    // ---- the operator's post-maintenance checks
    // (a) a replayed st17 batch still skips: vacuum erased the
    // manifests that first carried its ledger entry, and the latest
    // version carries it forward
    val replay = graft.streaming.NearDedup.processBatch(batch1, 1L,
      $"text", "doc_id", bandIndex, out)
    require(replay.replayed,
      s"post-vacuum replay was re-applied: $replay")
    // (b) a fresh st17 batch still classifies against the REBUCKETED
    // index: a copy of a batch-0 doc must flag dup_of_corpus
    val probeChunk = fresh0.limit(50)
      .select(($"doc_id" + 70000000L).as("doc_id"), $"text")
    val post = graft.streaming.NearDedup.processBatch(probeChunk, 2L,
      $"text", "doc_id", bandIndex, out)
    require(post.admitted == post.dupOfCorpus && post.survivors == 0,
      s"post-maintenance probe missed known copies: $post")
    // (c) a replayed st18 batch still skips (the carried txn ledger)
    require(graft.streaming.AnnIngest.processBatch(half1, 1L,
      "embedding", cb, ivfIndex).replayed,
      "post-vacuum ANN replay was re-applied")
    // (d) the retrained ANN index's full probe equals brute force —
    // resolved via the committed descriptor, nobody handed the new
    // codebook around
    val q = emb.where($"vec_id" === 0).select($"embedding")
      .head().getSeq[Float](0).toArray
    val probed = graft.operators.Similarity.probePersistedIvf(spark,
      ivfIndex, "embedding", "vec_id", q, nprobe = 16, k = 10)
      .collect().map(_.getLong(0)).toSeq
    // brute over EVERYTHING ingested (incl. the drifted cohort — a
    // negated vector can outscore a real one against an arbitrary q)
    val brute = graft.operators.Similarity.bruteForceTopK(
      emb.unionByName(driftedB), "embedding", "vec_id", q, 10)
      .collect().map(_.getLong(0)).toSeq
    require(probed == brute,
      s"post-maintenance ANN probe diverged: $probed vs $brute")
    println("""{"stage":"post_maintenance_checks","replay_skip":true,"probe_correct":true,"ann_exact":true}""")
    spark.stop()
  }
}
