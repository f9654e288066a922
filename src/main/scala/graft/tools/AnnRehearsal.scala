package graft.tools

import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-rehearsal driver for the persisted-IVF path (sim3 + the r15
  * append API) — the ANN counterpart of ProbeRehearsal's dd10 story.
  * Run against 1×/100×/1000× embedding corpora (ScaleData `embeddings`
  * mode) it measures, per decade:
  *
  *  - `build`: one writePersistedIvf pass (codebook assignment +
  *    partitionBy(list_id) write + quality baseline) — linear in the
  *    corpus, paid once.
  *  - `probe`: probePersistedIvf at fixed nlist/nprobe vs
  *    bruteForceTopK over the SAME files. The claim under test: the
  *    probe's directory pruning holds at every decade — it reads
  *    ~nprobe/nlist of the bytes the brute scan reads (`bytes_read`
  *    from the executed plan's scan metrics, the Spark UI's numbers),
  *    so the probed fraction is a LAYOUT property, independent of
  *    corpus size. Probe wall grows with its cells (they hold 1/nlist
  *    of a growing corpus — irreducible, embarrassingly parallel scan,
  *    same attribution as dd10's scan term), never with the corpus
  *    outside them.
  *  - `append`: appendToPersistedIvf of the SAME fixed 1× cohort at
  *    every decade — append cost must track the CHUNK, not the index
  *    (the incremental-ingest claim, st16/dd10's delta-batch shape
  *    applied to ANN); the in-distribution cohort must not flag
  *    retrainRecommended at any decade.
  *
  * The codebook is seeded from the lowest `nlist` vec_ids — copy 0 of
  * the scaled corpus at every factor — so all decades probe under the
  * IDENTICAL codebook and measured differences are corpus-size
  * effects, not clustering drift.
  *
  * Usage: AnnRehearsal <embDir> <workDir>
  * Prints one JSON line per phase.
  */
object AnnRehearsal {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: AnnRehearsal <embDir> <workDir>")
    val Array(embDir, workDir) = args
    require(workDir.startsWith("/tmp"), "workDir must be under /tmp")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[32]"))
      .appName("graft-ann-rehearsal")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val NList = 64
    val NProbe = 4
    val K = 10
    val corpus = spark.read.parquet(s"$embDir/embeddings.parquet")
      .select($"vec_id", $"embedding")
    // copy 0 exists identically at every scale factor: same query
    // vector, same codebook seeds, same append cohort across decades
    val q = corpus.where($"vec_id" === 0).select("embedding")
      .head().getSeq[Float](0).toArray
    // offset beyond 1000 copies x 10M DocShift: ScaleData copy i holds
    // ids i*10M+orig, so anything under 10^10 would collide with a
    // high copy's range at the 100x/1000x decades
    val appendCohort = corpus.where($"vec_id" > 0 && $"vec_id" < 1000)
      .select(($"vec_id" + 20000000000L).as("vec_id"), $"embedding")
      .localCheckpoint(true) // append timing must not include cohort IO

    val t0 = System.nanoTime()
    val cb = Similarity.buildCodebook(corpus, "embedding", "vec_id", NList)
    val path = s"$workDir/ivf"
    val baseline = Similarity.writePersistedIvf(corpus, "embedding", cb, path)
    val buildS = (System.nanoTime() - t0) / 1e9
    println(f"""{"phase":"build","corpus":"$embDir","nlist":$NList,"vectors":${baseline.vectors},"mean_sim":${baseline.meanSim}%.4f,"build_s":$buildS%.2f}""")

    import PlanMetrics.bytesRead

    // ---- probe vs brute over the SAME persisted files, best of two
    def timed(label: String)(mk: => DataFrame): (Double, Long, Seq[Long]) = {
      var bestS = Double.MaxValue
      var bytes = 0L
      var ids: Seq[Long] = Nil
      (1 to 2).foreach { _ =>
        val p0 = System.nanoTime()
        val df = mk
        val rows = df.collect()
        val s = (System.nanoTime() - p0) / 1e9
        if (s < bestS) { bestS = s; bytes = bytesRead(df); ids = rows.map(_.getLong(0)).toSeq }
      }
      require(ids.nonEmpty, s"$label returned no rows")
      (bestS, bytes, ids)
    }
    val (probeS, probeBytes, probeIds) = timed("probe")(
      Similarity.probePersistedIvf(spark, path, "embedding", "vec_id", q,
        cb, NProbe, K))
    val (bruteS, bruteBytes, bruteIds) = timed("brute")(
      Similarity.bruteForceTopK(
        graft.operators.Versioned.read(spark, path), "embedding",
        "vec_id", q, K))
    val recall = probeIds.toSet.intersect(bruteIds.toSet).size.toDouble / K
    println(f"""{"phase":"probe","nprobe":$NProbe,"k":$K,"probe_s":$probeS%.2f,"brute_s":$bruteS%.2f,"probe_bytes":$probeBytes,"brute_bytes":$bruteBytes,"bytes_fraction":${probeBytes.toDouble / math.max(1L, bruteBytes)}%.4f,"recall_at_k":$recall%.2f}""")

    // ---- fixed 1x cohort append: chunk-cost claim + no false drift
    val a0 = System.nanoTime()
    val app = Similarity.appendToPersistedIvf(appendCohort, "embedding",
      cb, path)
    val appendS = (System.nanoTime() - a0) / 1e9
    require(!app.retrainRecommended,
      s"in-distribution cohort flagged retrain at $embDir: $app")
    println(f"""{"phase":"append","appended":${app.appended},"mean_sim":${app.meanSim}%.4f,"append_s":$appendS%.2f,"retrain":${app.retrainRecommended}}""")

    // ---- IVF-PQ (r17): the quantized index against the SAME corpus
    // and codebook — the probe's scan term at 1/4 the payload. The
    // claim: the PQ probe prunes to the same cells as the float probe
    // (same codebook, same isin) but reads ~1/4 its bytes, and the
    // exact rescore of the top-m restores the float probe's results.
    val pqPath = s"$workDir/ivf_pq"
    Similarity.writePersistedIvfPq(corpus, "embedding", "vec_id", cb,
      pqPath)
    // the SCAN TERM (the 4x claim) attributed alone: the codes scan
    // over the probed cells, vs the float probe's scan of the same
    // cells; the rescore is a separate m-bounded point fetch whose IO
    // is a property of the SOURCE's lookup structure, not the index
    val stPq = Similarity.loadPersistedIvf(spark, pqPath).get
    val codesScan = graft.operators.SnapshotScan
      .frameAt(spark, pqPath, stPq.version)
      .where(col("list_id").isin(
        Similarity.probeCells(stPq.codebook, q, NProbe).toSeq: _*))
    codesScan.collect()
    val codesBytes = bytesRead(codesScan)
    val p0 = System.nanoTime()
    val pqIds = Similarity.probePersistedIvfPq(spark, pqPath, corpus,
      "embedding", "vec_id", q, NProbe, m = 5 * K, k = K)
      .collect().map(_.getLong(0)).toSeq
    val pqS = (System.nanoTime() - p0) / 1e9
    val floatMatch = pqIds.toSet.intersect(probeIds.toSet).size.toDouble / K
    println(f"""{"phase":"pq_probe","nprobe":$NProbe,"m":${5 * K},"k":$K,"pq_probe_s":$pqS%.2f,"codes_scan_bytes":$codesBytes,"float_probe_bytes":$probeBytes,"pq_vs_float_bytes":${codesBytes.toDouble / math.max(1L, probeBytes)}%.4f,"pq_vs_brute_bytes":${codesBytes.toDouble / math.max(1L, bruteBytes)}%.4f,"match_vs_float_probe":$floatMatch%.2f}""")

    // ---- LSH batch probe (r17): the hyperplane index's batch form
    // (probePersistedLshMany) against per-query brute force over the
    // same files — the claim mirrors the IVF probe's: the static
    // cell-set isin bucket-prunes the ONE join to the probed balls'
    // buckets, so batch-probe bytes are a LAYOUT fraction (~ball/2^p
    // of the corpus), not a corpus-size effect, and per-query recall
    // matches the single probe by construction (spec-pinned parity).
    val NPlanes = 6
    val lshPath = s"$workDir/lsh"
    Similarity.writePersistedIndex(corpus, "embedding", NPlanes, 64,
      lshPath)
    val queries10 = corpus.where($"vec_id" > 0 && $"vec_id" <= 10)
      .select($"vec_id".as("qid"), $"embedding".as("qemb"))
      .localCheckpoint(true)
    def timedBatch(mk: => DataFrame): (Double, Long, Long) = {
      var bestS = Double.MaxValue; var bytes = 0L; var rows = 0L
      (1 to 2).foreach { _ =>
        val p0 = System.nanoTime()
        val df = mk
        val n = df.collect().length
        val s = (System.nanoTime() - p0) / 1e9
        if (s < bestS) { bestS = s; bytes = bytesRead(df); rows = n }
      }
      (bestS, bytes, rows)
    }
    val (_, lshExactBytes, _) = timedBatch(
      Similarity.lshTopKMany(
        graft.operators.SnapshotScan.frame(spark, lshPath),
        "embedding", "vec_id", queries10, "qid", "qemb", NPlanes, 64,
        probeHamming = NPlanes, k = K))
    // 1 query = one Hamming ball (the single probe's fraction); 10
    // diverse queries = the UNION of their balls — the batch fraction
    // is bounded by probed-cell diversity, not query count, and both
    // are LAYOUT properties that must hold flat across decades
    Seq(1, 10).foreach { nq =>
      val (s, bytes, rows) = timedBatch(
        Similarity.probePersistedLshMany(spark, lshPath, "embedding",
          "vec_id", queries10.where($"qid" <= nq), "qid", "qemb",
          k = K, probeHamming = 1))
      println(f"""{"phase":"lsh_batch_probe","queries":$nq,"radius":1,"result_rows":$rows,"probe_s":$s%.2f,"probe_bytes":$bytes,"exact_bytes":$lshExactBytes,"bytes_fraction":${bytes.toDouble / math.max(1L, lshExactBytes)}%.4f}""")
    }

    // ---- IVF-PQ BATCH probe (r18): probePersistedIvfPqMany's two
    // claims at scale. (1) The batch form replaces N single probes —
    // each a plan + an m-row driver collect — with ONE codes join and
    // ONE rescore pass: wall for 10 queries vs 10 sequential singles.
    // (2) Its codes scan reads the UNION of the queries' probed
    // cells (a layout fraction bounded by cell diversity, the
    // lsh_batch lesson), not queries x single-probe bytes. Per-query
    // results are spec-pinned equal to the single probe; the match
    // column here just re-checks it at this decade.
    {
      val qVecs = queries10.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      val b0 = System.nanoTime()
      val batchRows = Similarity.probePersistedIvfPqMany(spark, pqPath,
        corpus, "embedding", "vec_id", queries10, "qid", "qemb",
        NProbe, m = 5 * K, k = K).collect()
      val batchS = (System.nanoTime() - b0) / 1e9
      val s0 = System.nanoTime()
      val singleIds = qVecs.map { case (qid, v) =>
        qid -> Similarity.probePersistedIvfPq(spark, pqPath, corpus,
          "embedding", "vec_id", v, NProbe, m = 5 * K, k = K)
          .collect().map(_.getLong(0)).toSet
      }.toMap
      val singlesS = (System.nanoTime() - s0) / 1e9
      val byQid = batchRows.groupBy(_.getLong(0))
        .map { case (qid, rs) => qid -> rs.map(_.getLong(1)).toSet }
      val matchFrac = qVecs.map { case (qid, _) =>
        byQid.getOrElse(qid, Set.empty[Long])
          .intersect(singleIds(qid)).size
      }.sum.toDouble / (qVecs.length * K)
      // the batch's codes scan term, attributed alone: the UNION of
      // all queries' probed cells (what the static isin prunes to)
      val unionCells = qVecs.flatMap { case (_, v) =>
        Similarity.probeCells(stPq.codebook, v, NProbe) }.distinct
      val unionScan = graft.operators.SnapshotScan
        .frameAt(spark, pqPath, stPq.version)
        .where(col("list_id").isin(unionCells.toSeq: _*))
      unionScan.collect()
      val unionBytes = bytesRead(unionScan)
      println(f"""{"phase":"pq_batch_probe","queries":${qVecs.length},"nprobe":$NProbe,"m":${5 * K},"k":$K,"batch_s":$batchS%.2f,"singles_s":$singlesS%.2f,"union_cells":${unionCells.length},"union_codes_bytes":$unionBytes,"vs_single_codes_bytes":${unionBytes.toDouble / math.max(1L, codesBytes)}%.2f,"vs_brute_bytes":${unionBytes.toDouble / math.max(1L, bruteBytes)}%.4f,"match_vs_singles":$matchFrac%.2f}""")
    }

    // ---- PQ m-dial (r18): recall@k of the two-stage probe vs the
    // rescore budget m — the documented recall/IO trade, measured.
    // Ground truth is the float probe over the same cells (the PQ
    // index's own ceiling at this nprobe); m rows are fetched however
    // big the corpus, so the dial's COST is constant-bounded and this
    // table is its RECALL side.
    Seq(K, 5 * K, 20 * K).foreach { m =>
      val ids = Similarity.probePersistedIvfPq(spark, pqPath, corpus,
        "embedding", "vec_id", q, NProbe, m = m, k = K)
        .collect().map(_.getLong(0)).toSet
      val rec = ids.intersect(probeIds.toSet).size.toDouble / K
      println(f"""{"phase":"pq_m_dial","nprobe":$NProbe,"m":$m,"k":$K,"recall_vs_float":$rec%.2f}""")
    }

    // ---- PQ drift rebuild (r18): the quantized drift loop's closing
    // move, timed at this decade. rebuildPersistedIvfPq retrains from
    // the SOURCE table's true embeddings (lossy codes cannot) — one
    // codebook build + one assignment/quantize pass + one CAS'd
    // overwrite, so its cost must track the SOURCE linearly, the same
    // attribution as the build phase (and it is paid only when drift
    // fires). The descriptor swap is the commit itself: the
    // post-rebuild probe resolves the new codebook with no hand-off.
    {
      val r0 = System.nanoTime()
      val (_, rstats) = Similarity.rebuildPersistedIvfPq(spark, pqPath,
        corpus, "embedding", "vec_id", NList)
      val rebuildS = (System.nanoTime() - r0) / 1e9
      val postIds = Similarity.probePersistedIvfPq(spark, pqPath,
        corpus, "embedding", "vec_id", q, NProbe, m = 5 * K, k = K)
        .collect().map(_.getLong(0)).toSeq
      val postMatch = postIds.toSet.intersect(pqIds.toSet).size.toDouble / K
      println(f"""{"phase":"pq_rebuild","vectors":${rstats.vectors},"rebuild_s":$rebuildS%.2f,"vs_build_s":${rebuildS / buildS}%.2f,"post_probe_match":$postMatch%.2f}""")
    }

    // ---- TRUE product quantization (r19): the scheme-2 index on the
    // SAME corpus and IVF codebook — the compression tier above int8.
    // Three claims, attributed separately: (1) TRAIN is one codegen'd
    // encode scan + a codebook-sized shuffle per Lloyd iteration —
    // its wall must track the corpus like the build phase; (2) the
    // codes SCAN over the same probed cells reads far below the int8
    // scan (payload is numSub bytes/vector = 1/16 of float32 at dim
    // 64/numSub 16, vs int8's 1/4; parquet structure overhead bounds
    // the realized ratio); (3) the two-stage probe (ADC shortlist +
    // exact rescore) restores the float probe's results at the same
    // m dial, single and batch.
    {
      val prodPath = s"$workDir/ivf_product"
      val t0 = System.nanoTime()
      val books = graft.operators.ProductQuant.train(corpus,
        "embedding", "vec_id", numSub = 16, k = 256, iters = 2)
      val trainS = (System.nanoTime() - t0) / 1e9
      val w0 = System.nanoTime()
      Similarity.writePersistedIvfProduct(corpus, "embedding",
        "vec_id", cb, books, prodPath)
      val writeS = (System.nanoTime() - w0) / 1e9
      val stProd = Similarity.loadPersistedIvf(spark, prodPath).get
      val prodScan = graft.operators.SnapshotScan
        .frameAt(spark, prodPath, stProd.version)
        .where(col("list_id").isin(
          Similarity.probeCells(cb, q, NProbe).toSeq: _*))
      prodScan.collect()
      val prodBytes = bytesRead(prodScan)
      val pp0 = System.nanoTime()
      val prodIds = Similarity.probePersistedIvfProduct(spark, prodPath,
        corpus, "embedding", "vec_id", q, NProbe, m = 5 * K, k = K)
        .collect().map(_.getLong(0)).toSeq
      val prodS = (System.nanoTime() - pp0) / 1e9
      val prodMatch = prodIds.toSet.intersect(probeIds.toSet)
        .size.toDouble / K
      println(f"""{"phase":"product_probe","numSub":16,"kSub":${books.k},"nprobe":$NProbe,"m":${5 * K},"k":$K,"train_s":$trainS%.2f,"write_s":$writeS%.2f,"probe_s":$prodS%.2f,"codes_scan_bytes":$prodBytes,"vs_int8_bytes":${prodBytes.toDouble / math.max(1L, codesBytes)}%.4f,"vs_float_bytes":${prodBytes.toDouble / math.max(1L, probeBytes)}%.4f,"vs_brute_bytes":${prodBytes.toDouble / math.max(1L, bruteBytes)}%.4f,"match_vs_float_probe":$prodMatch%.2f}""")
      // m-dial recall against the float probe over the same cells
      // (the index's own ceiling at this nprobe) — PQ's coarser
      // approximation needs the dial more than int8 did; this row is
      // where the operator reads how much
      Seq(K, 5 * K, 20 * K).foreach { m =>
        val ids = Similarity.probePersistedIvfProduct(spark, prodPath,
          corpus, "embedding", "vec_id", q, NProbe, m = m, k = K)
          .collect().map(_.getLong(0)).toSet
        val rec = ids.intersect(probeIds.toSet).size.toDouble / K
        println(f"""{"phase":"product_m_dial","nprobe":$NProbe,"m":$m,"k":$K,"recall_vs_float":$rec%.2f}""")
      }
      // batch parity + wall vs sequential singles (the r18 pq_batch
      // claim on the product scorer — PqApproxCosine per row, no LUT)
      val qVecs = queries10.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      val b0 = System.nanoTime()
      val batchRows = Similarity.probePersistedIvfProductMany(spark,
        prodPath, corpus, "embedding", "vec_id", queries10, "qid",
        "qemb", NProbe, m = 5 * K, k = K).collect()
      val batchS = (System.nanoTime() - b0) / 1e9
      val s0 = System.nanoTime()
      val singleIds = qVecs.map { case (qid, v) =>
        qid -> Similarity.probePersistedIvfProduct(spark, prodPath,
          corpus, "embedding", "vec_id", v, NProbe, m = 5 * K, k = K)
          .collect().map(_.getLong(0)).toSet
      }.toMap
      val singlesS = (System.nanoTime() - s0) / 1e9
      val byQid = batchRows.groupBy(_.getLong(0))
        .map { case (qid, rs) => qid -> rs.map(_.getLong(1)).toSet }
      val matchFrac = qVecs.map { case (qid, _) =>
        byQid.getOrElse(qid, Set.empty[Long])
          .intersect(singleIds(qid)).size
      }.sum.toDouble / (qVecs.length * K)
      println(f"""{"phase":"product_batch_probe","queries":${qVecs.length},"nprobe":$NProbe,"m":${5 * K},"k":$K,"batch_s":$batchS%.2f,"singles_s":$singlesS%.2f,"match_vs_singles":$matchFrac%.2f}""")
    }

    // ---- chunk-size amortization: the OTHER axis of the append
    // claim. The commit machinery (stage + CAS + manifest + ledger)
    // is a FIXED cost per batch — proven decade-invariant vs
    // INDEX size in the r16 three-decade run — so at production chunk
    // sizes it must amortize: seconds/row from a 1k-row batch to a
    // 100k-row batch should drop ~100x, bottoming out at the marginal
    // per-row assignment+write cost. Measured through the REAL st18
    // batch path (AnnIngest.processBatch: assignment, ledgered
    // commit), not a stripped-down append. Cohorts are
    // id-shifted copies of corpus vectors (in-distribution by
    // construction, localCheckpointed so generation IO is excluded).
    val amortIndex = s"$workDir/ivf_amort"
    Similarity.writePersistedIvf(corpus, "embedding", cb, amortIndex)
    val baseRows = corpus.where($"vec_id" < 1000).localCheckpoint(true)
    val nBase = baseRows.count()
    var batchId = 0L
    Seq(1000L, 10000L, 100000L).foreach { target =>
      val factor = math.max(1L, target / nBase)
      val cohort = baseRows
        .crossJoin(spark.range(factor).select($"id".as("__copy")))
        .select(($"vec_id" + lit(30000000000L) + $"__copy" * 1000000L +
          lit(batchId) * 100000000L).as("vec_id"), $"embedding")
        .localCheckpoint(true)
      val rows = cohort.count()
      val c0 = System.nanoTime()
      val o = graft.streaming.AnnIngest.processBatch(cohort, batchId,
        "embedding", cb, amortIndex)
      val chunkS = (System.nanoTime() - c0) / 1e9
      require(!o.replayed && o.appended == rows, s"batch $batchId: $o")
      println(f"""{"phase":"chunk_amortization","batch_rows":$rows,"append_s":$chunkS%.2f,"us_per_row":${chunkS * 1e6 / rows}%.1f}""")
      batchId += 1
    }
    spark.stop()
  }
}
