package graft.streaming

import graft.SparkSpec
import graft.operators.{Dedup, Versioned}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The st16+dd10 composition (graft.streaming.NearDedup): per-doc
  * behavior on pairwise-independent texts (unique token vocabularies —
  * no shared shingles, so LSH collisions happen iff texts are copies
  * and every expectation is closed-form), checkpoint-restart
  * convergence through a real stop/start, and replay idempotence via
  * the index commit ledger (the guarantee Spark's checkpoint alone
  * cannot give a side-effecting sink). */
class NearDedupSpec extends SparkSpec {
  import spark.implicits._

  /** Five unique tokens per doc — enough for 3-shingles, disjoint
    * across keys so distinct docs never share a shingle. */
  private def text(key: Int): String =
    (0 until 5).map(j => s"w${key}x$j").mkString(" ")

  private def docs(rows: (Long, Int)*): DataFrame =
    rows.map { case (id, k) => (id, text(k)) }.toDF("doc_id", "text")

  /** (version, batch id) for each version that ADVANCED the sink's
    * ledger entry — later commits carry the entry forward unchanged. */
  private def batchKeys(index: String): Seq[(Long, Long)] = {
    val vs = Versioned.versions(spark, index).sorted
    val ids = vs.map(v => Versioned.readMeta(spark, index, v)
      .get(Versioned.txnKey(NearDedup.AppId)).map(_.toLong))
    vs.zip(ids).zip(None +: ids).collect {
      case ((v, Some(b)), prev) if !prev.contains(b) => (v, b)
    }
  }

  private def applied(index: String): Option[Long] =
    Versioned.txnVersion(spark, index, NearDedup.AppId)

  test("streaming near-dedup: cross-batch copies die via the index, " +
    "in-batch copies via keep-first, across a checkpoint restart") {
    val base = tmpDir("neardedup")
    val table = s"$base/docs"
    val index = s"$base/index"
    val out = s"$base/out"
    val ckpt = s"$base/ckpt"
    def startStream() = spark.readStream.format("graft-changes")
      .option("path", table).load()
      .select($"doc_id", $"text")
      .writeStream
      .foreachBatch(NearDedup.sink($"text", "doc_id", index, out))
      .option("checkpointLocation", ckpt)
      .outputMode("update").start()

    // v0: three independent docs — batch 0 probes an EMPTY index
    Versioned.commit(docs(1L -> 1, 2L -> 2, 3L -> 3), table)
    val q1 = startStream()
    try q1.processAllAvailable() finally q1.stop()

    // RESTART from the same checkpoint: batch numbering must continue,
    // and the index — not any in-memory state — must still know batch
    // 0's docs. v1: two new docs, one cross-batch copy (of doc 1, from
    // before the restart), one in-batch copy (of doc 12, same batch).
    Versioned.commit(docs(10L -> 10, 11L -> 1, 12L -> 12, 13L -> 12),
      table, "append")
    val q2 = startStream()
    try q2.processAllAvailable() finally q2.stop()

    val flags = spark.read.parquet(s"$out/flags")
      .select($"doc_id", $"dup_of_corpus", $"dup_in_chunk")
      .as[(Long, Boolean, Boolean)].collect()
      .map { case (id, dc, dk) => id -> ((dc, dk)) }.toMap
    assert(flags == Map(
      1L -> (false, false), 2L -> (false, false), 3L -> (false, false),
      10L -> (false, false),
      11L -> (true, false), // exact copy of pre-restart doc 1: the INDEX caught it
      12L -> (false, false),
      13L -> (false, true)), // same-batch copy of 12: keep-first domination
      s"per-doc flags diverged: $flags")
    val survivors = spark.read.parquet(s"$out/survivors")
      .select($"doc_id").as[Long].collect().toSet
    assert(survivors == Set(1L, 2L, 3L, 10L, 12L),
      s"survivors diverged: $survivors")

    // ledger shape: versions contiguous; the seed carries no batch id;
    // exactly one append per processed batch, ids strictly increasing
    val vs = Versioned.versions(spark, index).sorted
    assert(vs == (vs.min to vs.max), s"non-contiguous versions: $vs")
    val keys = batchKeys(index)
    assert(keys.map(_._2) == keys.map(_._2).sorted &&
      keys.map(_._2).distinct == keys.map(_._2),
      s"batch ids not strictly increasing: $keys")
    assert(keys.size == vs.size - 1,
      s"expected one ledgered append per batch over a seed: $vs vs $keys")
    assert(applied(index).contains(keys.map(_._2).max))

    // ---- replay idempotence, driven directly (the schedule Spark
    // takes when the sink ran but the checkpoint commit was lost):
    // re-running the LAST batch must not probe-then-append again —
    // the batch's own bands are in the index now, so a recompute
    // would flag everything dup_of_corpus and clobber the survivors.
    val last = keys.map(_._2).max
    val replay = NearDedup.processBatch(
      docs(10L -> 10, 11L -> 1, 12L -> 12, 13L -> 12),
      last, $"text", "doc_id", index, out)
    assert(replay.replayed && replay.indexVersion == -1L)
    assert(Versioned.versions(spark, index).sorted == vs,
      "replay committed a version")
    assert(spark.read.parquet(s"$out/survivors")
      .select($"doc_id").as[Long].collect().toSet == survivors,
      "replay rewrote the survivor output")

    // ---- crash-window retry on a NEW batch: first run commits, the
    // duplicate delivery (same id) is a no-op — exactly one ledger
    // entry, outputs intact. Doc 21 copies doc 10 (a batch-1 ADMITTED
    // doc): the index records everything admitted, so it's caught.
    val next = docs(20L -> 20, 21L -> 10)
    val first = NearDedup.processBatch(next, last + 1, $"text", "doc_id",
      index, out)
    assert(!first.replayed && first.admitted == 2 &&
      first.dupOfCorpus == 1 && first.dupInChunk == 0 &&
      first.survivors == 1, s"unexpected outcome: $first")
    val retry = NearDedup.processBatch(next, last + 1, $"text", "doc_id",
      index, out)
    assert(retry.replayed)
    assert(batchKeys(index).count(_._2 == last + 1) == 1,
      "duplicate delivery double-committed")
    assert(spark.read.parquet(s"$out/survivors")
      .select($"doc_id").as[Long].collect().toSet == survivors + 20L)
  }

  test("a rebucket landing MID-BATCH fails the batch loudly with no " +
    "ledger entry; the replayed batch converges under the landed " +
    "layout and the ledger survives the migration") {
    val base = tmpDir("neardedup_rebucket")
    val index = s"$base/index"
    val out = s"$base/out"
    assert(!NearDedup.processBatch(docs(1L -> 1, 2L -> 2), 0L, $"text",
      "doc_id", index, out).replayed)
    // one-shot hook on THIS thread (suites run in parallel against the
    // shared session): a rebucket to 32 buckets lands inside batch 1's
    // append commit window — after its segment was hashed under the
    // inherited 16-bucket layout
    val self = Thread.currentThread()
    Versioned.commitTestHook = () => if (Thread.currentThread() eq self) {
      Versioned.commitTestHook = () => ()
      Dedup.rebucketBandIndex(spark, index, 32)
      ()
    }
    val b1 = docs(10L -> 10, 11L -> 1) // 11 copies PRE-migration doc 1
    try intercept[Versioned.BucketLayoutChanged] {
      NearDedup.processBatch(b1, 1L, $"text", "doc_id", index, out)
    } finally Versioned.commitTestHook = () => ()
    // the failed batch must leave NO ledger entry — a half-applied
    // batch that recorded itself would be skipped forever on restart
    assert(applied(index).contains(0L))
    // the restart's replay proceeds (not ledgered), probes the
    // MIGRATED index — doc 11 still collides with doc 1 because the
    // rebucket re-laid out every row — and appends under 32 buckets
    val r = NearDedup.processBatch(b1, 1L, $"text", "doc_id", index, out)
    assert(!r.replayed && r.dupOfCorpus == 1 && r.survivors == 1, s"$r")
    assert(Versioned.bucketSpec(spark, index).exists(_._2 == 32))
    // the ledger survives the migration: the rebucket's overwrite
    // carried batch 0's entry, batch 1's append advanced it, and a
    // duplicate delivery skips
    assert(applied(index).contains(1L))
    assert(NearDedup.processBatch(b1, 1L, $"text", "doc_id", index, out)
      .replayed)
    assert(spark.read.parquet(s"$out/survivors")
      .select($"doc_id").as[Long].collect().toSet == Set(1L, 2L, 10L))
  }

  test("vacuum on the shared index cannot erase the replay ledger " +
    "(every commit carries it forward), and a legacy plain-parquet " +
    "index refuses instead of being silently shadowed") {
    val base = tmpDir("neardedup_vacuum")
    val index = s"$base/index"
    val out = s"$base/out"
    NearDedup.processBatch(docs(1L -> 1, 2L -> 2), 0L, $"text", "doc_id",
      index, out)
    NearDedup.processBatch(docs(10L -> 10), 1L, $"text", "doc_id",
      index, out)
    // a foreign chunk append lands on top, then routine retention
    // sweeps every version below it — including both manifests that
    // first recorded the stream's batches
    Dedup.writeBandIndex(docs(100L -> 100), $"text", "doc_id", index,
      mode = "append")
    Versioned.vacuum(spark, index, keepLast = 1)
    val survivor = Versioned.versions(spark, index)
    assert(survivor.size == 1,
      "precondition: vacuum erased every manifest the stream committed")
    // the foreign append carried the entry: the replay is detected
    assert(Versioned.readMeta(spark, index, survivor.head)
      .get(Versioned.txnKey(NearDedup.AppId)).contains("1"))
    assert(applied(index).contains(1L))
    assert(NearDedup.processBatch(docs(10L -> 10), 1L, $"text", "doc_id",
      index, out).replayed,
      "post-vacuum replay double-applied — batch would self-flag")
    // and a NEW batch still proceeds and is caught by the index
    val next = NearDedup.processBatch(docs(20L -> 1), 2L, $"text",
      "doc_id", index, out)
    assert(!next.replayed && next.dupOfCorpus == 1)

    // the ledger lives in the index: a fresh index behind a reused out
    // dir starts its own ledger
    val index2 = s"$base/index2"
    val fresh = NearDedup.processBatch(docs(1L -> 1), 0L, $"text",
      "doc_id", index2, out)
    assert(!fresh.replayed,
      "the old index's ledger replay-skipped a fresh stream")

    // legacy plain-parquet band index (loose .parquet files, no commit
    // log): seeding a snapshot over it would shadow every legacy band
    // — refuse loudly
    val legacy = s"$base/legacy"
    Dedup.bandFrame(docs(1L -> 1), $"text", "doc_id", 3, 16, 4)
      .write.parquet(legacy)
    assert(intercept[IllegalStateException] {
      NearDedup.processBatch(docs(2L -> 2), 0L, $"text", "doc_id",
        legacy, s"$base/out2")
    }.getMessage.contains("rebucketBandIndex"))
    // ...but ORPHANS of a crashed first commit (segment dirs, log
    // leftovers — no loose root parquet) must not brick the stream:
    // the guarded create absorbs them
    val orphaned = s"$base/orphaned"
    val fs = new org.apache.hadoop.fs.Path(orphaned)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(orphaned, "gb-0"))
    fs.mkdirs(new org.apache.hadoop.fs.Path(orphaned, Versioned.LogDir))
    assert(!NearDedup.processBatch(docs(3L -> 3), 0L, $"text", "doc_id",
      orphaned, s"$base/out3").replayed)
  }

  test("property: with ids monotone across batches, streaming survivors " +
    "equal batch minhashDedup on the union (ScalaCheck)") {
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Prop.propBoolean
    import org.scalacheck.Test.{check, Parameters}
    // random class multiset split into 2-3 batches; ids are assigned in
    // PROCESSING order so earliest-seen == lowest-id — exactly the
    // regime where the stream's keep-first (anchored to first
    // occurrence via the index) must coincide with the batch
    // operator's keep-lowest-id. Pairwise-independent texts make the
    // expected survivor set closed-form: the min id per class.
    val gen = for {
      classes <- Gen.listOfN(10, Gen.choose(1, 5)) // class key per row
      cut1 <- Gen.choose(1, 8)
      cut2 <- Gen.choose(cut1 + 1, 9)
    } yield (classes.zipWithIndex.map { case (c, i) => (i + 1L, c) },
      cut1, cut2)
    val prop = Prop.forAll(gen) { case (rows, cut1, cut2) =>
      val base = tmpDir("neardedup_prop")
      val index = s"$base/index"
      val out = s"$base/out"
      val batches = Seq(rows.take(cut1), rows.slice(cut1, cut2),
        rows.drop(cut2)).filter(_.nonEmpty)
      batches.zipWithIndex.foreach { case (b, i) =>
        NearDedup.processBatch(docs(b: _*), i.toLong, $"text", "doc_id",
          index, out)
      }
      val streamed = spark.read.parquet(s"$out/survivors")
        .select($"doc_id").as[Long].collect().toSet
      val batch = Dedup.minhashDedup(docs(rows: _*), $"text", "doc_id")
        .select($"doc_id").as[Long].collect().toSet
      val closedForm = rows.groupBy(_._2).values.map(_.map(_._1).min).toSet
      (streamed == closedForm && batch == closedForm) :| {
        s"streamed=$streamed batch=$batch expected=$closedForm rows=$rows " +
          s"cuts=($cut1, $cut2)"
      }
    }
    val res = check(Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("stream batch racing a foreign chunk appender: both land, the " +
    "ledger skips over the foreign commit, no batch id doubles") {
    val base = tmpDir("neardedup_race")
    val index = s"$base/index"
    val out = s"$base/out"
    // the production interleave: the stream's batch 0 (which also
    // seeds the missing index) races a BATCH chunk writer appending
    // its own bands to the same index — both ride commitBucketed's
    // CAS, so neither append is lost whichever order they land in
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try {
      val stream = scala.concurrent.Future(NearDedup.processBatch(
        docs(1L -> 1, 2L -> 2), 0L, $"text", "doc_id", index, out))
      val foreign = scala.concurrent.Future(Dedup.writeBandIndex(
        docs(100L -> 100), $"text", "doc_id", index, mode = "append",
        buckets = Dedup.MinIndexBuckets))
      val r = scala.concurrent.Await.result(stream,
        scala.concurrent.duration.Duration(120, "s"))
      scala.concurrent.Await.result(foreign,
        scala.concurrent.duration.Duration(120, "s"))
      assert(!r.replayed && r.admitted == 2)
      val vs = Versioned.versions(spark, index).sorted
      assert(vs == (vs.min to vs.max), s"non-contiguous versions: $vs")
      // exactly one ledgered batch; the foreign append carries the
      // entry forward even when it landed LAST
      assert(batchKeys(index).map(_._2) == Seq(0L))
      assert(applied(index).contains(0L))
      // no append was lost: both writers' band rows are in the index
      val ids = Versioned.read(spark, index).select($"doc_id")
        .as[Long].collect().toSet
      assert(ids == Set(1L, 2L, 100L), s"lost append: $ids")
    } finally pool.shutdown()
  }

  test("auto-compact on the dedup sink: a run of micro-batches folds " +
    "its small band segments once the threshold crosses, the replay " +
    "ledger survives the foreign optimize commits, and post-fold " +
    "probes still classify exactly") {
    val base = tmpDir("ndcompact")
    val index = s"$base/index"
    val out = s"$base/out"
    val policy = Some(AutoCompact(minBytes = 1L << 20, minSmallFiles = 12))
    var compactions = 0
    (0 until 5).foreach { b =>
      val o = NearDedup.processBatch(
        docs((1L to 6L).map(i => (100L * b + i, (100 * b + i).toInt)): _*),
        b.toLong, $"text", "doc_id", index, out, autoCompact = policy)
      assert(!o.replayed && o.admitted == 6 && o.survivors == 6)
      if (o.compacted) compactions += 1
    }
    assert(compactions >= 1, "the threshold never crossed")
    // folded backlog: 5 batches x one small file per touched bucket
    // would pile up ~20+ files; the policy keeps the manifest short
    assert(Versioned.fileStats(spark, index).size <
      Dedup.MinIndexBuckets + 6,
      s"backlog did not fold: ${Versioned.fileStats(spark, index).size}")
    // the optimize commits carry the ledger...
    assert(applied(index).contains(4L))
    assert(NearDedup.processBatch(docs(999L -> 999), 4L, $"text",
      "doc_id", index, out, autoCompact = policy).replayed)
    // ...and a post-fold batch still classifies against EVERY folded
    // band: a copy of a batch-0 doc flags dup_of_corpus, a fresh doc
    // survives, an in-batch pair resolves keep-first
    val probe = NearDedup.processBatch(
      docs(5000L -> 1, 5001L -> 7777, 5002L -> 8888, 5003L -> 8888),
      5L, $"text", "doc_id", index, out, autoCompact = policy)
    assert(probe.dupOfCorpus == 1 && probe.dupInChunk == 1 &&
      probe.survivors == 2, s"post-fold classification diverged: $probe")
  }
}

