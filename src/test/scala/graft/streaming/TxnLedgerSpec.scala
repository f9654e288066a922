package graft.streaming

import graft.SparkSpec
import graft.operators.{Similarity, Versioned}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.StreamExecution

/** The streaming transaction ledger every commit carries
  * (`txn.<appId>=<batchId>`, [[Versioned.TxnPrefix]]), driven through
  * the four sinks that record it — [[LakeSink]], [[AggSink]],
  * [[NearDedup]], [[AnnIngest]] — by direct batch calls, with the
  * streaming query id set the way the stream execution sets it. */
class TxnLedgerSpec extends SparkSpec {
  import spark.implicits._

  private def asQuery[A](qid: String)(body: => A): A = {
    val sc = spark.sparkContext
    sc.setLocalProperty(StreamExecution.QUERY_ID_KEY, qid)
    try body finally sc.setLocalProperty(StreamExecution.QUERY_ID_KEY, null)
  }

  /** Runs `body`; the first staged commit it makes on this thread runs
    * `inWindow` between staging and its commit attempt. */
  private def racing[A](inWindow: => Unit)(body: => A): A = {
    val self = Thread.currentThread()
    Versioned.commitTestHook = () => if (Thread.currentThread() eq self) {
      Versioned.commitTestHook = () => ()
      inWindow
    }
    try body finally Versioned.commitTestHook = () => ()
  }

  /** Segment dirs under `t` that no committed manifest names. */
  private def orphans(t: String): Set[String] = {
    val root = new java.io.File(t)
    val log = new java.io.File(root, Versioned.LogDir).listFiles
      .filter(_.getName.endsWith(".manifest"))
      .map(f => new String(java.nio.file.Files.readAllBytes(f.toPath),
        "UTF-8"))
      .mkString("\n")
    Option(new java.io.File(root, "data").listFiles).toSeq.flatten
      .map(d => s"data/${d.getName}").toSet
      .filterNot(d => log.contains(s"$d/"))
  }

  private def versionCount(t: String): Int = Versioned.versions(spark, t).size

  private def kv(k: Int): DataFrame = Seq((k, s"v$k")).toDF("k", "v")

  private def fold(t: String, batchId: Long, rows: (String, Long)*): Unit =
    AggSink.foldBatch(rows.toDF("grp", "v"), t, Seq("grp"), "n",
      Seq("v" -> "sum_v"), batchId)

  private def groups(t: String): Map[String, (Long, Long)] =
    Versioned.read(spark, t).select($"grp", $"n", $"sum_v".cast("long"))
      .as[(String, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap

  private def text(key: Int): String =
    (0 until 5).map(j => s"w${key}x$j").mkString(" ")

  private def docs(rows: (Long, Int)*): DataFrame =
    rows.map { case (id, k) => (id, text(k)) }.toDF("doc_id", "text")

  private def dedup(index: String, out: String, batchId: Long,
      rows: (Long, Int)*): NearDedup.BatchOutcome =
    NearDedup.processBatch(docs(rows: _*), batchId, $"text", "doc_id",
      index, out)

  private def oneHot(axis: Int): Array[Float] =
    Array.tabulate(16)(d => if (d == axis) 1f else 0f)

  private def vecs(rows: (Long, Int)*): DataFrame =
    rows.map { case (id, a) => (id, oneHot(a)) }.toDF("vec_id", "embedding")

  private lazy val codebook = Similarity.buildCodebook(
    vecs((1L to 8L).map(i => (i, (i % 8).toInt)): _*), "embedding",
    "vec_id", nlist = 8)

  private def ann(path: String, batchId: Long,
      rows: (Long, Int)*): AnnIngest.BatchOutcome =
    AnnIngest.processBatch(vecs(rows: _*), batchId, "embedding", codebook,
      path)

  private def idCount(t: String, col: String, id: Long): Long =
    Versioned.read(spark, t).where(org.apache.spark.sql.functions.col(col)
      === id).count()

  test("a double delivery landing inside the first delivery's commit " +
    "window commits once, for every sink, and leaves no staged segment") {
    // LakeSink
    val lake = tmpDir("txn-lake") + "/t"
    val sink = new LakeSink(lake, "append")
    asQuery("q1") {
      sink.addBatch(0, kv(0))
      racing(sink.addBatch(1, kv(1)))(sink.addBatch(1, kv(1)))
    }
    assert(versionCount(lake) == 2)
    assert(Versioned.read(spark, lake).as[(Int, String)].collect().toSeq
      .sorted == Seq((0, "v0"), (1, "v1")))
    assert(orphans(lake).isEmpty, s"refused delivery left ${orphans(lake)}")

    // AggSink: the first fold creates, the second CASes in raceLoop
    val agg = tmpDir("txn-agg") + "/rollup"
    asQuery("q1") {
      fold(agg, 0, "a" -> 1L)
      racing(fold(agg, 1, "a" -> 10L))(fold(agg, 1, "a" -> 10L))
    }
    assert(groups(agg) == Map("a" -> ((2L, 11L))))
    assert(versionCount(agg) == 2)
    assert(orphans(agg).isEmpty, s"refused fold left ${orphans(agg)}")

    // NearDedup: batch 0 seeds the index, batch 1 is delivered twice
    val base = tmpDir("txn-dedup")
    val index = s"$base/index"; val out = s"$base/out"
    dedup(index, out, 0, 1L -> 1)
    val v0 = versionCount(index)
    var inner: NearDedup.BatchOutcome = null
    val outer = racing { inner = dedup(index, out, 1, 10L -> 10) }(
      dedup(index, out, 1, 10L -> 10))
    assert(!inner.replayed && inner.survivors == 1, s"$inner")
    assert(outer.replayed && outer.indexVersion == -1L, s"$outer")
    assert(versionCount(index) == v0 + 1)
    assert(idCount(index, "doc_id", 10L) == 4L, "bands appended twice")
    assert(orphans(index).isEmpty, s"refused append left ${orphans(index)}")

    // AnnIngest
    val ivf = tmpDir("txn-ann") + "/ivf"
    ann(ivf, 0, (1L to 8L).map(i => (i, (i % 8).toInt)): _*)
    val a0 = versionCount(ivf)
    var annInner: AnnIngest.BatchOutcome = null
    val annOuter = racing { annInner = ann(ivf, 1, 100L -> 1) }(
      ann(ivf, 1, 100L -> 1))
    assert(!annInner.replayed && annInner.appended == 1, s"$annInner")
    assert(annOuter.replayed && annOuter.appended == -1, s"$annOuter")
    assert(versionCount(ivf) == a0 + 1)
    assert(idCount(ivf, "vec_id", 100L) == 1L, "vectors appended twice")
    assert(orphans(ivf).isEmpty, s"refused append left ${orphans(ivf)}")
  }

  test("a refused ReplayedBatch deletes its staged segment and commits " +
    "nothing") {
    val t = tmpDir("txn-refuse") + "/t"
    val key = Versioned.txnKey("writer")
    Versioned.commit(kv(0), t, "append", Map(key -> "3"))
    Seq("3", "2").foreach { b =>
      val e = intercept[Versioned.ReplayedBatch] {
        Versioned.commit(kv(9), t, "append", Map(key -> b))
      }
      assert(e.appId == "writer" && e.batch == b.toLong && e.landed == 3L)
    }
    assert(versionCount(t) == 1)
    assert(orphans(t).isEmpty, s"refused commits left ${orphans(t)}")
    // a later batch lands and advances the entry
    Versioned.commit(kv(4), t, "append", Map(key -> "4"))
    assert(Versioned.txnVersion(spark, t, "writer").contains(4L))
  }

  test("checkpoint loss: a lake or aggregate query restarts fresh, an " +
    "index sink skips ids up to the old maximum") {
    // a restart without its checkpoint is a new query id from batch 0
    val lake = tmpDir("txn-ckpt-lake") + "/t"
    val sink = new LakeSink(lake, "append")
    asQuery("q1") { (0 until 3).foreach(b => sink.addBatch(b, kv(b))) }
    asQuery("q2") { sink.addBatch(0, kv(10)) }
    assert(versionCount(lake) == 4)
    assert(Versioned.read(spark, lake).where($"k" === 10).count() == 1)

    val agg = tmpDir("txn-ckpt-agg") + "/rollup"
    asQuery("q1") { (0 until 3).foreach(b => fold(agg, b, "a" -> 1L)) }
    asQuery("q2") { fold(agg, 0, "a" -> 5L) }
    assert(groups(agg) == Map("a" -> ((4L, 8L))))

    // the index sinks' ledger binds to one batch numbering
    val base = tmpDir("txn-ckpt-dedup")
    val index = s"$base/index"; val out = s"$base/out"
    (0 until 3).foreach(b => dedup(index, out, b, (b + 1L) -> (b + 1)))
    assert((0 until 3).forall(b =>
      dedup(index, out, b, (b + 100L) -> (b + 100)).replayed))
    assert(!dedup(index, out, 3, 200L -> 200).replayed)

    val ivf = tmpDir("txn-ckpt-ann") + "/ivf"
    ann(ivf, 0, (1L to 8L).map(i => (i, (i % 8).toInt)): _*)
    ann(ivf, 1, 100L -> 1)
    assert(ann(ivf, 0, 300L -> 3).replayed && ann(ivf, 1, 301L -> 3).replayed)
    assert(idCount(ivf, "vec_id", 300L) == 0L)
    assert(!ann(ivf, 2, 302L -> 3).replayed)
  }

  test("a fresh query's first batch on an 8-version table answers its " +
    "ledger lookup from one manifest header, and a replay costs no more") {
    val t = tmpDir("txn-fresh") + "/t"
    val sink = new LakeSink(t, "append")
    asQuery("q1") { (0 until 8).foreach(b => sink.addBatch(b, kv(b))) }
    assert(versionCount(t) == 8)
    def reads[A](body: => A): (A, Long) = {
      Versioned.clearManifestCache()
      val before = Versioned.manifestReads.get()
      val a = body
      (a, Versioned.manifestReads.get() - before)
    }
    assert(reads(Versioned.txnVersion(spark, t, "q_fresh")) == ((None, 1L)))
    val (_, replay) = reads(asQuery("q1") { sink.addBatch(7, kv(7)) })
    assert(replay <= 1L, s"a replayed batch opened $replay manifests")
    assert(versionCount(t) == 8)
  }

  test("vacuum cannot erase the ledger: after a foreign commit and " +
    "vacuum(keepLast = 1) the latest manifest carries it and replays " +
    "skip") {
    val lake = tmpDir("txn-vac-lake") + "/t"
    val sink = new LakeSink(lake, "append")
    asQuery("q1") { (0 until 3).foreach(b => sink.addBatch(b, kv(b))) }
    Versioned.commit(kv(99), lake, "append")
    Versioned.vacuum(spark, lake, keepLast = 1)
    val Seq(latest) = Versioned.versions(spark, lake)
    assert(Versioned.readMeta(spark, lake, latest)
      .get(Versioned.txnKey("q1")).contains("2"))
    asQuery("q1") { sink.addBatch(2, kv(2)) }
    assert(Versioned.versions(spark, lake) == Seq(latest))

    val agg = tmpDir("txn-vac-agg") + "/rollup"
    asQuery("q1") { (0 until 2).foreach(b => fold(agg, b, "a" -> 1L)) }
    Versioned.commit(Seq(("z", 1L, 1L)).toDF("grp", "n", "sum_v"), agg,
      "append")
    Versioned.vacuum(spark, agg, keepLast = 1)
    asQuery("q1") { fold(agg, 1, "a" -> 1L) }
    assert(groups(agg) == Map("a" -> ((2L, 2L)), "z" -> ((1L, 1L))))
  }

  test("every commit kind carries the ledger: overwrite, DML, " +
    "compaction, DDL and RESTORE") {
    val t = tmpDir("txn-carry") + "/t"
    val key = Versioned.txnKey("w")
    Versioned.commit(kv(1), t, "overwrite", Map(key -> "0"))
    Versioned.commit(kv(2), t, "append")
    Versioned.commit(kv(3), t, "overwrite")
    spark.sql(s"DELETE FROM '$t' WHERE k = 3")
    Versioned.commit(kv(4), t, "append")
    Versioned.commit(kv(5), t, "append")
    Versioned.compactSmall(spark, t, minBytes = 1L << 20)
    Versioned.addInvariants(spark, t,
      Seq(graft.operators.Invariants.NotNull("k")))
    Versioned.restore(spark, t, 0L)
    val vs = Versioned.versions(spark, t)
    assert(vs.size >= 8, vs.toString)
    vs.foreach(v => assert(Versioned.readMeta(spark, t, v).get(key)
      .contains("0"), s"version $v dropped the ledger"))
    assert(Versioned.txnVersion(spark, t, "w").contains(0L))
  }
}
