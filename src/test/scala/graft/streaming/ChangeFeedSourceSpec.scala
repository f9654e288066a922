package graft.streaming

import graft.SparkSpec
import graft.operators.Versioned
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming change-feed source over Versioned snapshot tables: each
  * commit becomes a micro-batch, checkpointed offsets survive restart,
  * and a vacuumed start version degrades to a snapshot re-read instead
  * of a dead stream. */
class ChangeFeedSourceSpec extends SparkSpec {
  import spark.implicits._

  private def drain(table: String, checkpoint: String, sink: String): Unit = {
    val q = spark.readStream.format("graft-changes")
      .option("path", table).load()
      .writeStream.format("parquet")
      .option("path", sink)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination(120000) finally q.stop()
  }

  test("commits tail into micro-batches; checkpoint restart resumes " +
    "from the committed version, not from scratch") {
    val base = tmpDir("cfstream")
    val t = s"$base/t"; val cp = s"$base/cp"; val out = s"$base/out"
    Versioned.commit(Seq((1, "a"), (2, "b")).toDF("k", "v"), t)  // v0
    Versioned.commit(Seq((3, "c")).toDF("k", "v"), t, "append")  // v1
    drain(t, cp, out)
    // first run: one batch with the full v1 snapshot
    assert(spark.read.parquet(out).as[(Int, String)].collect().toSet ==
      Set((1, "a"), (2, "b"), (3, "c")))
    // no new commits: AvailableNow run adds nothing (offset replay safe)
    drain(t, cp, out)
    assert(spark.read.parquet(out).count() == 3)
    // two more commits, restart from checkpoint: ONLY the delta arrives
    Versioned.commit(Seq((4, "d")).toDF("k", "v"), t, "append")  // v2
    Versioned.commit(Seq((5, "e")).toDF("k", "v"), t, "append")  // v3
    drain(t, cp, out)
    val rows = spark.read.parquet(out).as[(Int, String)].collect().toSeq
    assert(rows.size == 5, s"expected 5 rows (3 + delta 2), got $rows")
    assert(rows.toSet == Set((1, "a"), (2, "b"), (3, "c"), (4, "d"), (5, "e")))
  }

  test("a vacuumed checkpoint version re-reads the snapshot instead of " +
    "failing the stream") {
    val base = tmpDir("cfstream")
    val t = s"$base/t"; val cp = s"$base/cp"; val out = s"$base/out"
    Versioned.commit(Seq((1, "a")).toDF("k", "v"), t)            // v0
    drain(t, cp, out)
    assert(spark.read.parquet(out).count() == 1)
    Versioned.commit(Seq((2, "b")).toDF("k", "v"), t, "append")  // v1
    Versioned.vacuum(spark, t, keepLast = 1) // drops v0 — the checkpoint
    drain(t, cp, out)
    // at-least-once: full v1 snapshot re-delivered (1 old + 2 re-read)
    assert(spark.read.parquet(out).as[(Int, String)].collect().toSeq
      .sorted.mkString(",").contains("(2,b)"))
    assert(spark.read.parquet(out).where($"k" === 2).count() == 1)
  }

  test("maxVersionsPerTrigger paces a deep backlog into bounded " +
    "micro-batches (admission control) without losing rows") {
    val base = tmpDir("cfstream")
    val t = s"$base/t"; val cp = s"$base/cp"; val out = s"$base/out"
    Versioned.commit(Seq((0, "x")).toDF("k", "v"), t)            // v0
    def drainPaced(): Unit = {
      val q = spark.readStream.format("graft-changes")
        .option("path", t)
        .option("maxVersionsPerTrigger", "1")
        .load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination(120000) finally q.stop()
    }
    drainPaced() // prime: initial snapshot batch lands the start offset
    (1 to 4).foreach(i =>                                        // v1..v4
      Versioned.commit(Seq((i, "x")).toDF("k", "v"), t, "append"))
    drainPaced() // backlog of 4 versions -> 4 paced one-version batches
    // all rows arrive exactly once...
    assert(spark.read.parquet(out).count() == 5)
    // ...across one priming batch + four paced delta batches
    val commits = new java.io.File(s"$cp/commits").list()
      .count(!_.startsWith("."))
    assert(commits == 5, s"expected 1 + 4 paced batches, got $commits")
  }

  test("maxBytesPerTrigger paces a fat backlog by the manifests' " +
    "bytes= stats: tiny budget = one version per batch, big budget = " +
    "one batch; offsets replay-stable, no rows lost or duplicated") {
    val base = tmpDir("cfbytes")
    val t = s"$base/t"
    Versioned.commit(Seq((0, "x")).toDF("k", "v"), t)            // v0
    def drainBudget(budget: String, cp: String, out: String): Unit = {
      val q = spark.readStream.format("graft-changes")
        .option("path", t)
        .option("maxBytesPerTrigger", budget)
        .load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination(120000) finally q.stop()
    }
    def commitsIn(cp: String): Int =
      new java.io.File(s"$cp/commits").list().count(!_.startsWith("."))

    val cp1 = s"$base/cp1"; val out1 = s"$base/out1"
    drainBudget("1", cp1, out1) // prime: snapshot batch lands the offset
    (1 to 4).foreach(i =>                                        // v1..v4
      Versioned.commit(Seq((i, "x")).toDF("k", "v"), t, "append"))
    // every version's parquet exceeds ONE byte: the soft cap admits
    // exactly one version per batch, four paced batches
    drainBudget("1", cp1, out1)
    assert(spark.read.parquet(out1).count() == 5)
    assert(spark.read.parquet(out1).select("k").distinct().count() == 5,
      "paced drain must deliver each version exactly once")
    assert(commitsIn(cp1) == 5,
      s"expected 1 prime + 4 byte-paced batches, got ${commitsIn(cp1)}")

    // a generous budget drains the same backlog in ONE delta batch
    // (and the size-string option form parses)
    val cp2 = s"$base/cp2"; val out2 = s"$base/out2"
    drainBudget("1g", cp2, out2) // fresh stream: snapshot batch
    Versioned.commit(Seq((9, "y")).toDF("k", "v"), t, "append")  // v5
    Versioned.commit(Seq((10, "y")).toDF("k", "v"), t, "append") // v6
    drainBudget("1g", cp2, out2)
    assert(spark.read.parquet(out2).count() == 7)
    assert(commitsIn(cp2) == 2,
      s"1g budget should admit both versions in one batch, got " +
        s"${commitsIn(cp2)}")

    // replay stability: re-running the drained stream adds nothing
    drainBudget("1", cp1, out1)
    assert(spark.read.parquet(out1).count() == 7,
      "replay after drain must deliver only the v5/v6 delta once")
  }

  test("startingVersion tails from a chosen commit: history before it " +
    "is skipped, later commits arrive incrementally") {
    val base = tmpDir("cfstream")
    val t = s"$base/t"; val cp = s"$base/cp"; val out = s"$base/out"
    Versioned.commit(Seq((1, "a")).toDF("k", "v"), t)            // v0
    Versioned.commit(Seq((2, "b")).toDF("k", "v"), t, "append")  // v1
    Versioned.commit(Seq((3, "c")).toDF("k", "v"), t, "append")  // v2
    def drainFrom(): Unit = {
      val q = spark.readStream.format("graft-changes")
        .option("path", t).option("startingVersion", "2").load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination(120000) finally q.stop()
    }
    drainFrom()
    // only version 2's rows — v0/v1 history skipped
    assert(spark.read.parquet(out).as[(Int, String)].collect().toSet ==
      Set((3, "c")))
    // later commits flow incrementally from the checkpoint as usual
    Versioned.commit(Seq((4, "d")).toDF("k", "v"), t, "append")  // v3
    drainFrom()
    assert(spark.read.parquet(out).as[(Int, String)].collect().toSet ==
      Set((3, "c"), (4, "d")))
  }

  test("lake-to-lake: graft-changes source into graft-lake sink — " +
    "commits propagate as exactly one version per batch, replay-safe") {
    val base = tmpDir("cfstream")
    val a = s"$base/a"; val b = s"$base/b"; val cp = s"$base/cp"
    Versioned.commit(Seq((1, "a"), (2, "bb")).toDF("k", "v"), a)  // A v0
    def pump(): Unit = {
      val q = spark.readStream.format("graft-changes")
        .option("path", a).load()
        .where(length($"v") === 1) // the transform in the middle
        .writeStream.format("graft-lake")
        .option("path", b)
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination(120000) finally q.stop()
    }
    pump()
    assert(Versioned.read(spark, b).as[(Int, String)].collect().toSet ==
      Set((1, "a")))
    // replay safety: a no-new-data pump adds no version to B
    val vB = Versioned.versions(spark, b)
    pump()
    assert(Versioned.versions(spark, b) == vB)
    // a new commit to A lands as exactly one more version of B,
    // carrying the query's ledger entry in the manifest meta
    Versioned.commit(Seq((3, "c"), (4, "dd")).toDF("k", "v"), a, "append")
    pump()
    val vB2 = Versioned.versions(spark, b)
    assert(vB2.size == vB.size + 1, vB2.toString)
    assert(Versioned.readMeta(spark, b, vB2.last).keys
      .exists(_.startsWith(Versioned.TxnPrefix)))
    assert(Versioned.read(spark, b).as[(Int, String)].collect().toSet ==
      Set((1, "a"), (3, "c")))
  }

  test("sink dedup keys on (queryId, batchId): a fresh checkpoint " +
    "restarting at batchId 0 is not skipped, and interleaved non-sink " +
    "commits don't disable replay protection") {
    import org.apache.spark.sql.execution.streaming.runtime.StreamExecution
    val t = tmpDir("sinkdedup") + "/t"
    val sink = new LakeSink(t, "append")
    val sc = spark.sparkContext
    def asQuery[A](qid: String)(body: => A): A = {
      sc.setLocalProperty(StreamExecution.QUERY_ID_KEY, qid)
      try body finally sc.setLocalProperty(StreamExecution.QUERY_ID_KEY, null)
    }
    // query 1 commits batches 0 and 1
    asQuery("q1") {
      sink.addBatch(0, Seq((1, "a")).toDF("k", "v"))
      sink.addBatch(1, Seq((2, "b")).toDF("k", "v"))
      // replay of batch 1 after a "crash": skipped
      sink.addBatch(1, Seq((2, "b")).toDF("k", "v"))
    }
    assert(Versioned.versions(spark, t).size == 2)
    // an interleaved NON-sink commit (batch append / DML) must not
    // erase the marker: q1 replaying batch 1 still skips...
    Versioned.commit(Seq((7, "x")).toDF("k", "v"), t, "append")
    asQuery("q1") { sink.addBatch(1, Seq((2, "dup")).toDF("k", "v")) }
    assert(Versioned.versions(spark, t).size == 3)
    // ...while its genuinely-new batch 2 lands
    asQuery("q1") { sink.addBatch(2, Seq((3, "c")).toDF("k", "v")) }
    assert(Versioned.versions(spark, t).size == 4)
    // a FRESH query (new checkpoint => new queryId) restarts at
    // batchId 0 — old markers with higher batchIds must not swallow it
    asQuery("q2") { sink.addBatch(0, Seq((4, "d")).toDF("k", "v")) }
    assert(Versioned.versions(spark, t).size == 5)
    assert(Versioned.read(spark, t).as[(Int, String)].collect().toSet ==
      Set((1, "a"), (2, "b"), (7, "x"), (3, "c"), (4, "d")))
    // and each query's replays stay independently deduped
    asQuery("q2") { sink.addBatch(0, Seq((4, "dup")).toDF("k", "v")) }
    asQuery("q1") { sink.addBatch(2, Seq((3, "dup")).toDF("k", "v")) }
    assert(Versioned.versions(spark, t).size == 5)
  }

  test("bucketed streaming sink: each micro-batch commits the bucket " +
    "layout, so a streamed table is co-bucketable with batch tables") {
    val base = tmpDir("lakebucket")
    val stage = s"$base/in"; val t = s"$base/t"; val cp = s"$base/cp"
    // two pinned-mtime files → two deterministic micro-batches
    Seq(0, 1).foreach { i =>
      val tmp = java.nio.file.Paths.get(stage, s"tmp$i")
      (1L to 100L).map(k => (k + i * 100L, s"v$i"))
        .toDF("k", "v").coalesce(1).write.parquet(tmp.toString)
      val f = java.nio.file.Files.list(tmp)
        .filter(_.toString.endsWith(".parquet")).findFirst.get
      val dst = java.nio.file.Paths.get(stage, s"b$i.parquet")
      java.nio.file.Files.move(f, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(
          1000000000000L + i * 60000L))
    }
    val src = spark.readStream
      .schema("k LONG, v STRING")
      .option("maxFilesPerTrigger", "1").parquet(stage)
    val q = src.writeStream.format("graft-lake")
      .option("path", t)
      .option("bucketColumn", "k").option("numBuckets", "4")
      .option("checkpointLocation", cp)
      .start()
    try q.processAllAvailable() finally q.stop()

    // one version per batch, every version declaring the layout
    val vs = Versioned.versions(spark, t)
    assert(vs.size == 2, vs.toString)
    assert(Versioned.bucketSpec(spark, t).contains(("k", 4)))
    assert(Versioned.read(spark, t).count() == 200)
    // placement agrees with the declared hash
    val expected = Versioned.read(spark, t)
      .withColumn("b", pmod(hash($"k"), lit(4)))
      .select($"k", $"b").as[(Long, Int)].collect().toMap
    Versioned.versionFiles(spark, t).foreach { f =>
      val id = Versioned.bucketIdOf(f).get
      spark.read.parquet(f).select($"k").as[Long].collect()
        .foreach(k => assert(expected(k) == id))
    }
  }

  test("graft-lake sink rejects non-numeric / non-positive numBuckets " +
    "at sink creation, naming the option") {
    val p = new LakeSinkProvider
    def make(n: String) = p.createSink(spark.sqlContext,
      Map("path" -> (tmpDir("badnb") + "/t"),
        "bucketcolumn" -> "k", "numbuckets" -> n),
      Nil, org.apache.spark.sql.streaming.OutputMode.Append())
    Seq("four", "0", "-2", "").foreach { bad =>
      val e = intercept[IllegalArgumentException](make(bad))
      assert(e.getMessage.contains("numBuckets"), s"'$bad': ${e.getMessage}")
    }
    make("4") // positive integer still accepted
  }

  test("sink marker lookup is bounded by interleave depth, not table " +
    "history: steady-state opens exactly one manifest per batch") {
    import org.apache.spark.sql.execution.streaming.runtime.StreamExecution
    val t = tmpDir("sinkscan") + "/t"
    val sink = new LakeSink(t, "append")
    val sc = spark.sparkContext
    sc.setLocalProperty(StreamExecution.QUERY_ID_KEY, "q1")
    try (0 until 8).foreach(b =>
      sink.addBatch(b, Seq((b, "v")).toDF("k", "v")))
    finally sc.setLocalProperty(StreamExecution.QUERY_ID_KEY, null)
    assert(Versioned.versions(spark, t).size == 8)
    // 8 batches of history, but the next batch's dedup probe reads ONE
    // manifest header: the latest version carries the whole ledger
    def probe(qid: String): (Option[Long], Long) = {
      Versioned.clearManifestCache()
      val before = Versioned.manifestReads.get()
      val last = Versioned.txnVersion(spark, t, qid)
      (last, Versioned.manifestReads.get() - before)
    }
    assert(probe("q1") == ((Some(7L), 1L)))
    // interleaved non-sink commits carry the entry: still one read
    Versioned.commit(Seq((100, "x")).toDF("k", "v"), t, "append")
    Versioned.commit(Seq((101, "y")).toDF("k", "v"), t, "append")
    assert(probe("q1") == ((Some(7L), 1L)))
  }

  test("readChangeFeed: micro-batches deliver row-level change rows — " +
    "the initial snapshot as inserts, a COW UPDATE as preimage/" +
    "postimage pairs, a DELETE as exactly the deleted rows") {
    val base = tmpDir("cdfstream")
    val t = s"$base/t"; val cp = s"$base/cp"; val out = s"$base/out"
    Versioned.commit(
      Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v").coalesce(1), t) // v0
    def drainCdf(): Unit = {
      val q = spark.readStream.format("graft-changes")
        .option("path", t).option("readChangeFeed", "true").load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination(120000) finally q.stop()
    }
    drainCdf() // initial snapshot: 3 inserts at version 0
    def rows() = spark.read.parquet(out)
      .select($"k", $"v", $"_change_type", $"_commit_version")
      .as[(Int, String, String, Long)].collect().toSet
    assert(rows() == Set((1, "a", "insert", 0L), (2, "b", "insert", 0L),
      (3, "c", "insert", 0L)))
    spark.sql(s"UPDATE '$t' SET v = 'B' WHERE k = 2")  // v1
    drainCdf() // carried rows 1 and 3 must NOT reappear
    assert(rows() == Set((1, "a", "insert", 0L), (2, "b", "insert", 0L),
      (3, "c", "insert", 0L),
      (2, "b", "update_preimage", 1L), (2, "B", "update_postimage", 1L)))
    spark.sql(s"DELETE FROM '$t' WHERE k = 1")         // v2
    drainCdf()
    assert(rows().contains((1, "a", "delete", 2L)))
    assert(rows().size == 6)
    // replay safety: an idle drain adds nothing
    drainCdf()
    assert(rows().size == 6)
  }

  test("readChangeFeed composes with maxVersionsPerTrigger: a paced " +
    "backlog of DML commits drains as per-version change batches") {
    val base = tmpDir("cdfpaced")
    val t = s"$base/t"; val cp = s"$base/cp"; val out = s"$base/out"
    Versioned.commit(
      Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v").coalesce(1), t) // v0
    def drain(): Unit = {
      val q = spark.readStream.format("graft-changes")
        .option("path", t).option("readChangeFeed", "true")
        .option("maxVersionsPerTrigger", "1").load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination(120000) finally q.stop()
    }
    drain() // initial snapshot
    spark.sql(s"UPDATE '$t' SET v = 'B' WHERE k = 2") // v1
    spark.sql(s"DELETE FROM '$t' WHERE k = 3")        // v2
    Versioned.commit(Seq((4, "d")).toDF("k", "v"), t, "append") // v3
    drain() // three paced one-version batches
    val rows = spark.read.parquet(out)
      .select($"k", $"v", $"_change_type", $"_commit_version")
      .as[(Int, String, String, Long)].collect().toSet
    assert(rows == Set(
      (1, "a", "insert", 0L), (2, "b", "insert", 0L), (3, "c", "insert", 0L),
      (2, "b", "update_preimage", 1L), (2, "B", "update_postimage", 1L),
      (3, "c", "delete", 2L),
      (4, "d", "insert", 3L)), rows.toString)
    // 1 priming + 3 paced batches committed
    val commits = new java.io.File(s"$cp/commits").list()
      .count(!_.startsWith("."))
    assert(commits == 4, s"expected 4 batches, got $commits")
    // stage retention: committed batches' stage dirs are dropped, not
    // accreted one per micro-batch for the stream's lifetime
    val stages = new java.io.File(s"$cp/sources/0/cdf").list()
    assert(stages != null && stages.length <= 2,
      s"expected <=2 retained stage dirs, got ${stages.mkString(",")}")
  }

  test("an overwrite commit surfaces its new snapshot (file-level " +
    "change-feed semantics, Versioned.changes parity)") {
    val base = tmpDir("cfstream")
    val t = s"$base/t"; val cp = s"$base/cp"; val out = s"$base/out"
    Versioned.commit(Seq((1, "a")).toDF("k", "v"), t)            // v0
    drain(t, cp, out)
    Versioned.commit(Seq((9, "z")).toDF("k", "v"), t)            // v1 overwrite
    drain(t, cp, out)
    val rows = spark.read.parquet(out).as[(Int, String)].collect().toSet
    assert(rows == Set((1, "a"), (9, "z")), rows.toString)
  }
}
