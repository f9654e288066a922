package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._

/** Real streaming execution: file source split across two micro-batch
  * files, stateful mapGroupsWithState across batches, final state must
  * equal the batch ground truth. */
class EventStreamSpec extends SparkSpec {
  import spark.implicits._

  // schema of staged copies written from Tables' normalized events
  // frame: ts is canonical tz-adjusted TIMESTAMP micros regardless of
  // the testdata file's physical encoding
  private val rawSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  test("mapGroupsWithState accumulates across micro-batches to batch truth") {
    val stage = java.nio.file.Files.createTempDirectory("stream_in")
    // batch ground truth
    val events = graft.Tables(spark, sfDir, "events")
    val truth = events.groupBy($"user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // split into two files so the source sees >1 micro-batch. The split
    // predicate is deterministic (event_id parity) — LIMIT without ORDER
    // BY may pick different rows on each evaluation, which would let the
    // two batch files overlap or miss events.
    events.where($"event_id" % 2 === 0).write.mode("overwrite")
      .parquet(stage.resolve("b0").toString)
    events.where($"event_id" % 2 =!= 0).write.mode("overwrite")
      .parquet(stage.resolve("b1").toString)

    val src = spark.readStream.schema(rawSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(stage.toString + "/*")
      .select($"user_id", $"event_id").as[(Long, Long)]

    val name = "ucount_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val q = EventStream.runningUserCounts(src)
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()

    // update mode appends refreshed rows each batch; last emission per
    // key is the final state
    val finalCounts = spark.table(name)
      .groupBy($"user_id").agg(max($"n_events").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(finalCounts == truth)
  }

  test("tumbling windows with watermark finalize in append mode") {
    val stage = java.nio.file.Files.createTempDirectory("stream_win")
    graft.Tables(spark, sfDir, "events")
      .select(rawSchema.fieldNames.map(col): _*)
      .write.parquet(stage.resolve("events").toString)
    val src = spark.readStream.schema(rawSchema)
      .parquet(stage.resolve("events").toString)
    val name = "win_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val q = EventStream.tumblingCounts(src, "1 day", "1 hour")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    // append emits only watermark-finalized windows: all but the tail day
    val emitted = spark.table(name).count()
    val allDays = graft.Tables(spark, sfDir, "events")
      .select(date_trunc("day", $"ts")).distinct().count()
    assert(emitted > 0)
    assert(spark.table(name).select("win_start").distinct().count() < allDays)
  }

  test("UpsertSink merges each micro-batch into the lake; checkpoint " +
    "restart resumes without reprocessing committed batches") {
    val stage = java.nio.file.Files.createTempDirectory("upsert_in")
    val lake = tmpDir("upsert_lake") + "/t"
    val ckpt = tmpDir("upsert_ckpt")

    def writeBatch(n: Int, rows: Seq[(Long, Double, Long)]): Unit = {
      val tmp = stage.resolve(s"tmp$n")
      rows.toDF("k", "v", "version").coalesce(1).write.parquet(tmp.toString)
      val f = java.nio.file.Files.list(tmp)
        .filter(_.toString.endsWith(".parquet")).findFirst.get
      val dst = stage.resolve(s"batch$n.parquet")
      java.nio.file.Files.move(f, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + n * 60000L))
    }
    // batch 0: keys 1-10 v=1; batch 1: keys 6-15 v=2 (overlap 6-10);
    // key 7 duplicated IN-batch — greatest version must win
    writeBatch(0, (1L to 10L).map(k => (k, 1.0, 1L)))
    writeBatch(1, (6L to 15L).map(k => (k, 2.0, 2L)) :+ ((7L, 99.0, 3L)))

    val schema = StructType(Seq(StructField("k", LongType),
      StructField("v", DoubleType), StructField("version", LongType)))
    def run(): Unit = {
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(stage.toString)
      val q = UpsertSink.start(src, lake, Seq("k"), "version", ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    run()
    val got = spark.read.parquet(lake).select($"k", $"v")
      .as[(Long, Double)].collect().toMap
    assert(got.size == 15)
    assert((1L to 5L).forall(got(_) == 1.0), "unmatched keys kept")
    assert(Seq(6L, 8L, 9L, 10L).forall(got(_) == 2.0), "overlap upserted")
    assert(got(7L) == 99.0, "in-batch duplicate resolved by version")

    // restart from the same checkpoint with one new file: committed
    // batches are not re-merged, the new batch is
    writeBatch(2, Seq((1L, 5.0, 4L), (16L, 5.0, 4L)))
    run()
    val after = spark.read.parquet(lake).select($"k", $"v")
      .as[(Long, Double)].collect().toMap
    assert(after.size == 16 && after(1L) == 5.0 && after(16L) == 5.0)
    assert(after(7L) == 99.0 && after(15L) == 2.0)
  }

  test("merge-on-read UpsertSink: each batch is one DV+append commit, " +
    "ZERO pre-existing segments rewritten; checkpoint restart " +
    "converges to ground truth; OPTIMIZE folds the debt") {
    import graft.operators.Versioned
    val stage = java.nio.file.Files.createTempDirectory("morupsert_in")
    val lake = tmpDir("morupsert_lake") + "/t"
    val ckpt = tmpDir("morupsert_ckpt")
    def writeBatch(n: Int, rows: Seq[(Long, Double, Long)]): Unit = {
      val tmp = stage.resolve(s"tmp$n")
      rows.toDF("k", "v", "version").coalesce(1).write.parquet(tmp.toString)
      val f = java.nio.file.Files.list(tmp)
        .filter(_.toString.endsWith(".parquet")).findFirst.get
      val dst = stage.resolve(s"batch$n.parquet")
      java.nio.file.Files.move(f, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1100000000000L + n * 60000L))
    }
    writeBatch(0, (1L to 10L).map(k => (k, 1.0, 1L)))
    writeBatch(1, (6L to 15L).map(k => (k, 2.0, 2L)) :+ ((7L, 99.0, 3L)))
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("v", DoubleType), StructField("version", LongType)))
    def run(): Unit = {
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(stage.toString)
      val q = UpsertSink.startMergeOnRead(src, lake, Seq("k"), "version", ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    run()
    val got = Versioned.read(spark, lake).select($"k", $"v")
      .as[(Long, Double)].collect().toMap
    assert(got.size == 15 && got(7L) == 99.0 && got(6L) == 2.0 &&
      got(1L) == 1.0, s"got $got")
    // THE merge-on-read cost contract: across every commit, no
    // pre-existing data segment was rewritten or removed — batch 1's
    // superseding of keys 6-10 cost a sidecar + its own small segment
    val vs = Versioned.versions(spark, lake)
    vs.sliding(2).foreach { case Seq(a, b) =>
      val (_, removed) = Versioned.changedFiles(spark, lake, a, b)
      assert(removed.isEmpty,
        s"version $a->$b removed files $removed — a batch must never " +
          "rewrite pre-existing segments")
    case _ => () }
    assert(Versioned.dvDeletedCounts(spark, lake).values.sum == 5L,
      "exactly the 5 overlapped rows are DV-deleted")
    // checkpoint restart: a new batch lands incrementally, committed
    // batches are not reprocessed, state equals ground truth
    writeBatch(2, Seq((1L, 5.0, 4L), (16L, 5.0, 4L)))
    val vsBefore = Versioned.versions(spark, lake).size
    run()
    assert(Versioned.versions(spark, lake).size == vsBefore + 1,
      "the restart must process exactly the one new batch")
    val after = Versioned.read(spark, lake).select($"k", $"v")
      .as[(Long, Double)].collect().toMap
    assert(after.size == 16 && after(1L) == 5.0 && after(16L) == 5.0 &&
      after(7L) == 99.0 && after(15L) == 2.0)
    // OPTIMIZE folds the sidecars + small segments on schedule
    spark.conf.set("spark.graft.optimize.minFileBytes", (1L << 20).toString)
    try spark.sql(s"OPTIMIZE '$lake' COMPACT")
    finally spark.conf.unset("spark.graft.optimize.minFileBytes")
    assert(Versioned.dvDeletedCounts(spark, lake).isEmpty,
      "compaction must fold the deletion vectors away")
    assert(Versioned.read(spark, lake).select($"k", $"v")
      .as[(Long, Double)].collect().toMap == after,
      "folding must not change the table's content")
  }

  test("merge-on-read upsert keeps a BUCKETED target's layout on both " +
    "paths: pure-insert append and DV+append commits") {
    import graft.operators.Versioned
    val lake = tmpDir("morbucket") + "/t"
    Versioned.commitBucketed(
      (1L to 12L).map(k => (k, k * 1.0, 0L)).toDF("k", "v", "version"),
      lake, "k", 4)
    // pure inserts (no key overlap): the matched==0 append path
    UpsertSink.upsertBatchMor(spark, lake, Seq("k"),
      Seq((20L, 1.0, 1L), (21L, 1.0, 1L)).toDF("k", "v", "version"))
    assert(Versioned.bucketSpec(spark, lake).contains(("k", 4)),
      "a pure-insert batch must not de-bucket the table")
    // overlapping keys: the DV+append path
    UpsertSink.upsertBatchMor(spark, lake, Seq("k"),
      Seq((1L, 99.0, 2L), (30L, 2.0, 2L)).toDF("k", "v", "version"))
    assert(Versioned.bucketSpec(spark, lake).contains(("k", 4)))
    val got = Versioned.read(spark, lake).select($"k", $"v")
      .as[(Long, Double)].collect().toMap
    assert(got.size == 15 && got(1L) == 99.0 && got(30L) == 2.0 &&
      got(20L) == 1.0 && got(2L) == 2.0)
  }

  test("merge-on-read upsert matches NULL keys null-safely (a NULL-key " +
    "batch row supersedes the table's NULL-key row, same grouping as " +
    "the batch dedup) and a many-key batch is a semi-join, not a " +
    "giant literal predicate") {
    import graft.operators.Versioned
    val lake = tmpDir("mornull") + "/t"
    def df(rows: Seq[(java.lang.Long, Double, Long)]) =
      rows.toDF("k", "v", "version")
    Versioned.commit(df(Seq((1L, 1.0, 0L), (2L, 1.0, 0L),
      (null, 1.0, 0L))), lake)
    // batch with a NULL key: pre-fix the single-key isin() predicate
    // never matched NULL, so replays accumulated duplicate NULL rows
    UpsertSink.upsertBatchMor(spark, lake, Seq("k"),
      df(Seq((null, 9.0, 1L), (2L, 9.0, 1L))))
    val rows = Versioned.read(spark, lake).select($"k", $"v")
      .as[(Option[Long], Double)].collect().toSeq
    assert(rows.size == 3, s"NULL key must upsert, not duplicate: $rows")
    assert(rows.toMap == Map(Some(1L) -> 1.0, Some(2L) -> 9.0,
      None -> 9.0), s"got $rows")
    // replay the same batch: idempotent (still 3 rows, same values)
    UpsertSink.upsertBatchMor(spark, lake, Seq("k"),
      df(Seq((null, 9.0, 1L), (2L, 9.0, 1L))))
    assert(Versioned.read(spark, lake).count() == 3)
    // a 5000-distinct-key batch upserts through the broadcast
    // semi-join path (an O(keys) literal tree would be analyzer-
    // hostile at this size; the mark must stay plan-shaped)
    val big = (1L to 5000L).map(k => (k: java.lang.Long, 7.0, 2L))
    UpsertSink.upsertBatchMor(spark, lake, Seq("k"), df(big))
    val after = Versioned.read(spark, lake)
    assert(after.count() == 5001)
    assert(after.where($"v" === 7.0).count() == 5000)
  }

  test("AggSink folds micro-batches into a Versioned rollup; a replayed " +
    "batch is a no-op and checkpoint restart folds only new batches") {
    import graft.operators.Versioned
    val stage = java.nio.file.Files.createTempDirectory("aggsink_in")
    val table = tmpDir("aggsink_tbl") + "/rollup"
    val ckpt = tmpDir("aggsink_ckpt")

    def writeBatch(n: Int, rows: Seq[(String, Long)]): Unit = {
      val tmp = stage.resolve(s"tmp$n")
      rows.toDF("grp", "v")
        .withColumn("v", $"v".cast("decimal(20,2)"))
        .coalesce(1).write.parquet(tmp.toString)
      val f = java.nio.file.Files.list(tmp)
        .filter(_.toString.endsWith(".parquet")).findFirst.get
      val dst = stage.resolve(s"batch$n.parquet")
      java.nio.file.Files.move(f, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + n * 60000L))
    }
    writeBatch(0, Seq(("a", 1L), ("a", 2L), ("b", 10L)))
    writeBatch(1, Seq(("b", 5L), ("c", 7L)))

    val schema = StructType(Seq(StructField("grp", StringType),
      StructField("v", DecimalType(20, 2))))
    // returns the query's checkpoint-stable id: the fold's ledger name
    def run(): String = {
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(stage.toString)
      val q = AggSink.start(src, table, Seq("grp"), "n",
        Seq("v" -> "sum_v"), ckpt)
      try q.processAllAvailable() finally q.stop()
      q.id.toString
    }
    // a replay the way the restarted query delivers it: under its id
    def replay(qid: String, batch: String, batchId: Long): Unit = {
      val key = org.apache.spark.sql.execution.streaming.runtime
        .StreamExecution.QUERY_ID_KEY
      spark.sparkContext.setLocalProperty(key, qid)
      try AggSink.foldBatch(
        spark.read.parquet(stage.resolve(batch).toString),
        table, Seq("grp"), "n", Seq("v" -> "sum_v"), batchId)
      finally spark.sparkContext.setLocalProperty(key, null)
    }
    def state(): Map[String, (Long, BigDecimal)] =
      Versioned.read(spark, table)
        .select($"grp", $"n", $"sum_v".cast("decimal(30,2)"))
        .as[(String, Long, BigDecimal)].collect()
        .map(t => t._1 -> ((t._2, t._3))).toMap

    val qid = run()
    val s1 = state()
    assert(s1("a") == ((2L, BigDecimal(3))) &&
      s1("b") == ((2L, BigDecimal(15))) && s1("c") == ((1L, BigDecimal(7))))
    // the latest manifest carries the folded batch's ledger entry,
    // keyed by the checkpoint-stable query id, atomically
    val v1 = Versioned.versions(spark, table).last
    assert(Versioned.readMeta(spark, table, v1).get(Versioned.txnKey(qid))
      .contains("1"))

    // simulated crash replay: re-folding an already-committed batch
    // must be a no-op (no double counting, no new version)
    replay(qid, "batch1.parquet", 1L)
    assert(Versioned.versions(spark, table).last == v1)
    assert(state() == s1)

    // restart with the same checkpoint: only the new batch folds
    writeBatch(2, Seq(("a", 100L)))
    assert(run() == qid)
    val s2 = state()
    assert(s2("a") == ((3L, BigDecimal(103))))
    assert(s2("b") == s1("b") && s2("c") == s1("c"))

    // an interleaved NON-FOLD commit (an OPTIMIZE-style rewrite with
    // no ledger entry of its own) carries the ledger forward: a
    // replayed batch stays a no-op, never a double-count
    graft.operators.Versioned.commit(
      graft.operators.Versioned.read(spark, table), table, "overwrite",
      meta = Map("operation" -> "optimize"))
    val vOpt = Versioned.versions(spark, table).last
    replay(qid, "batch2.parquet", 2L)
    assert(Versioned.versions(spark, table).last == vOpt,
      "the replay must skip via the carried ledger, not re-fold")
    assert(state() == s2)
  }

  test("AggSink merges NULL-keyed groups null-safely: one row per " +
    "group across batches, never a duplicate per micro-batch") {
    import graft.operators.Versioned
    val table = tmpDir("aggsink_null") + "/rollup"
    def fold(id: Long, rows: Seq[(java.lang.String, Long)]): Unit =
      AggSink.foldBatch(rows.toDF("grp", "v"), table, Seq("grp"),
        "n", Seq("v" -> "sum_v"), batchId = id)
    fold(0L, Seq((null, 1L), ("a", 2L)))
    fold(1L, Seq((null, 10L), (null, 20L)))
    val rows = Versioned.read(spark, table)
      .select($"grp", $"n", $"sum_v".cast("long"))
      .as[(String, Long, Long)].collect().toSeq
    assert(rows.count(_._1 == null) == 1,
      s"the NULL group must stay ONE merged row, got $rows")
    assert(rows.find(_._1 == null).get == ((null, 3L, 31L)))
    assert(rows.find(_._1 == "a").get == (("a", 1L, 2L)))
  }
}
