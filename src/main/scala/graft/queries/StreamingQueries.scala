package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming surface (SURVEY.md §2.9). The reference
  * implements micro-batch incremental semantics by hand (watermark
  * predicate + chunk loop); these queries express the same concepts on
  * the engine Spark provides:
  *
  *  - ST1: tumbling-window aggregation over the events stream, run as a
  *    real `readStream` → memory-sink query (complete mode; the batch
  *    oracle is the same grouped aggregate).
  *  - ST2: stateful sessionization (30-min inactivity gap — the
  *    mapGroupsWithState pattern), expressed as one shuffle by user +
  *    per-key in-memory fold; the oracle is the gaps-and-islands SQL.
  */
object StreamingQueries {

  /** st3's two time-split staged files, memoized per (JVM, sf dir): the
    * min/max split job and the two coalesce(1) writes are harness setup
    * (a real deployment reads a landing directory), so they are paid
    * once per JVM, not once per invocation — the bench then times the
    * streaming query itself, not the staging.
    */
  private val st3Stages =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def st3StageDir(s: SparkSession, dir: String): String =
    st3Stages.computeIfAbsent(dir, { _ =>
      import s.implicits._
      val ev = Tables(s, dir, "events")
        .select($"user_id", unix_micros($"ts").as("us"))
      // Deterministic time split: all batch-0 events precede batch-1
      // events, so the incremental fold equals the global sorted fold.
      val Array(lo, hi) = ev.agg(min($"us"), max($"us")).head()
        .toSeq.map(_.asInstanceOf[Long]).toArray
      val mid = lo + (hi - lo) / 2
      val stageDir = java.nio.file.Files.createTempDirectory("st3_events")
      def stage(part: Int, df: org.apache.spark.sql.DataFrame): Unit = {
        val tmp = stageDir.resolve(s"tmp$part")
        df.coalesce(1).write.parquet(tmp.toString)
        val f = java.nio.file.Files.list(tmp).filter(_.toString.endsWith(".parquet"))
          .findFirst.get
        val dst = stageDir.resolve(s"batch$part.parquet")
        java.nio.file.Files.move(f, dst)
        // file source orders by mtime: pin batch order explicitly
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(1000000000000L + part * 60000L))
      }
      stage(0, ev.where($"us" <= mid))
      stage(1, ev.where($"us" > mid))
      stageDir.toString
    })

  /** Child session for stateful streaming queries: state-store partition
    * count must track STATE SIZE, not the session-wide shuffle setting —
    * at bench scale, 32-partition state means 32 per-operator store
    * commits per micro-batch on near-empty partitions, which measured
    * 4.2× the query's actual work (st7: 21.4 s at 32 partitions vs
    * 5.1 s at 8, same host window). A child session scopes the setting
    * to the one query — at 100 TB the same knob is turned UP the same
    * way. */
  private def streamSession(s: SparkSession, parts: Int = 8): SparkSession = {
    val c = s.newSession()
    c.conf.set("spark.sql.shuffle.partitions", parts.toString)
    c
  }

  /** Schema of the CANONICAL staged events copies (written by this
    * object, not the driver): `ts` is tz-adjusted TIMESTAMP micros.
    * The raw testdata file's encoding has drifted across rounds
    * (int64 nanos → timestamp[us]/NTZ); staging through
    * [[Tables.normalizeTs]] pins the stream-facing schema here, so the
    * fixed `readStream.schema(...)` declaration cannot drift with the
    * driver's writer. */
  private val stagedEventsSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Write the normalized events table as ONE parquet file at `dst`
    * (tz-adjusted micros `ts`, matching [[stagedEventsSchema]]). */
  private def writeCanonicalEvents(s: SparkSession, dir: String,
      dst: java.nio.file.Path): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("st_canon")
    Tables(s, dir, "events")
      .select(stagedEventsSchema.fieldNames.map(col): _*)
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val listing = java.nio.file.Files.list(tmp)
    val f = try listing.filter(_.toString.endsWith(".parquet"))
      .findFirst.get finally listing.close()
    java.nio.file.Files.move(f, dst,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // sweep the _SUCCESS/.crc remnants; the moved file is all we keep
    val sweep = java.nio.file.Files.list(tmp)
    try sweep.forEach(p => java.nio.file.Files.deleteIfExists(p))
    finally sweep.close()
    java.nio.file.Files.deleteIfExists(tmp)
  }

  /** Staged copy of events.parquet for the file-stream source (it
    * monitors a DIRECTORY; the testdata table is a single file),
    * memoized per (JVM, sf dir) — the normalization write is harness
    * setup, paid once. */
  private val fileStages =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** st6/st8's duplicated staging dir (two copies of the canonical
    * events file with pinned mtimes so batch order is deterministic),
    * memoized per (JVM, sf dir). */
  private val st6Stages =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def duplicatedEventsDir(s: SparkSession, dir: String): String =
    st6Stages.computeIfAbsent(dir, { _ =>
      val d = java.nio.file.Files.createTempDirectory("st6_events")
      writeCanonicalEvents(s, dir, d.resolve("copy0.parquet"))
      java.nio.file.Files.copy(
        d.resolve("copy0.parquet"), d.resolve("copy1.parquet"))
      Seq(0, 1).foreach { i =>
        java.nio.file.Files.setLastModifiedTime(d.resolve(s"copy$i.parquet"),
          java.nio.file.attribute.FileTime.fromMillis(
            1000000000000L + i * 60000L))
      }
      d.toString
    })

  private def stagedEventsDir(s: SparkSession, dir: String): String =
    fileStages.computeIfAbsent(dir, { _ =>
      val stageDir = java.nio.file.Files.createTempDirectory("st_events")
      writeCanonicalEvents(s, dir, stageDir.resolve("events.parquet"))
      stageDir.toString
    })

  def defs: Seq[(String, QueryDef)] = Seq(

    // ---- ST1 streaming tumbling-window aggregation (1-day windows)
    "st1_stream_tumbling" -> QueryDef(
      (s, dir) => {
        val c = streamSession(s)
        import c.implicits._
        val name = "st1_" + java.util.UUID.randomUUID.toString.replace("-", "")
        val src = c.readStream.schema(stagedEventsSchema)
          .parquet(stagedEventsDir(c, dir))
        val agg = src
          .groupBy(window($"ts", "1 day").as("win"), $"event_type")
          .agg(count(lit(1)).as("cnt"),
            round(sum($"value"), 2).as("sum_value"))
          .select($"win.start".as("win_start"), $"event_type", $"cnt",
            $"sum_value")
        val q = agg.writeStream.outputMode("complete")
          .format("memory").queryName(name).start()
        try q.processAllAvailable() finally q.stop()
        c.table(name)
      },
      Some("""SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS win_start,
        event_type, count(*) AS cnt,
        round(sum(value), 2) AS sum_value
        FROM events GROUP BY 1, 2""")),

    // ---- ST4 watermarked append-mode emission: only windows the final
    // event-time watermark (max ts − 1 h) has passed are finalized and
    // emitted — the engine-owned analogue of the reference's 80-hour
    // late-data lag (C6). The no-data micro-batch after the last file
    // advances the watermark and flushes finalized windows, so the
    // emitted set is exactly SQL-predictable: windows with
    // win_end <= max(ts) − lateness.
    "st4_stream_append" -> QueryDef(
      (s, dir) => {
        val c = streamSession(s)
        val name = "st4_" + java.util.UUID.randomUUID.toString.replace("-", "")
        val src = c.readStream.schema(stagedEventsSchema)
          .parquet(stagedEventsDir(c, dir))
        val agg = graft.streaming.EventStream
          .tumblingCounts(src, "1 day", "1 hour")
        val q = agg.writeStream.outputMode("append")
          .format("memory").queryName(name).start()
        try q.processAllAvailable() finally q.stop()
        c.table(name)
      },
      Some("""WITH wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events)
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS win_start,
          event_type, count(*) AS cnt
        FROM events, wm
        GROUP BY 1, 2, wm.w
        HAVING CAST(date_trunc('day', ts) AS TIMESTAMP) + INTERVAL 1 DAY
          <= wm.w""")),

    // ---- ST5 SLIDING windows (2-day window, 1-day slide): every event
    // lands in exactly two windows — starts at trunc(ts) and
    // trunc(ts) − 1 day (epoch-aligned boundaries, UTC session TZ) —
    // which is exactly SQL-expressible as a two-way union.
    "st5_stream_sliding" -> QueryDef(
      (s, dir) => {
        val c = streamSession(s)
        import c.implicits._
        val name = "st5_" + java.util.UUID.randomUUID.toString.replace("-", "")
        val src = c.readStream.schema(stagedEventsSchema)
          .parquet(stagedEventsDir(c, dir))
        val agg = src
          .groupBy(window($"ts", "2 days", "1 day").as("win"), $"event_type")
          .agg(count(lit(1)).as("cnt"))
          .select($"win.start".as("win_start"), $"event_type", $"cnt")
        val q = agg.writeStream.outputMode("complete")
          .format("memory").queryName(name).start()
        try q.processAllAvailable() finally q.stop()
        c.table(name)
      },
      Some("""WITH starts AS (
          SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS win_start,
                 event_type FROM events
          UNION ALL
          SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) - INTERVAL 1 DAY,
                 event_type FROM events)
        SELECT win_start, event_type, count(*) AS cnt
        FROM starts GROUP BY 1, 2""")),

    // ---- ST6 streaming exact deduplication: the events file is staged
    // TWICE as two micro-batches (maxFilesPerTrigger=1), so every row is
    // a cross-batch duplicate; dropDuplicates state carries event_ids
    // across the batch boundary and the downstream aggregate must equal
    // the single-copy batch answer. At scale the same pipeline uses
    // dropDuplicatesWithinWatermark so state is bounded by the lateness
    // horizon instead of the full key history.
    "st6_stream_dedup" -> QueryDef(
      (s, dir) => {
        val c = streamSession(s)
        import c.implicits._
        val name = "st6_" + java.util.UUID.randomUUID.toString.replace("-", "")
        val stage = duplicatedEventsDir(c, dir)
        val src = c.readStream.schema(stagedEventsSchema)
          .option("maxFilesPerTrigger", "1").parquet(stage)
        val agg = src.dropDuplicates("event_id")
          .groupBy($"event_type")
          .agg(count(lit(1)).as("cnt"))
        val q = agg.writeStream.outputMode("complete")
          .format("memory").queryName(name).start()
        try q.processAllAvailable() finally q.stop()
        c.table(name)
      },
      Some("SELECT event_type, count(*) AS cnt FROM events GROUP BY 1")),

    // ---- ST7 watermarked stream-stream time-interval join: clicks and
    // purchases as two independent streams, joined per user where the
    // purchase lands within 1 hour after the click. Both sides carry
    // event-time watermarks + the time-range condition bounds join state
    // (each side's buffer is evicted once the other side's watermark
    // passes the interval) — the shape that keeps state finite on an
    // unbounded stream. Inner-join matches emit immediately, so the
    // appended pairs equal the batch join; aggregated per user from the
    // sink table to keep the compared result small.
    "st7_stream_stream_join" -> QueryDef(
      (s, dir) => {
        val c = streamSession(s)
        import c.implicits._
        val name = "st7_" + java.util.UUID.randomUUID.toString.replace("-", "")
        def src = c.readStream.schema(stagedEventsSchema)
          .parquet(stagedEventsDir(c, dir))
        val clicks = src.where($"event_type" === "click")
          .select($"user_id".as("c_user"), $"ts".as("c_ts"))
          .withWatermark("c_ts", "1 hour")
        val purchases = src.where($"event_type" === "purchase")
          .select($"user_id".as("p_user"), $"ts".as("p_ts"))
          .withWatermark("p_ts", "1 hour")
        val joined = clicks.join(purchases,
          $"c_user" === $"p_user" && $"p_ts" >= $"c_ts" &&
            $"p_ts" <= $"c_ts" + expr("INTERVAL 1 HOUR"))
        val q = joined.writeStream.outputMode("append")
          .format("memory").queryName(name).start()
        try q.processAllAvailable() finally q.stop()
        c.table(name).groupBy($"c_user".as("user_id"))
          .agg(count(lit(1)).as("pairs"))
      },
      Some("""SELECT c.user_id, count(*) AS pairs
        FROM events c JOIN events p
          ON c.user_id = p.user_id
         AND c.event_type = 'click' AND p.event_type = 'purchase'
         AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
        GROUP BY 1""")),

    // ---- ST8 BOUNDED-STATE streaming dedup: the production form st6's
    // comment promises — `dropDuplicatesWithinWatermark` holds a key in
    // state only until the event-time watermark passes its ts + delay,
    // so state tracks the lateness horizon, not the full key history.
    // The 60-day delay exceeds the 30-day event span, so within this
    // run the guarantee is total and the oracle is the same single-copy
    // answer; at production scale the delay is the dedup SLA.
    "st8_stream_dedup_bounded" -> QueryDef(
      (s, dir) => {
        val c = streamSession(s)
        import c.implicits._
        val name = "st8_" + java.util.UUID.randomUUID.toString.replace("-", "")
        val stage = duplicatedEventsDir(c, dir)
        val src = c.readStream.schema(stagedEventsSchema)
          .option("maxFilesPerTrigger", "1").parquet(stage)
          .withWatermark("ts", "60 days")
        val agg = src.dropDuplicatesWithinWatermark(Seq("event_id"))
          .groupBy($"event_type")
          .agg(count(lit(1)).as("cnt"))
        val q = agg.writeStream.outputMode("complete")
          .format("memory").queryName(name).start()
        try q.processAllAvailable() finally q.stop()
        c.table(name)
      },
      Some("SELECT event_type, count(*) AS cnt FROM events GROUP BY 1")),

    // ---- ST9 exactly-once parquet FILE sink: the streaming write path
    // a lake deployment actually lands data with — committed files are
    // tracked in the sink's _spark_metadata manifest, and reading the
    // directory back goes through that manifest (half-written files are
    // invisible). Stateless passthrough filter; the read-back rows must
    // equal the batch filter.
    "st9_stream_file_sink" -> QueryDef(
      (s, dir) => {
        val c = streamSession(s)
        import c.implicits._
        val out = java.nio.file.Files.createTempDirectory("st9_out")
        val src = c.readStream.schema(stagedEventsSchema)
          .parquet(stagedEventsDir(c, dir))
          .where($"event_type" === "purchase")
          .select($"event_id", $"user_id", $"value")
        val q = src.writeStream.format("parquet")
          .option("path", out.toString + "/data")
          .option("checkpointLocation", out.toString + "/ckpt")
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
        c.read.parquet(out.toString + "/data")
      },
      Some("""SELECT event_id, user_id, value FROM events
        WHERE event_type = 'purchase'""")),

    // ---- ST10 streaming materialized-aggregate maintenance
    // (streaming.AggSink): two time-split micro-batches fold into a
    // per-user (count, ts-checksum) rollup committed as Versioned
    // snapshots whose manifests carry the folded batchId ATOMICALLY —
    // the exactly-once discipline an aggregate sink needs (a fold is
    // not an idempotent merge; EventStreamSpec proves replay is a
    // no-op). The final table must equal the one-shot batch aggregate.
    // us % 1e9 keeps the checksum sum far from BIGINT range at any sf.
    "st10_stream_agg_sink" -> QueryDef(
      (s, dir) => {
        val c = streamSession(s)
        import c.implicits._
        val table = java.nio.file.Files.createTempDirectory("st10_tbl")
          .toString + "/rollup"
        val ckpt = java.nio.file.Files.createTempDirectory("st10_ckpt")
          .toString
        val src = c.readStream
          .schema(StructType(Seq(StructField("user_id", LongType),
            StructField("us", LongType))))
          .option("maxFilesPerTrigger", "1")
          .parquet(st3StageDir(s, dir))
          .withColumn("us_mod", $"us" % 1000000000L)
        val q = graft.streaming.AggSink.start(src, table, Seq("user_id"),
          "n_events", Seq("us_mod" -> "sum_us_mod"), ckpt)
        try q.processAllAvailable() finally q.stop()
        graft.operators.Versioned.read(c, table)
          .select($"user_id", $"n_events", $"sum_us_mod")
      },
      Some("""SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        CAST(sum(epoch_us(CAST(ts AS TIMESTAMP)) % 1000000000) AS BIGINT)
          AS sum_us_mod
        FROM events GROUP BY user_id""")),

    // ---- ST11 lake change-feed tailing (streaming.ChangeFeedSource):
    // a Versioned snapshot table is the STREAM SOURCE — commits become
    // micro-batches (the Delta streaming-source surface). The first
    // commit is consumed as the initial snapshot batch, the second
    // arrives as a live incremental batch while the query runs; the
    // drained union must equal the batch query over all events.
    "st11_changefeed_stream" -> QueryDef(
      (s, dir) => {
        val c = streamSession(s)
        import c.implicits._
        val base = java.nio.file.Files.createTempDirectory("st11").toString
        val table = base + "/t"
        val ev = Tables(c, dir, "events")
          .select($"event_id", $"user_id", $"value", $"event_type")
        graft.operators.Versioned.commit(
          ev.where($"event_id" % 2 === 0), table) // v0
        val q = c.readStream.format("graft-changes")
          .option("path", table).load()
          .where($"event_type" === "purchase")
          .select($"event_id", $"user_id", $"value")
          .writeStream.format("parquet")
          .option("path", base + "/out")
          .option("checkpointLocation", base + "/ckpt")
          .outputMode("append").start()
        try {
          q.processAllAvailable() // batch 1: the v0 snapshot
          graft.operators.Versioned.commit(
            ev.where($"event_id" % 2 =!= 0), table,
            "append") // v1 lands mid-stream
          q.processAllAvailable() // batch 2: the (v0, v1] delta
        } finally q.stop()
        c.read.parquet(base + "/out")
      },
      Some("""SELECT event_id, user_id, value FROM events
        WHERE event_type = 'purchase'""")),

    // ---- ST12 NATIVE session windows: the engine-owned form of
    // st2/st3's sessionization — `session_window(ts, gap)` merges
    // events into [first_ts, last_ts + gap) windows inside the
    // streaming state store (codegen'd merge, watermark-driven
    // eviction), where st3 hand-rolls the same semantics in
    // flatMapGroupsWithState. Append mode emits exactly the sessions
    // the final watermark (max ts − 1 h) has sealed, so the emitted
    // set is SQL-predictable: sessions with last_ts + gap <= wm.
    // Boundary note: Spark opens a NEW session when the inter-event
    // gap is >= the gap duration (intervals are [start, end)), so the
    // oracle's islands predicate uses >=, not st2's > (st2 mirrors its
    // own mapGroups fold, which uses >).
    "st12_session_window" -> QueryDef(
      (s, dir) => {
        val c = streamSession(s)
        import c.implicits._
        val name = "st12_" + java.util.UUID.randomUUID.toString.replace("-", "")
        val src = c.readStream.schema(stagedEventsSchema)
          .parquet(stagedEventsDir(c, dir))
          .withWatermark("ts", "1 hour")
        val agg = src
          .groupBy(session_window($"ts", "30 minutes").as("win"), $"user_id")
          .agg(count(lit(1)).as("cnt"))
          .select($"user_id", $"win.start".as("win_start"), $"cnt")
        val q = agg.writeStream.outputMode("append")
          .format("memory").queryName(name).start()
        try q.processAllAvailable() finally q.stop()
        c.table(name)
      },
      Some("""WITH marked AS (
          SELECT user_id, ts,
            CASE WHEN prev_ts IS NULL
              OR ts - prev_ts >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END
              AS new_sess
          FROM (SELECT user_id, ts,
              lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
            FROM events) x),
        sess AS (
          SELECT user_id, ts,
            sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
              ROWS UNBOUNDED PRECEDING) AS sid
          FROM marked),
        agg AS (
          SELECT user_id, min(ts) AS win_start,
            max(ts) + INTERVAL 30 MINUTE AS win_end,
            CAST(count(*) AS BIGINT) AS cnt
          FROM sess GROUP BY user_id, sid),
        wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events)
        SELECT user_id, win_start, cnt FROM agg, wm
        WHERE win_end <= wm.w""")),

    // ---- ST13 transformWithState (arbitrary stateful processing v2):
    // st3's sessionization on the Spark 4 replacement API — typed
    // ValueState in the RocksDB state store, two time-split
    // micro-batches, state carrying across the batch boundary. Same
    // gaps-and-islands oracle as st2/st3; the final state per user is
    // the max update-mode emission.
    "st13_transform_with_state" -> QueryDef(
      (s, dir) => {
        import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
        val c = streamSession(s)
        // the v2 API's production pairing: off-heap hot state +
        // changelog checkpoints (the HDFS-backed default holds every
        // key on-heap — the wrong shape for 100 TB key cardinality)
        c.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state" +
            ".RocksDBStateStoreProvider")
        import c.implicits._
        val name = "st13_" + java.util.UUID.randomUUID.toString.replace("-", "")
        val src = c.readStream
          .schema(StructType(Seq(StructField("user_id", LongType),
            StructField("us", LongType))))
          .option("maxFilesPerTrigger", "1")
          .parquet(st3StageDir(c, dir))
        val out = src.as[(Long, Long)].groupByKey(_._1)
          .transformWithState(
            new graft.streaming.SessionCountProcessor(30L * 60 * 1000000),
            TimeMode.None(), OutputMode.Update())
        val q = out.toDF("user_id", "n_sessions", "n_events")
          .writeStream.outputMode("update").format("memory")
          .queryName(name).start()
        try q.processAllAvailable() finally q.stop()
        c.table(name).groupBy($"user_id")
          .agg(max($"n_sessions").as("n_sessions"),
            max($"n_events").as("n_events"))
      },
      Some("""SELECT user_id,
        CAST(sum(CASE WHEN prev_ts IS NULL
            OR ts - prev_ts > INTERVAL 30 MINUTE THEN 1 ELSE 0 END) AS BIGINT)
          AS n_sessions,
        CAST(count(*) AS BIGINT) AS n_events
        FROM (SELECT user_id, ts,
            lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
          FROM events) t
        GROUP BY user_id""")),

    // ---- ST14 stream-static join: the events stream enriched against
    // a BATCH dimension (customer) under broadcast — the engine
    // re-resolves the static side per micro-batch, no state is kept
    // for it, and the broadcast means zero shuffle on the unbounded
    // side: exactly how a 100 TB/day stream joins a dimension table.
    "st14_stream_static_join" -> QueryDef(
      (s, dir) => {
        val c = streamSession(s)
        import c.implicits._
        val name = "st14_" + java.util.UUID.randomUUID.toString.replace("-", "")
        val dim = Tables(c, dir, "customer")
          .select($"c_custkey", $"c_nationkey")
        val src = c.readStream.schema(stagedEventsSchema)
          .parquet(stagedEventsDir(c, dir))
        val agg = src.join(broadcast(dim), $"user_id" === $"c_custkey")
          .groupBy($"c_nationkey")
          .agg(count(lit(1)).as("cnt"),
            round(sum($"value"), 2).as("sum_value"))
        val q = agg.writeStream.outputMode("complete")
          .format("memory").queryName(name).start()
        try q.processAllAvailable() finally q.stop()
        c.table(name)
      },
      Some("""SELECT c_nationkey, count(*) AS cnt,
          round(sum(value), 2) AS sum_value
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY 1""")),

    // ---- ST15 watermarked stream-stream LEFT OUTER join: st7's
    // interval join with the outer semantics that make state eviction
    // OBSERVABLE — a click with no purchase in its hour emits a
    // null-extended row only once the joint watermark (min of both
    // streams' max ts − 1 h) has passed its whole match window, i.e.
    // the engine can PROVE no match is coming. The final no-data batch
    // flushes exactly the SQL-predictable expired set; unexpired
    // unmatched clicks emit nothing.
    "st15_stream_outer_join" -> QueryDef(
      (s, dir) => {
        val c = streamSession(s)
        import c.implicits._
        val name = "st15_" + java.util.UUID.randomUUID.toString.replace("-", "")
        def src = c.readStream.schema(stagedEventsSchema)
          .parquet(stagedEventsDir(c, dir))
        val clicks = src.where($"event_type" === "click")
          .select($"user_id".as("c_user"), $"ts".as("c_ts"))
          .withWatermark("c_ts", "1 hour")
        val purchases = src.where($"event_type" === "purchase")
          .select($"user_id".as("p_user"), $"ts".as("p_ts"))
          .withWatermark("p_ts", "1 hour")
        val joined = clicks.join(purchases,
          $"c_user" === $"p_user" && $"p_ts" >= $"c_ts" &&
            $"p_ts" <= $"c_ts" + expr("INTERVAL 1 HOUR"),
          "leftOuter")
        val q = joined.writeStream.outputMode("append")
          .format("memory").queryName(name).start()
        try q.processAllAvailable() finally q.stop()
        c.table(name).groupBy($"c_user".as("user_id"))
          .agg(count($"p_ts").as("pairs"),
            count(when($"p_ts".isNull, 1)).as("expired_unmatched"))
      },
      Some("""WITH wm AS (
          SELECT least(
              (SELECT max(ts) FROM events WHERE event_type = 'click'),
              (SELECT max(ts) FROM events WHERE event_type = 'purchase'))
            - INTERVAL 1 HOUR AS w),
        clicks AS (
          SELECT user_id, ts AS c_ts FROM events WHERE event_type = 'click'),
        purchases AS (
          SELECT user_id, ts AS p_ts FROM events
          WHERE event_type = 'purchase'),
        per_click AS (
          SELECT c.user_id, c.c_ts,
            (SELECT count(*) FROM purchases p
              WHERE p.user_id = c.user_id
                AND p.p_ts >= c.c_ts
                AND p.p_ts <= c.c_ts + INTERVAL 1 HOUR) AS m
          FROM clicks c)
        SELECT user_id,
          CAST(sum(m) AS BIGINT) AS pairs,
          CAST(sum(CASE WHEN m = 0
              AND c_ts + INTERVAL 1 HOUR < (SELECT w FROM wm)
            THEN 1 ELSE 0 END) AS BIGINT) AS expired_unmatched
        FROM per_click
        GROUP BY user_id
        HAVING sum(m) > 0 OR sum(CASE WHEN m = 0
            AND c_ts + INTERVAL 1 HOUR < (SELECT w FROM wm)
          THEN 1 ELSE 0 END) > 0""")),

    // ---- ST2 sessionization with 30-minute inactivity gap: one shuffle
    // by user_id, per-user sorted fold (the state a
    // flatMapGroupsWithState session would hold, computed batch-side)
    "st2_sessionize" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        val gapMicros = 30L * 60 * 1000000
        Tables(s, dir, "events")
          .select($"user_id", unix_micros($"ts").as("us"))
          .as[(Long, Long)]
          .groupByKey(_._1)
          .mapGroups { (uid, it) =>
            val times = it.map(_._2).toArray
            java.util.Arrays.sort(times)
            var sessions = if (times.isEmpty) 0L else 1L
            var i = 1
            while (i < times.length) {
              if (times(i) - times(i - 1) > gapMicros) sessions += 1
              i += 1
            }
            (uid, sessions, times.length.toLong)
          }
          .toDF("user_id", "n_sessions", "n_events")
      },
      Some("""SELECT user_id,
        CAST(sum(CASE WHEN prev_ts IS NULL
            OR ts - prev_ts > INTERVAL 30 MINUTE THEN 1 ELSE 0 END) AS BIGINT)
          AS n_sessions,
        CAST(count(*) AS BIGINT) AS n_events
        FROM (SELECT user_id, ts,
            lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
          FROM events) t
        GROUP BY user_id""")),

    // ---- ST3 stateful streaming sessionization: the REAL
    // flatMapGroupsWithState path. Events are staged as two time-split
    // files processed as two micro-batches (maxFilesPerTrigger=1), so
    // per-user session state (last-seen ts, counts) genuinely carries
    // across batch boundaries; update-mode emissions accumulate in the
    // memory sink and the final state per user is the running max.
    // Same gaps-and-islands oracle as ST2.
    "st3_stateful_sessionize" -> QueryDef(
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
        val gapMicros = 30L * 60 * 1000000
        val name = "st3_" + java.util.UUID.randomUUID.toString.replace("-", "")
        val c = streamSession(s)
        val src = c.readStream
          .schema(StructType(Seq(StructField("user_id", LongType),
            StructField("us", LongType))))
          .option("maxFilesPerTrigger", "1")
          .parquet(st3StageDir(s, dir))
        val out = src.as[(Long, Long)].groupByKey(_._1)
          .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
            (uid: Long, it: Iterator[(Long, Long)],
             state: GroupState[(Long, Long, Long)]) =>
              val times = it.map(_._2).toArray
              java.util.Arrays.sort(times)
              var (last, sess, nev) = state.getOption.getOrElse((Long.MinValue, 0L, 0L))
              times.foreach { t =>
                if (last == Long.MinValue || t - last > gapMicros) sess += 1
                last = t; nev += 1
              }
              state.update((last, sess, nev))
              Iterator((uid, sess, nev))
          }
        val q = out.toDF("user_id", "n_sessions", "n_events")
          .writeStream.outputMode("update").format("memory").queryName(name)
          .start()
        try q.processAllAvailable() finally q.stop()
        // counts are monotone per user: the max emission IS the final state
        c.table(name).groupBy($"user_id")
          .agg(max($"n_sessions").as("n_sessions"),
            max($"n_events").as("n_events"))
      },
      Some("""SELECT user_id,
        CAST(sum(CASE WHEN prev_ts IS NULL
            OR ts - prev_ts > INTERVAL 30 MINUTE THEN 1 ELSE 0 END) AS BIGINT)
          AS n_sessions,
        CAST(count(*) AS BIGINT) AS n_events
        FROM (SELECT user_id, ts,
            lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
          FROM events) t
        GROUP BY user_id""")),

    // ---- ST16 incremental corpus curation — pipe1's streaming
    // variant over the change feed: a documents snapshot table grows
    // by commits; each micro-batch runs the SAME admission gate as
    // the batch capstone (CapstoneQueries.gate — pure projections, so
    // the code is literally shared) and exact-dedups incrementally
    // against streaming state (`dropDuplicates` on the normalized
    // text; at 100 TB the production form bounds the state with
    // dropDuplicatesWithinWatermark or the dd10 persisted band
    // index). v1 appends the rest of the corpus PLUS exact copies of
    // v0 docs offset by a multiple of 97 (id ≡ source mod 97, so a
    // copy passes the eval carve-out iff its source did): every
    // gated copy finds its source already in state and is dropped —
    // the oracle is the gated ORIGINALS, closed-form.
    "st16_incremental_curation" -> QueryDef(
      (s, dir) => {
        val c = streamSession(s)
        import c.implicits._
        val base = java.nio.file.Files.createTempDirectory("st16").toString
        val table = base + "/docs"
        val docs = Tables(c, dir, "documents")
          .select($"doc_id", $"text", $"n_chars")
        graft.operators.Versioned.commit(
          docs.where($"doc_id" % 3 === 0).coalesce(2), table) // v0
        val q = c.readStream.format("graft-changes")
          .option("path", table).load()
          .transform(CapstoneQueries.gate)
          .dropDuplicates("norm")
          .select($"doc_id", $"ws_tokens")
          .writeStream.format("parquet")
          .option("path", base + "/out")
          .option("checkpointLocation", base + "/ckpt")
          .outputMode("append").start()
        try {
          q.processAllAvailable() // batch 1: the v0 snapshot
          val copies = docs.where($"doc_id" % 3 === 0 && $"doc_id" < 60)
            .withColumn("doc_id", $"doc_id" + 97L * 10310L)
          graft.operators.Versioned.commit(
            docs.where($"doc_id" % 3 =!= 0).unionByName(copies)
              .coalesce(2), table, "append") // v1 lands mid-stream
          q.processAllAvailable() // batch 2: the (v0, v1] delta
        } finally q.stop()
        c.read.parquet(base + "/out")
      },
      Some("""SELECT doc_id,
          CAST(len(string_split_regex(text, '\s+')) AS BIGINT)
            AS ws_tokens
        FROM documents
        WHERE doc_id % 97 <> 0
          AND n_chars BETWEEN 60 AND 520
          AND len(string_split_regex(lower(text), '\s+')) >= 5
          AND 1.0 - len(list_distinct(list_transform(
                range(1, len(string_split_regex(lower(text), '\s+')) - 1),
                i -> string_split_regex(lower(text), '\s+')[i] || ' ' ||
                     string_split_regex(lower(text), '\s+')[i+1] || ' ' ||
                     string_split_regex(lower(text), '\s+')[i+2]
              )))::DOUBLE /
              greatest(len(string_split_regex(lower(text), '\s+')) - 2, 1)
            <= 0.3
          AND round(len(list_filter(string_split_regex(lower(text), '\s+'),
                tk -> tk IN ('the','a','and','of','to','in','is')
              ))::DOUBLE / len(string_split_regex(lower(text), '\s+')), 6)
            > 0.01""")),

    // ---- ST17 streaming NEAR-dedup against the persisted band index
    // — st16 composed with dd10 (graft.streaming.NearDedup): the same
    // change-feed + admission gate, but dedup state is the PERSISTED
    // MinHash band index instead of dropDuplicates' unbounded state
    // store — each micro-batch probes the index at chunk cost and
    // appends its own bands (CAS commit, batch-id ledger meta). Batch
    // 1 indexes the v0 snapshot; v1 injects EXACT copies across the
    // batch boundary (of v0 docs — caught via the index:
    // dup_of_corpus) and within the batch (of v1 docs — caught by
    // keep-first domination: dup_in_chunk). Copies share the full
    // signature, so every band collides — recall on both classes is
    // closed-form (the dd10 count device); id offsets are multiples
    // of 97, so a copy passes the eval carve-out iff its source does.
    // Snapshot originals prove batch 1 probed an EMPTY index (zero
    // dup_of_corpus); per-doc flags on originals are legitimately
    // non-closed-form (the corpus carries true near-duplicates), so
    // per-doc behavior is spec-pinned on pairwise-independent texts
    // in NearDedupSpec instead — along with checkpoint-restart
    // convergence and replay idempotence.
    "st17_streaming_near_dedup" -> QueryDef(
      (s, dir) => {
        val c = streamSession(s)
        import c.implicits._
        val corpusCopyOff = 97L * 200000 // 19.4M: beyond any sf's ids
        val chunkCopyOff = 97L * 400000 // disjoint, so classes can't mix
        val base = java.nio.file.Files.createTempDirectory("st17").toString
        val table = base + "/docs"
        val docs = Tables(c, dir, "documents")
          .select($"doc_id", $"text", $"n_chars")
        graft.operators.Versioned.commit(
          docs.where($"doc_id" % 3 === 0).coalesce(2), table) // v0
        val q = c.readStream.format("graft-changes")
          .option("path", table).load()
          .transform(CapstoneQueries.gate)
          .writeStream
          .foreachBatch(graft.streaming.NearDedup.sink(
            $"text", "doc_id", base + "/index", base + "/out"))
          .option("checkpointLocation", base + "/ckpt")
          .outputMode("update").start()
        try {
          q.processAllAvailable() // batch 1: the v0 snapshot
          val originals = docs.where($"doc_id" % 3 =!= 0)
          val corpusCopies = docs.where($"doc_id" % 3 === 0 && $"doc_id" < 60)
            .withColumn("doc_id", $"doc_id" + corpusCopyOff)
          val chunkCopies = originals.where($"doc_id" < 60)
            .withColumn("doc_id", $"doc_id" + chunkCopyOff)
          graft.operators.Versioned.commit(
            originals.unionByName(corpusCopies).unionByName(chunkCopies)
              .coalesce(2), table, "append") // v1 lands mid-stream
          q.processAllAvailable() // batch 2: the (v0, v1] delta
        } finally q.stop()
        c.read.parquet(base + "/out/flags")
          .select(
            when($"doc_id" >= chunkCopyOff, lit("chunk_copy"))
              .when($"doc_id" >= corpusCopyOff, lit("corpus_copy"))
              .when($"doc_id" % 3 === 0, lit("snapshot_originals"))
              .otherwise(lit(null)).as("kind"),
            when($"doc_id" >= chunkCopyOff, $"dup_in_chunk")
              .otherwise($"dup_of_corpus").cast("long").as("flagged"))
          .where($"kind".isNotNull)
          .groupBy($"kind")
          .agg(count(lit(1)).as("n"), sum($"flagged").as("n_flagged"))
      },
      Some("""WITH gated AS (
          SELECT doc_id FROM documents
          WHERE doc_id % 97 <> 0
            AND n_chars BETWEEN 60 AND 520
            AND len(string_split_regex(lower(text), '\s+')) >= 5
            AND 1.0 - len(list_distinct(list_transform(
                  range(1, len(string_split_regex(lower(text), '\s+')) - 1),
                  i -> string_split_regex(lower(text), '\s+')[i] || ' ' ||
                       string_split_regex(lower(text), '\s+')[i+1] || ' ' ||
                       string_split_regex(lower(text), '\s+')[i+2]
                )))::DOUBLE /
                greatest(len(string_split_regex(lower(text), '\s+')) - 2, 1)
              <= 0.3
            AND round(len(list_filter(string_split_regex(lower(text), '\s+'),
                  tk -> tk IN ('the','a','and','of','to','in','is')
                ))::DOUBLE / len(string_split_regex(lower(text), '\s+')), 6)
              > 0.01)
        SELECT 'chunk_copy' AS kind, count(*) AS n,
            CAST(count(*) AS BIGINT) AS n_flagged
          FROM gated WHERE doc_id % 3 <> 0 AND doc_id < 60
        UNION ALL
        SELECT 'corpus_copy', count(*), CAST(count(*) AS BIGINT)
          FROM gated WHERE doc_id % 3 = 0 AND doc_id < 60
        UNION ALL
        SELECT 'snapshot_originals', count(*), CAST(0 AS BIGINT)
          FROM gated WHERE doc_id % 3 = 0""")),

    // ---- ST18 streaming ANN ingest — the similarity-search family's
    // incremental loop (graft.streaming.AnnIngest): an embeddings
    // snapshot table grows by commits; the IVF index is ITSELF a
    // snapshot table bucketed by list_id (the r16 layout), and each
    // micro-batch is one CAS-guarded append assigned under the index's
    // COMMITTED codebook (seeded from the v0 half before the stream) —
    // probes bucket-prune on list_id across every batch's rows and the
    // index grows at chunk cost. Exactly-once rides the txn.anningest
    // commit-meta ledger (st17's discipline — a snapshot append
    // replayed blindly would duplicate vectors), and retrain handoff
    // is by construction: batches and the final probe both resolve the
    // codebook from the index's own commits, so an in-place retrain
    // needs no side channel. The declared result is a FULL probe
    // (nprobe = nlist) of the streamed-in index via the no-codebook
    // (descriptor-resolving) probe, which degrades IVF to exact
    // search: it must equal brute-force cosine top-10 over everything
    // ingested — sim1's DuckDB oracle verbatim. Per-batch drift stats
    // ride the commit-meta baseline, crash-atomic with their append.
    "st18_streaming_ann_ingest" -> QueryDef(
      (s, dir) => {
        val c = streamSession(s)
        import c.implicits._
        val base = java.nio.file.Files.createTempDirectory("st18").toString
        val table = base + "/vecs"
        val emb = Tables(c, dir, "embeddings")
          .select($"vec_id", $"embedding")
        val corpus = emb.where($"vec_id" =!= 0)
        val q = emb.where($"vec_id" === 0).select($"embedding")
          .head().getSeq[Float](0).toArray
        // the SEED codebook, from the v0 half only — committed into
        // the index at creation; the full probe is exact regardless,
        // which is the point of declaring the full-probe result
        // rather than a recall number
        val cb = graft.operators.Similarity.buildCodebook(
          corpus.where($"vec_id" % 2 === 0), "embedding", "vec_id",
          nlist = 16)
        graft.operators.Versioned.commit(
          corpus.where($"vec_id" % 2 === 0).coalesce(2), table) // v0
        val sq = c.readStream.format("graft-changes")
          .option("path", table).load()
          .writeStream
          .foreachBatch(graft.streaming.AnnIngest.sink(
            "embedding", cb, base + "/ivf"))
          .option("checkpointLocation", base + "/ckpt")
          .outputMode("update").start()
        try {
          sq.processAllAvailable() // batch 1: the v0 snapshot
          graft.operators.Versioned.commit(
            corpus.where($"vec_id" % 2 =!= 0).coalesce(2),
            table, "append") // v1 lands mid-stream
          sq.processAllAvailable() // batch 2: the (v0, v1] delta
        } finally sq.stop()
        graft.operators.Similarity.probePersistedIvf(c, base + "/ivf",
          "embedding", "vec_id", q, nprobe = 16, k = 10)
      },
      Some(SimilarityQueries.bruteForceSql)),

    // ---- ST19 streaming PRODUCT-QUANTIZED ANN ingest: st18's shape
    // on the scheme-2 layout — the seed commits the product-codes
    // schema + both sidecars, each micro-batch encodes under the
    // COMMITTED books (resolved from the descriptor inside the CAS
    // loop, never the caller's), and the declared result is the
    // full-radius two-stage probe: at nprobe = nlist with m covering
    // the corpus, the ADC shortlist admits everything and the exact
    // rescore against the source degrades the probe to brute force —
    // so the whole streamed lifecycle (seed, two batches, ledger,
    // descriptor resolution, ADC scorer, rescore) is hash-checked
    // against the same DuckDB cosine oracle as sim1.
    "st19_streaming_product_ingest" -> QueryDef(
      (s, dir) => {
        val c = streamSession(s)
        import c.implicits._
        val base = java.nio.file.Files.createTempDirectory("st19").toString
        val table = base + "/vecs"
        val emb = Tables(c, dir, "embeddings")
          .select($"vec_id", $"embedding")
        val corpus = emb.where($"vec_id" =!= 0)
        val q = emb.where($"vec_id" === 0).select($"embedding")
          .head().getSeq[Float](0).toArray
        val half = corpus.where($"vec_id" % 2 === 0)
        val cb = graft.operators.Similarity.buildCodebook(
          half, "embedding", "vec_id", nlist = 16)
        val books = graft.operators.ProductQuant.train(
          half, "embedding", "vec_id", numSub = 16, k = 256, iters = 1)
        graft.operators.Versioned.commit(half.coalesce(2), table) // v0
        val sq = c.readStream.format("graft-changes")
          .option("path", table).load()
          .writeStream
          .foreachBatch(graft.streaming.AnnIngest.sink(
            "embedding", cb, base + "/ivfp", pqId = Some("vec_id"),
            productBooks = Some(books)))
          .option("checkpointLocation", base + "/ckpt")
          .outputMode("update").start()
        try {
          sq.processAllAvailable() // batch 1: the v0 snapshot
          graft.operators.Versioned.commit(
            corpus.where($"vec_id" % 2 =!= 0).coalesce(2),
            table, "append") // v1 lands mid-stream
          sq.processAllAvailable() // batch 2: the (v0, v1] delta
        } finally sq.stop()
        graft.operators.Similarity.probePersistedIvfProduct(c,
          base + "/ivfp", corpus, "embedding", "vec_id", q,
          nprobe = 16, m = 1000000, k = 10)
      },
      Some(SimilarityQueries.bruteForceSql))
  )
}
