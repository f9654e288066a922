package graft.streaming

import graft.operators.Versioned
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming maintenance of a materialized aggregate — the rollup table
  * a BI layer reads, kept current per micro-batch instead of recomputed
  * nightly over the whole lake (the reference's consumers re-aggregate
  * everything downstream of `Ingest:329-415`; this is the streaming
  * form of [[graft.operators.IncrementalAgg]]).
  *
  * Unlike [[UpsertSink]], an aggregate fold is NOT idempotent: replaying
  * a micro-batch after a crash would double-count it. Exactly-once here
  * comes from the commit itself: each fold's snapshot carries the
  * ledger entry `txn.<appId>=<batchId>` ([[Versioned.TxnPrefix]]) in
  * the same manifest rename as its rows, and every later commit carries
  * it forward. The appId is the streaming query's checkpoint-stable id,
  * or the fixed name `graft-agg` when [[foldBatch]] is driven outside a
  * stream. A replayed batch is skipped by one header read of the
  * latest version; a second delivery racing the first is refused
  * inside the commit lock ([[Versioned.ReplayedBatch]]). A batch that
  * crashed before the rename left only an orphaned (invisible) segment
  * dir, swept by vacuum.
  *
  * Lost checkpoint: a restart without the checkpoint is a NEW query
  * (new queryId, batch ids from 0) and folds its batches as fresh.
  *
  * Each fold re-aggregates ONLY the groups present in the batch
  * (anti-join keeps untouched groups' rows as-is) and commits a new
  * full snapshot; at 100 TB the commit cost is the snapshot WRITE, so
  * the production variant partitions the aggregate table and commits
  * only touched partitions' segments — same manifest discipline, noted
  * in Versioned's scaladoc.
  */
object AggSink {

  /** Start a foreachBatch fold of `stream` into the Versioned aggregate
    * table at `table`: group by `keys`, count as `countAs`, sum each
    * `sums` source column into its alias. */
  def start(stream: DataFrame, table: String, keys: Seq[String],
      countAs: String, sums: Seq[(String, String)],
      checkpoint: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        foldBatch(batch, table, keys, countAs, sums, batchId)
      }
      .start()

  /** Fold one micro-batch (exposed for replay testing). No-op when the
    * ledger already records `batchId` for this query.
    *
    * Group matching is NULL-SAFE (`<=>`, like the MoR upsert sink's
    * matched-row mark) — plain equality never matches a NULL-keyed
    * group, which would then accumulate one duplicate row per batch
    * with unmerged counts. The first fold creates the table; every
    * later one is a CAS ([[Versioned.commitIf]] on the fold's base)
    * inside [[Versioned.raceLoop]]: an unconditional overwrite would
    * silently erase any commit that landed between the fold's read and
    * its write, so on conflict the fold recomputes from the new latest,
    * at most 5 times. */
  def foldBatch(batch: DataFrame, table: String, keys: Seq[String],
      countAs: String, sums: Seq[(String, String)], batchId: Long): Unit = {
    val spark = batch.sparkSession
    val appId = Option(spark.sparkContext.getLocalProperty(
      org.apache.spark.sql.execution.streaming.runtime
        .StreamExecution.QUERY_ID_KEY)).getOrElse("graft-agg")
    val applied = Versioned.txnVersion(spark, table, appId)
    if (applied.exists(_ >= batchId)) return // checkpoint replay: folded
    val meta = Map(Versioned.txnKey(appId) -> batchId.toString)
    val batchAgg = batch.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as(countAs),
        sums.map { case (src, al) => sum(col(src)).as(al) }: _*)
    def foldInto(v: Long): DataFrame = {
      val existing = Versioned.read(spark, table, Some(v))
      val bk = batchAgg.select(keys.map(col): _*)
      def touched(l: DataFrame): org.apache.spark.sql.Column =
        keys.map(k => l(k) <=> bk(k)).reduce(_ && _)
      val untouched = existing.join(bk, touched(existing), "left_anti")
      val combined = existing
        .join(bk, touched(existing), "left_semi")
        .unionByName(batchAgg)
        .groupBy(keys.map(col): _*)
        .agg(sum(col(countAs)).cast("long").as(countAs),
          sums.map { case (_, al) =>
            sum(col(al)).cast(existing.schema(al).dataType).as(al)
          }: _*)
      untouched.unionByName(combined)
    }
    val root = new org.apache.hadoop.fs.Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      // a ledger entry proves the table exists
      val created = applied.isEmpty &&
        Versioned.versions(spark, table).isEmpty && (
        try { Versioned.commit(batchAgg, table, "create", meta); true }
        catch { case _: Versioned.CreateConflict => false })
      if (!created)
        Versioned.raceLoop(fs, root, table, s"fold of batch $batchId " +
          s"into $table")(v => Versioned.commitIf(foldInto(v), table,
            "overwrite", meta, expectedBase = v))
    } catch { case _: Versioned.ReplayedBatch => () } // folded meanwhile
  }
}
