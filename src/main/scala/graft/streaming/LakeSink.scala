package graft.streaming

import graft.operators.Versioned
import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSinkProvider}
import org.apache.spark.sql.streaming.OutputMode

/** Streaming sink committing each micro-batch as a [[Versioned]]
  * snapshot version — the write half of the lake's streaming surface
  * ([[ChangeFeedSource]] is the read half, so a lake-to-lake pipeline
  * is one streaming query end to end):
  *
  * {{{
  *   df.writeStream
  *     .format("graft-lake")
  *     .option("path", "/lake/ns/t")      // append commits (default)
  *     .option("mode", "overwrite")       // or: re-snapshot per batch
  *     .option("checkpointLocation", cp)
  *     .start()
  * }}}
  *
  * Exactly-once without an idempotent payload: each commit carries the
  * ledger entry `txn.<appId>=<batchId>` ([[Versioned.TxnPrefix]]),
  * committed in the same manifest rename as the batch's rows. The
  * appId is the streaming query's checkpoint-stable id (read from the
  * spark-local property the stream execution sets), or the fixed name
  * `graft-lake` when `addBatch` is driven outside a stream. Every
  * commit to the table carries the ledger forward, so one header read
  * of the latest version answers "did this query commit this batch?"
  * however many other writers interleaved, and VACUUM cannot erase
  * the answer. A replayed batch is skipped by that read; a second
  * delivery racing the first is refused inside the commit lock
  * ([[Versioned.ReplayedBatch]]) and its staged segment deleted, so a
  * batch lands once. Downstream consumers see exactly one version per
  * batch, in order, with the ledger readable via `DESCRIBE HISTORY`.
  *
  * Lost checkpoint: a restart without the checkpoint is a NEW query
  * (new queryId, batch ids from 0) and commits its batches as fresh —
  * the old query's ledger entry never swallows them.
  */
class LakeSinkProvider extends StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft-lake"

  override def createSink(ctx: SQLContext, params: Map[String, String],
      partitionColumns: Seq[String], outputMode: OutputMode): Sink = {
    val path = params.getOrElse("path", throw new IllegalArgumentException(
      "graft-lake sink requires .option(\"path\", <table dir>)"))
    val mode = params.getOrElse("mode", "append")
    require(mode == "append" || mode == "overwrite",
      s"graft-lake mode must be append or overwrite, got '$mode'")
    // optional bucketed layout: every micro-batch commits with the
    // same bucket routing, so the streamed table is co-bucketable
    // with batch tables and joins downstream with zero exchanges —
    // streaming ingestion paying the layout shuffle per batch instead
    // of a giant retroactive rewrite
    val bucket = (params.get("bucketcolumn"), params.get("numbuckets")) match {
      case (Some(c), Some(n)) =>
        // fail at sink creation with the option named, not with a bare
        // NumberFormatException (or, for 0/-1, deep inside the first
        // micro-batch's commit)
        val parsed = scala.util.Try(n.trim.toInt).toOption.filter(_ > 0)
          .getOrElse(throw new IllegalArgumentException(
            s"graft-lake .option(\"numBuckets\", ...) must be a " +
              s"positive integer, got '$n'"))
        Some((c, parsed))
      case (None, None) => None
      case _ => throw new IllegalArgumentException(
        "graft-lake bucketing needs BOTH .option(\"bucketColumn\", c) " +
          "and .option(\"numBuckets\", n)")
    }
    new LakeSink(path, mode, bucket)
  }
}

class LakeSink(table: String, mode: String,
    bucket: Option[(String, Int)] = None) extends Sink with Logging {

  override def name(): String = s"graft-lake [$table]"

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val spark = data.sparkSession
    val appId = Option(spark.sparkContext.getLocalProperty(
      org.apache.spark.sql.execution.streaming.runtime
        .StreamExecution.QUERY_ID_KEY)).getOrElse("graft-lake")
    def skip(): Unit =
      logInfo(s"skipping replayed batch $batchId for $table ($appId)")
    if (Versioned.txnVersion(spark, table, appId).exists(_ >= batchId))
      return skip()
    // the DataFrame handed to a v1 sink rides the micro-batch's
    // IncrementalExecution — new actions on it (like a parquet write)
    // must go through a re-wrapped batch frame over the same rows
    val batch = org.apache.spark.sql.GraftShims.unstream(data)
    val meta = Map(Versioned.txnKey(appId) -> batchId.toString)
    try bucket match {
      case Some((c, n)) =>
        Versioned.commitBucketed(batch, table, c, n, mode, meta)
      case None => Versioned.commit(batch, table, mode, meta)
    } catch { case _: Versioned.ReplayedBatch => skip() }
    ()
  }
}
