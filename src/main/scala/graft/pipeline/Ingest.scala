package graft.pipeline

import graft.model._
import graft.operators.Versioned
import graft.plan.{ChunkPlanner, PathPlanner, WatermarkResolver}
import graft.sources.{LakeReader, LakeWriter, Source}
import graft.state.{ConfigStore, WatermarkStore}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructType, TimestampNTZType, TimestampType}
import java.sql.Timestamp
import java.time.LocalDate
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Volume-based load routing (SURVEY.md §2.8 C4, `Ingest:420-437`). */
sealed trait Route
object Route {
  /** below limit → single overwrite + watermark update */
  case object Full extends Route
  /** above limit with watermark columns → chunked append + insert */
  case object Chunked extends Route
  /** above limit, no watermark → bulk overwrite + warning alert */
  case object BulkWarn extends Route

  def decide(stagedCount: Long, limit: Long, hasWatermark: Boolean): Route =
    if (stagedCount < limit) Full
    else if (hasWatermark) Chunked
    else BulkWarn
}

/** Alert sink (S12, `Ingest:436-437,476-477`): the reference emails via a
  * Databricks notebook; offline impl records to the audit log. */
trait AlertSink { def alert(subject: String, body: String): Unit }
final class LogAlertSink(log: AuditLog) extends AlertSink {
  def alert(subject: String, body: String): Unit =
    log.add(s"ALERT: $subject — $body")
}

/** Append-only audit log (`Ingest:57,66,461,470,481`): accumulate
  * driver-side, flush once per run. */
final class AuditLog {
  private val entries = ArrayBuffer.empty[LogEntry]
  def add(message: String, count: Long = 1): Unit =
    entries.synchronized { entries += LogEntry(message, count) }
  def flush(spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    val snapshot = entries.synchronized { entries.toSeq }
    if (snapshot.nonEmpty)
      spark.createDataset(snapshot).coalesce(1)
        .write.mode(SaveMode.Append).parquet(path)
  }
  def snapshot: Seq[LogEntry] = entries.synchronized { entries.toSeq }
}

final case class IngestConfig(
    configPath: String,
    watermarkPath: String,
    lakeBasePath: String,
    auditPath: String,
    singleBatchDataLimit: Long = 1000000L, // `Ingest:54` default
    systemType: String = "offline",
    databaseName: String = "sharestory", // hardcoded in MERGE, `Ingest:382`
    lagHours: Int = 80, // F4, `Ingest:350`
    runDate: LocalDate = LocalDate.now(java.time.ZoneOffset.UTC),
    filesPerChunk: Int = 1,
    // S4/S6 lake format: Snapshot = Versioned manifest-log tables (the
    // reference's Delta default, from first principles — atomic chunk
    // commits, time travel over ingest runs); Parquet = plain dirs
    lakeFormat: graft.sources.LakeFormat = graft.sources.LakeFormat.Parquet,
    // table name → (bucketCol, numBuckets): commit these tables with a
    // bucketed layout (Snapshot format only), so ingest-time chunk
    // appends pay the layout shuffle ONCE and every downstream
    // co-bucketed join/aggregate gets the storage-partitioned
    // zero-exchange path — at 100 TB, the fact-fact join answer
    bucketSpecs: Map[String, (String, Int)] = Map.empty)

/** The main ingestion pipeline (SURVEY.md §3 E1): config fan-out →
  * per-table watermark resolution → incremental scan → volume routing →
  * (chunked) write → watermark commit, with per-table error containment.
  *
  * Deliberate upgrades over the reference, each documented at the site:
  *  - staged frame cached once; the reference re-reads PostgreSQL
  *    O(probes+chunks) times (`Ingest:318-340`)
  *  - chunk plan from ONE count-cube job (ChunkPlanner) instead of a
  *    probe job per level
  *  - chunk writes loop over predicate filters of the cached frame; at
  *    1000 executors each write is a narrow filtered pass, no re-scan
  *  - the routing count is ONE job, the one that fills the cache: the
  *    cached plan's rows are counted directly, not through an
  *    aggregate (AQE plans that as three jobs)
  *  - a Snapshot table's watermark comes from the manifest's per-file
  *    footer stats where they answer `max` (no job, no data read); the
  *    reference re-reads the written data (`Ingest:344-415`)
  */
final class Ingest(spark: SparkSession, source: Source, cfg: IngestConfig,
    alerts: AlertSink, log: AuditLog,
    // pluggable state backends: parquet stores by default (offline
    // harness); pass graft.state.Jdbc*Store to run the pipeline against
    // a production JDBC metastore, the reference's PostgreSQL layout
    watermarkStore: Option[graft.state.WatermarkStoreApi] = None,
    configStore: Option[graft.state.ConfigStoreApi] = None) {

  private val watermarks: graft.state.WatermarkStoreApi =
    watermarkStore.getOrElse(new WatermarkStore(spark, cfg.watermarkPath))
  private val configs: graft.state.ConfigStoreApi =
    configStore.getOrElse(new ConfigStore(spark, cfg.configPath))

  /** C1 config fan-out (`Ingest:446-451`): db configs × table configs
    * matched on the task prefix, comma-split table lists. */
  def planJobs(): Seq[TableJob] = {
    val dbs = configs.activeGroup("dcx_postgresql_db_settings")
    val tbls = configs.activeGroup("dcx_postgresql_table_settings")
    for {
      (dbKey, dbName) <- dbs.toSeq.sortBy(_._1)
      task = dbKey.split("_")(0)
      (tblKey, tblList) <- tbls.toSeq.sortBy(_._1)
      if tblKey.split("_")(0) == task
      spec <- tblList.split(",").map(_.trim).filter(_.nonEmpty)
    } yield TableJob(task, dbName, spec)
  }

  /** Run every planned table job. `parallelism > 1` loads tables
    * concurrently from the driver — the reference loops its table list
    * serially (`Ingest:452-477`), which is the first thing that breaks
    * with a 1000-table config: Spark's scheduler happily interleaves
    * jobs from driver threads, so independent table loads should
    * overlap. Error containment (C7) is preserved per table; the
    * control-plane stores serialize their commits internally. */
  def run(parallelism: Int = 1): RunReport = {
    val jobs = planJobs()
    log.add(s"planned ${jobs.size} table jobs (parallelism=$parallelism)")
    def runOne(job: TableJob): (String, Either[String, Long]) = {
      // C7 error containment: one table's failure never stops the run
      // (`Ingest:471-477`, README.md:24)
      try job.tableSpec -> Right(runTable(job))
      catch {
        case NonFatal(e) =>
          val msg = s"${e.getClass.getSimpleName}: ${e.getMessage}"
          log.add(s"FAILED ${job.tableSpec}: $msg")
          alerts.alert(s"load failed: ${job.tableSpec}", msg)
          job.tableSpec -> Left(msg)
      }
    }
    val results =
      if (parallelism <= 1) jobs.map(runOne)
      else // the shared bounded driver pool (runOne contains errors,
           // so its failure path is never exercised here)
        graft.operators.DriverPar.map(jobs,
          maxThreads = parallelism)(runOne)
    log.add("run complete")
    log.flush(spark, cfg.auditPath)
    RunReport(results)
  }

  def runTable(job: TableJob): Long = {
    val paths = PathPlanner.resolve(job.tableSpec, cfg.lakeBasePath, cfg.runDate)
    // bucketed layout for this table, if configured (C7 contains the
    // misconfiguration per-table: LakeWriter rejects bucket+Parquet)
    val bucket = cfg.bucketSpecs.get(paths.table)
    val raw = source.table(spark, paths.table)

    // C2 watermark resolution: config override, else schema inference
    val wmCols = WatermarkResolver.resolve(
      configs.value("dcx_postgresql_watermark_settings",
        WatermarkResolver.configKey(job.task, paths.table)),
      raw.schema)

    // C3 incremental vs full: apply the P9 range predicate when a
    // watermark exists (pushed into the scan, as the reference pushes
    // it into the PostgreSQL query string, `Ingest:464-468`)
    val last = watermarks.lastLoad(cfg.systemType, cfg.databaseName, paths.table)
    val staged0 = (last, wmCols) match {
      case (Some(ts), cols) if cols.nonEmpty =>
        // literal type must match the column flavor (TIMESTAMP vs NTZ)
        val wmLit =
          if (raw.schema(cols.head).dataType ==
            org.apache.spark.sql.types.TimestampNTZType)
            lit(ts.toLocalDateTime)
          else lit(ts)
        raw.where(coalesce(cols.map(col): _*) >= wmLit)
      case _ => raw
    }

    // cache once — every probe and chunk below reuses it (the reference
    // re-executes the source scan per probe and per chunk)
    val staged = staged0.cache()
    try {
      // first materialization (E1 step 4): counting the cached plan's
      // rows directly is ONE job that also fills the cache, where
      // `staged.count()` plans an aggregate over it (AQE: cache stage,
      // partial count, final count — three jobs)
      val stagedCount = staged.queryExecution.toRdd.count()
      log.add(s"${paths.table}: staged $stagedCount rows " +
        s"(watermarks=${wmCols.mkString(",")}, incremental=${last.isDefined})")

      Route.decide(stagedCount, cfg.singleBatchDataLimit, wmCols.nonEmpty) match {
        case Route.Full =>
          // an INCREMENTAL load's staged frame is a watermark DELTA,
          // not the table: overwriting the dated dir with it would
          // wipe rows a same-day chunked run already landed there (a
          // backlog load writes ALL its rows under the RUN date, and
          // the advanced watermark excludes them from the re-stage).
          // Delta appends like the chunked path — same at-least-once
          // overlap semantics; only a full (no-watermark) snapshot
          // overwrites
          val mode =
            if (last.isDefined) SaveMode.Append else SaveMode.Overwrite
          LakeWriter.write(staged, paths.filePath, mode,
            Some(cfg.filesPerChunk), cfg.lakeFormat, bucket)
          // full path updates but never inserts (reference quirk,
          // `Ingest:424-426` insertconfig only on chunked)
          commitWatermark(paths.filePath, wmCols, staged.schema, paths.table,
            insertIfMissing = false)
          stagedCount

        case Route.Chunked =>
          val chunks = ChunkPlanner.plan(staged, wmCols, cfg.singleBatchDataLimit)
          log.add(s"${paths.table}: ${chunks.size} chunks")
          val ts = coalesce(wmCols.map(col): _*)
          chunks.foreach { c =>
            LakeWriter.write(staged.where(c.predicate(ts)), paths.filePath,
              SaveMode.Append, Some(cfg.filesPerChunk), cfg.lakeFormat,
              bucket)
          }
          commitWatermark(paths.filePath, wmCols, staged.schema, paths.table,
            insertIfMissing = true)
          stagedCount

        case Route.BulkWarn =>
          // `Ingest:433-437`: oversize table without watermark — load
          // anyway, warn loudly
          alerts.alert(s"missing watermark: ${paths.table}",
            s"$stagedCount rows loaded in one batch (limit " +
              s"${cfg.singleBatchDataLimit}); add a watermark config")
          LakeWriter.write(staged, paths.filePath, SaveMode.Overwrite,
            Some(cfg.filesPerChunk), cfg.lakeFormat, bucket)
          stagedCount
      }
    } finally staged.unpersist()
  }

  /** C6 watermark commit: MAX(COALESCE(cols)) − lag of the WRITTEN
    * data, MERGEd into the watermark store (`Ingest:344-415`). Taking
    * it from the lake (not the staged frame) is load-bearing: it
    * commits what was actually persisted, so a write path that drops
    * or rewrites rows can never advance the watermark past data that
    * isn't on disk.
    *
    * A Snapshot table with ONE timestamp watermark column answers the
    * max from the manifest's per-file footer stats — the persisted
    * footers' own bounds — with no Spark job and no data file opened.
    * Otherwise a Snapshot table is read under its known schema
    * (`Versioned.readByName`: no footer-inference job once the
    * version's schema is cached): only the arg-max file plus the files
    * without a bound when the stats can restrict the read, else the
    * whole DV-aware table. Multi-column watermarks coalesce ROW-wise,
    * which per-column bounds can't decompose. `schema` is the staged
    * frame's: the write that just landed enforced its column types. */
  private def commitWatermark(lakePath: String, wmCols: Seq[String],
      schema: StructType, table: String, insertIfMissing: Boolean): Unit = {
    if (wmCols.isEmpty) return
    val snapshot = cfg.lakeFormat == graft.sources.LakeFormat.Snapshot
    val single = if (snapshot && wmCols.size == 1) wmCols.headOption else None
    // `max − INTERVAL lag HOURS` as Spark evaluates it (the days step in
    // the session zone for TIMESTAMP, in UTC for NTZ), surfaced as
    // `head()` surfaces it
    val lag = -cfg.lagHours * 3600L * 1000000L
    val fromStats = for {
      c <- single
      toTs <- schema.find(_.name.equalsIgnoreCase(c)).map(_.dataType).collect {
        case TimestampType =>
          val zone = DateTimeUtils.getZoneId(spark.conf.get(
            org.apache.spark.sql.internal.SQLConf.SESSION_LOCAL_TIMEZONE.key))
          (m: Long) => DateTimeUtils.toJavaTimestamp(
            DateTimeUtils.timestampAddDayTime(m, lag, zone))
        case TimestampNTZType =>
          (m: Long) => Timestamp.valueOf(DateTimeUtils.microsToLocalDateTime(
            DateTimeUtils.timestampAddDayTime(m, lag, java.time.ZoneOffset.UTC)))
      }
      m <- Versioned.statsMax(spark, lakePath, c)
    } yield m.map(toTs)
    val lagged = fromStats.getOrElse {
      val source =
        if (snapshot) Versioned.readByName(spark, lakePath,
          single.flatMap(Versioned.maxCandidateFiles(spark, lakePath, _)))
        else LakeReader.read(spark, lakePath, format = cfg.lakeFormat)
      val maxRow = source
        .agg(max(coalesce(wmCols.map(col): _*)).as("maxdate"))
        .select(col("maxdate") - expr(s"INTERVAL ${cfg.lagHours} HOURS"))
        .head()
      // TIMESTAMP columns surface as java.sql.Timestamp, TIMESTAMP_NTZ
      // (parquet isAdjustedToUTC=false) as java.time.LocalDateTime
      if (maxRow.isNullAt(0)) None
      else Some(maxRow.get(0) match {
        case t: Timestamp => t
        case l: java.time.LocalDateTime => Timestamp.valueOf(l)
        case d: java.sql.Date => new Timestamp(d.getTime)
        case other => sys.error(s"unexpected watermark type: $other")
      })
    }
    lagged.foreach { ts =>
      watermarks.commit(cfg.systemType, cfg.databaseName, table, ts,
        insertIfMissing)
      log.add(s"$table: watermark -> $ts")
    }
  }
}
