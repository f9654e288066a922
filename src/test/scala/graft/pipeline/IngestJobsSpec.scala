package graft.pipeline

import graft.SparkSpec
import graft.model.{ConfigValue, TableJob}
import graft.operators.Versioned
import graft.plan.{PathPlanner, WatermarkResolver}
import graft.sources.{LakeFormat, LakeReader, Source}
import graft.state.{ConfigStore, WatermarkStore}
import java.sql.Timestamp
import java.time.{LocalDate, LocalDateTime}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, expr, lit, max}
import org.apache.spark.sql.types._

/** What one ingest table costs in Spark jobs: the staged frame is
  * counted in the one job that caches it, and a Snapshot table's
  * watermark is committed from the manifest's footer stats with no job
  * at all — the same value the read path gives. */
class IngestJobsSpec extends SparkSpec {
  import spark.implicits._

  private val runDate = LocalDate.of(2026, 8, 12)
  private val job = TableJob("clinic", "clinicdb", "visits")
  private val lag = 80

  /** One job: its result stage's name (`<api> at <file>:<line>`), its
    * call-site details (the stack from the Spark API call the code
    * made). */
  private final case class Job(name: String, details: String) {
    def under(method: String): Boolean = details.contains(method)
    /** A job a reader call (`spark.read...parquet(files)`) starts to
      * infer a schema from footers, before any query runs. */
    def inference: Boolean =
      details.linesIterator.next().contains("DataFrameReader.")
    /** A job the watermark commit starts to read the lake (the state
      * store's own commit job runs under it too). */
    def watermarkRead: Boolean =
      under("commitWatermark") && !under("WatermarkStore")
  }

  /** The jobs `body` starts on this thread, in a job group of its own;
    * a marker job in a second group closes the window (the listener
    * bus is FIFO), as in ControlSnapshotSpec. A job AQE starts for a
    * query stage runs on another thread and carries that thread's call
    * site; it takes its SQL execution root's call site instead. */
  private def jobsIn[A](body: => A): (A, Seq[Job]) = {
    val id = java.util.UUID.randomUUID().toString
    val (group, marker) = (s"ingest-$id", s"ingest-marker-$id")
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Job]
    val execDetails = new java.util.concurrent.ConcurrentHashMap[Long, String]
    val closed = new java.util.concurrent.CountDownLatch(1)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          execDetails.put(s.executionId, s.details); ()
        case _ =>
      }
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) =>
            // the result stage: earlier ones may be AQE stages another
            // thread planned, carrying that thread's call site
            val st = j.stageInfos.maxBy(_.stageId)
            val root = Option(j.properties.getProperty(
              "spark.sql.execution.root.id")).map(_.toLong)
            val details =
              if (st.details.contains("graft.")) st.details
              else root.flatMap(r => Option(execDetails.get(r)))
                .getOrElse(st.details)
            jobs.add(Job(st.name, details)); ()
          case Some(`marker`) => closed.countDown()
          case _ =>
        }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      spark.sparkContext.setJobGroup(group, "ingest jobs probe")
      val out = body
      spark.sparkContext.setJobGroup(marker, "ingest jobs marker")
      spark.sparkContext.parallelize(Seq(1), 1).count()
      assert(closed.await(30, java.util.concurrent.TimeUnit.SECONDS))
      import scala.jdk.CollectionConverters._
      (out, jobs.asScala.toSeq)
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(l)
    }
  }

  /** A source read under a declared schema, so it starts no footer job
    * of its own and the counts below are the pipeline's alone. */
  private final class SchemaSource(dir: String, schema: StructType)
      extends Source {
    def table(spark: SparkSession, table: String): DataFrame =
      spark.read.schema(schema).parquet(s"$dir/$table.parquet")
  }

  private final case class Env(base: String, cfg: IngestConfig,
      ingest: Ingest) {
    def lake: String =
      PathPlanner.resolve(job.tableSpec, cfg.lakeBasePath, runDate).filePath
    def watermark: Option[Timestamp] =
      new WatermarkStore(spark, cfg.watermarkPath)
        .lastLoad(cfg.systemType, cfg.databaseName, "visits")
    def addSource(df: DataFrame): Unit =
      df.coalesce(1).write.mode("append").parquet(s"$base/src/visits.parquet")
  }

  /** A Snapshot-lake pipeline over `src` (written as the source table),
    * watermarked on `wmCols`, optionally starting from a committed
    * watermark `from` (so its first run appends). */
  private def env(src: DataFrame, wmCols: String,
      from: Option[Timestamp] = None): Env = {
    val base = tmpDir("ingestjobs")
    src.coalesce(1).write.parquet(s"$base/src/visits.parquet")
    val cfg = IngestConfig(
      configPath = s"$base/config",
      watermarkPath = s"$base/watermarks",
      lakeBasePath = s"$base/lake",
      auditPath = s"$base/audit",
      singleBatchDataLimit = 100000,
      lagHours = lag,
      runDate = runDate,
      lakeFormat = LakeFormat.Snapshot)
    val configs = new ConfigStore(spark, cfg.configPath)
    configs.upsert(ConfigValue("dcx_postgresql_db_settings",
      "clinic_db_name", "clinicdb", is_active = true))
    configs.upsert(ConfigValue("dcx_postgresql_table_settings",
      "clinic_tables", "visits", is_active = true))
    configs.upsert(ConfigValue("dcx_postgresql_watermark_settings",
      WatermarkResolver.configKey("clinic", "visits"), wmCols,
      is_active = true))
    from.foreach(new WatermarkStore(spark, cfg.watermarkPath)
      .commit(cfg.systemType, cfg.databaseName, "visits", _,
        insertIfMissing = true))
    val log = new AuditLog
    Env(base, cfg, new Ingest(spark, new SchemaSource(s"$base/src",
      src.schema), cfg, new LogAlertSink(log), log))
  }

  /** The watermark the read path computes over the lake, converted as
    * the pipeline converts it. */
  private def readPathWatermark(lake: String,
      wmCols: Seq[String]): Option[Timestamp] = {
    val r = LakeReader.read(spark, lake, format = LakeFormat.Snapshot)
      .agg(max(coalesce(wmCols.map(col): _*)).as("m"))
      .select(col("m") - expr(s"INTERVAL $lag HOURS")).head()
    if (r.isNullAt(0)) None
    else Some(r.get(0) match {
      case t: Timestamp => t
      case l: LocalDateTime => Timestamp.valueOf(l)
    })
  }

  private def ts(s: String) = Timestamp.valueOf(s)
  private def rows(from: Int, to: Int, day: String = "2024-06") =
    (from to to).map(i => (i.toLong, ts(f"$day-$i%02d 12:00:00"), i * 1.5))
      .toDF("id", "ts", "qty")

  test("a Full-route append costs one count job, one write job and one " +
    "state commit; the watermark starts none") {
    val e = env(rows(1, 20), "ts", Some(ts("2024-06-01 00:00:00")))
    e.ingest.runTable(job) // creates the table, commits the watermark
    e.addSource(rows(21, 28))
    val before = e.watermark.get
    val (n, jobs) = jobsIn(e.ingest.runTable(job))
    // the 80 h lag re-stages the last days before the old max
    assert(n == spark.read.parquet(s"${e.base}/src/visits.parquet")
      .where($"ts" >= before).count())
    val sites = jobs.map { j =>
      if (j.under("Versioned$.stage")) "write"
      else if (j.under("WatermarkStore")) "state"
      else if (j.watermarkRead) "watermark"
      else if (j.under("Ingest.runTable")) "count"
      else j.details
    }
    assert(sites.sorted == Seq("count", "state", "write"), jobs.mkString("\n"))
    assert(e.watermark == Some(ts("2024-06-28 12:00:00")).map(t =>
      new Timestamp(t.getTime - lag * 3600000L)))
    assert(e.watermark == readPathWatermark(e.lake, Seq("ts")))
  }

  test("an append after a create starts no footer-inference job") {
    val t = tmpDir("seedappend") + "/t"
    Versioned.commit(rows(1, 5), t, "create")
    val (_, jobs) = jobsIn(Versioned.commit(rows(6, 9), t, "append"))
    assert(!jobs.exists(_.inference), jobs.mkString("\n"))
    assert(jobs.size == 1, jobs.mkString("\n"))
    assert(Versioned.read(spark, t).count() == 9)
  }

  test("the schema seeded at a table's first commit is what footer " +
    "inference returns") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("ts", TimestampType),
      StructField("ntz", TimestampNTZType),
      StructField("d", DateType, nullable = false),
      StructField("amt", DecimalType(12, 2)),
      StructField("s", StringType, nullable = false),
      StructField("st", StructType(Seq(
        StructField("a", IntegerType, nullable = false),
        StructField("b", StringType)))),
      StructField("tags", ArrayType(StringType, containsNull = false))))
    val data = Seq(Row(1L, ts("2024-06-01 00:00:00"),
      LocalDateTime.of(2024, 6, 1, 0, 0), java.sql.Date.valueOf("2024-06-01"),
      new java.math.BigDecimal("12.50"), "a", Row(1, "x"), Seq("p")))
    val t = tmpDir("seedschema") + "/t"
    Versioned.commit(spark.createDataFrame(
      spark.sparkContext.parallelize(data, 1), schema), t, "create")
    val (seeded, jobs) = jobsIn(Versioned.versionSchema(spark, t))
    assert(jobs.isEmpty, "the seed must serve the first read")
    Versioned.clearManifestCache()
    val inferred = Versioned.versionSchema(spark, t)
    assert(seeded == inferred)
    assert(seeded.get == spark.read.option("mergeSchema", "true")
      .parquet(Versioned.versionFiles(spark, t): _*).schema)
  }

  /** The lake already holds June 20–30 (the arg-max file, older than
    * the one this run appends); the run appends June 1–10. */
  private def argMaxNotNewest(tsType: DataType, rename: Boolean): Unit = {
    def frame(from: Int, to: Int, tsName: String): DataFrame = {
      val r = rows(from, to)
      val t = if (tsType == TimestampNTZType)
        r.withColumn("ts", $"ts".cast(TimestampNTZType)) else r
      t.withColumnRenamed("ts", tsName)
    }
    val e = env(frame(1, 10, "ts"), "ts", Some(ts("2024-06-01 00:00:00")))
    Versioned.commit(frame(20, 30, if (rename) "ts_old" else "ts"),
      e.lake, "create")
    if (rename) Versioned.renameColumn(spark, e.lake, "ts_old", "ts")
    val (_, jobs) = jobsIn(e.ingest.runTable(job))
    assert(!jobs.exists(_.watermarkRead), jobs.mkString("\n"))
    val expected = Timestamp.valueOf(
      LocalDateTime.of(2024, 6, 30, 12, 0).minusHours(lag))
    assert(e.watermark.contains(expected))
    assert(e.watermark == readPathWatermark(e.lake, Seq("ts")))
  }

  test("stats-answered TIMESTAMP watermark equals the read path when " +
    "the arg-max file is not the newest") {
    argMaxNotNewest(TimestampType, rename = false)
  }

  test("stats-answered TIMESTAMP_NTZ watermark equals the read path") {
    argMaxNotNewest(TimestampNTZType, rename = false)
  }

  test("stats-answered watermark finds a renamed column's bounds") {
    argMaxNotNewest(TimestampType, rename = true)
  }

  test("an all-NULL watermark column commits nothing and reads nothing") {
    val src = rows(1, 5).withColumn("ts", lit(null).cast(TimestampType))
    val e = env(src, "ts")
    val (n, jobs) = jobsIn(e.ingest.runTable(job))
    assert(n == 5)
    assert(!jobs.exists(_.watermarkRead), jobs.mkString("\n"))
    assert(e.watermark.isEmpty)
    assert(readPathWatermark(e.lake, Seq("ts")).isEmpty)
  }

  /** Runs the pipeline over a prepared lake and checks the fallback
    * read gave the read path's value; returns the watermark's jobs. */
  private def fallback(e: Env, wmCols: Seq[String]): Seq[Job] = {
    val (_, jobs) = jobsIn(e.ingest.runTable(job))
    val wm = jobs.filter(_.watermarkRead)
    assert(wm.nonEmpty, "the stats cannot answer: the data is read\n" +
      jobs.mkString("\n"))
    assert(e.watermark.isDefined)
    assert(e.watermark == readPathWatermark(e.lake, wmCols))
    wm
  }

  test("a deletion vector sends the watermark to the DV-aware read, " +
    "under the table's known schema") {
    val e = env(rows(1, 10), "ts", Some(ts("2024-06-01 00:00:00")))
    Versioned.commit(rows(20, 30), e.lake, "create")
    // the deleted row is the file's recorded max: the bound is stale
    Versioned.deleteWithDv(spark, e.lake, _ => true, $"id" === 30L)
    val wm = fallback(e, Seq("ts"))
    // the DV sidecars are read under their known schema too
    assert(!wm.exists(_.inference), wm.mkString("\n"))
    assert(e.watermark.contains(Timestamp.valueOf(
      LocalDateTime.of(2024, 6, 29, 12, 0).minusHours(lag))))
  }

  test("a two-column watermark coalesces row-wise over a read under " +
    "the table's known schema") {
    val src = rows(1, 10).withColumn("ts2",
      expr("CASE WHEN id % 2 = 0 THEN NULL ELSE ts + INTERVAL 1 DAY END"))
      .withColumn("ts", expr("CASE WHEN id % 2 = 0 THEN ts END"))
    val e = env(src, "ts2,ts", Some(ts("2024-06-01 00:00:00")))
    e.ingest.runTable(job)
    e.addSource(rows(11, 14).withColumn("ts2", $"ts"))
    val wm = fallback(e, Seq("ts2", "ts"))
    assert(!wm.exists(_.inference), wm.mkString("\n"))
  }

  test("a file without a bound is read with the table's known schema, " +
    "starting no footer-inference job") {
    val e = env(rows(1, 10), "ts", Some(ts("2024-06-01 00:00:00")))
    // a converted dir: one INT96 file (no timestamp bounds) and one
    // micros file the appended file's bound excludes
    for ((d, r) <- Seq("INT96" -> rows(3, 5), "TIMESTAMP_MICROS" -> rows(2, 4))) {
      val clone = org.apache.spark.sql.GraftShims.cloneSession(spark)
      clone.conf.set("spark.sql.parquet.outputTimestampType", d)
      org.apache.spark.sql.GraftShims.ofRows(clone,
        org.apache.spark.sql.GraftShims.planOf(r.coalesce(1)))
        .write.parquet(s"${e.base}/$d")
    }
    val fs = new org.apache.hadoop.fs.Path(e.lake)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(e.lake))
    for (d <- Seq("INT96", "TIMESTAMP_MICROS"); f <- fs.listStatus(
        new org.apache.hadoop.fs.Path(s"${e.base}/$d"))
        if f.getPath.getName.endsWith(".parquet"))
      fs.rename(f.getPath, new org.apache.hadoop.fs.Path(e.lake, s"$d.parquet"))
    Versioned.convert(spark, e.lake)
    assert(Versioned.maxCandidateFiles(spark, e.lake, "ts").isEmpty)
    val wm = fallback(e, Seq("ts"))
    assert(!wm.exists(_.inference), wm.mkString("\n"))
    assert(Versioned.maxCandidateFiles(spark, e.lake, "ts").map(_.size)
      .contains(2))
  }
}
