package perfbench

import graft.model.{ConfigValue, RunReport}
import graft.pipeline.{AuditLog, Ingest, IngestConfig, LogAlertSink}
import graft.sources.{LakeFormat, Source}
import graft.state.{ConfigStore, ConfigStoreApi, WatermarkStore, WatermarkStoreApi}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.sql.Timestamp
import java.time.LocalDate

/** `ingest_incremental`: the reference's own job. A config store lists
  * three watermark-bearing source tables (lineitem-, orders- and
  * events-shaped) and one without a watermark. Each round the source
  * exposes one more day of rows and `Ingest.run()` lands what the
  * watermark store says is new into snapshot lake tables.
  *
  * An episode is one chunked first load (two years of history, above
  * `singleBatchDataLimit`, so the planner splits it by year and
  * quarter) and then [[IngestWorkload.Rounds]] daily rounds that take
  * the full-append route. Each episode starts from an empty lake and
  * watermark store; the op stream runs episode after episode.
  */
final class IngestWorkload(ctx: Ctx) extends Workload {
  import IngestWorkload._
  private val spark = ctx.spark
  private val tracer = ctx.tracer

  private var srcDir: String = _
  private var configPath: String = _
  private var tables: Seq[Gen] = Nil
  private var ingest: Ingest = _
  private var source: SliceSource = _
  private var wmStore: WatermarkStoreApi = _
  private var lakeBase: String = _
  private var expectedWm: Map[String, Long] = Map.empty
  private var landed: Map[String, Map[Long, Int]] = Map.empty
  private var chunksAdded = 0L
  private var rounds = 0
  private var failedTables = 0L

  /** An episode: the chunked load and the daily rounds. */
  def cycle: Int = Rounds + 1
  def spaceAmpAfter: Int = 2 * cycle - 1 // the end of the first timed episode
  /** The chunked first load warms the paths a daily round takes too. */
  override def warmOps: Int = 1

  def setup(dir: String): Unit = {
    val rnd = new scala.util.Random(ctx.seed)
    srcDir = s"$dir/src"
    // two years of history, sf0.1's row counts / 40; a day adds 2%.
    // Every history is above the batch limit, so the first load is
    // chunked; of the history years only lineitem's are above it, so
    // lineitem's load descends to quarters.
    tables = Seq(
      genTable(rnd, "lineitem_src", "modified_at", 600000 / 40),
      genTable(rnd, "orders_src", "updated_at", 150000 / 40),
      genTable(rnd, "events_src", "ts", 100000 / 40),
      Gen("nation_src", None, Array.tabulate(25)(_.toLong), Array.empty))
    import spark.implicits._
    tables.foreach { g =>
      val df = g.wm match {
        case Some(w) =>
          val n = g.ids.length
          val r = new scala.util.Random(ctx.seed ^ g.name.hashCode)
          (0 until n).map(i => (g.ids(i), g.ts(i), r.nextInt(50) + 1,
              r.nextInt(10000000).toLong, "s" + r.nextInt(5)))
            .toDF("id", "ts_us", "qty", "amount", "status")
            .select($"id", timestamp_micros($"ts_us").as(w), $"qty",
              $"amount", $"status")
        case None =>
          g.ids.toSeq.map(i => (i, s"NATION_$i", i % 5)).toDF(
            "n_nationkey", "n_name", "n_regionkey")
      }
      df.coalesce(1).write.mode("overwrite").parquet(s"$srcDir/${g.name}")
    }
    configPath = s"$dir/config"
    val configs = new ConfigStore(spark, configPath)
    Seq(
      ConfigValue("dcx_postgresql_db_settings", "bench_db", "sharestory", true),
      ConfigValue("dcx_postgresql_table_settings", "bench_tables",
        tables.map(_.name).mkString(","), true),
      // events' watermark column is configured, the others are inferred
      // from their names (`modified*`, `updated*`)
      ConfigValue("dcx_postgresql_watermark_settings",
        "bench_events_src_watermarks", "ts", true)).foreach(configs.upsert)
  }

  private def genTable(rnd: scala.util.Random, name: String, wm: String,
      history: Int): Gen = {
    val yearUs = (HistoryEndUs - HistoryStartUs) / 2
    def year(n: Int, y0: Long) =
      Array.fill(n)(y0 + (rnd.nextDouble() * (yearUs - DayUs)).toLong)
    val hist = year(history / 2, HistoryStartUs) ++
      year(history - history / 2, HistoryStartUs + yearUs)
    val perDay = history * DayPercent / 100
    val live = (1 to Rounds).flatMap { d =>
      val day0 = HistoryEndUs + (d - 1) * DayUs
      Array.fill(perDay)(day0 + (rnd.nextDouble() * DayUs).toLong)
    }
    val ts = hist ++ live
    Gen(name, Some(wm), Array.tabulate(ts.length)(_.toLong), ts)
  }

  /** The source the pipeline reads: every watermark table cut at the
    * current round's instant, the dimension table whole. */
  private final class SliceSource extends Source {
    @volatile var cutoffUs: Long = HistoryEndUs
    def table(s: SparkSession, table: String): DataFrame =
      tracer.span("sources.table") {
        val df = s.read.parquet(s"$srcDir/$table")
        tables.find(_.name == table).flatMap(_.wm) match {
          case Some(w) => df.where(col(w) < timestamp_micros(lit(cutoffUs)))
          case None => df
        }
      }
  }

  private final class TracedConfigs(inner: ConfigStoreApi)
      extends ConfigStoreApi {
    private def lookup[A](body: => A): A = {
      tracer.add("state.lookups", 1)
      tracer.span("state.lookup")(body)
    }
    def activeGroup(group: String): Map[String, String] =
      lookup(inner.activeGroup(group))
    def value(group: String, name: String): Option[String] =
      lookup(inner.value(group, name))
    def upsert(row: ConfigValue): Unit = {
      tracer.add("state.commits", 1)
      tracer.span("state.commit")(inner.upsert(row))
    }
    def allValues(): Seq[ConfigValue] = lookup(inner.allValues())
  }

  private final class TracedWatermarks(inner: WatermarkStoreApi)
      extends WatermarkStoreApi {
    def lastLoad(systemType: String, db: String,
        table: String): Option[Timestamp] = {
      tracer.add("state.lookups", 1)
      tracer.span("state.lookup")(inner.lastLoad(systemType, db, table))
    }
    def commit(systemType: String, db: String, table: String,
        lastLoad: Timestamp, insertIfMissing: Boolean): Unit = {
      tracer.add("state.commits", 1)
      tracer.span("state.commit")(
        inner.commit(systemType, db, table, lastLoad, insertIfMissing))
    }
  }

  /** Start an episode: empty lake, empty watermark store. */
  private def newEpisode(i: Int): Unit = {
    val ep = s"${ctx.work}/episode-$i"
    lakeBase = s"$ep/lake"
    source = new SliceSource
    wmStore = new TracedWatermarks(new WatermarkStore(spark, s"$ep/watermarks"))
    val cfg = IngestConfig(configPath, s"$ep/watermarks", lakeBase,
      s"$ep/audit", singleBatchDataLimit = BatchLimit,
      runDate = RunDate, lakeFormat = LakeFormat.Snapshot)
    val log = new AuditLog
    ingest = new Ingest(spark, source, cfg, new LogAlertSink(log), log,
      Some(wmStore), Some(new TracedConfigs(new ConfigStore(spark, configPath))))
    expectedWm = Map.empty
    landed = Map.empty
  }

  private def lakePath(table: String): String =
    graft.plan.PathPlanner.resolve(table, lakeBase, RunDate).filePath

  private var staged: Map[String, Array[Long]] = Map.empty
  private var cutoff = 0L
  private var versionsBefore = 0

  override def prepare(i: Int): Unit = {
    val round = i % (Rounds + 1)
    if (round == 0) newEpisode(i)
    cutoff = HistoryEndUs + round * DayUs
    source.cutoffUs = cutoff
    // what this round must stage: rows under the cutoff at or after the
    // previous round's committed watermark (the 80 h lag re-lands an
    // overlap on purpose: at-least-once by design)
    staged = tables.map { g =>
      g.name -> (g.wm match {
        case Some(_) =>
          val lo = expectedWm.getOrElse(g.name, Long.MinValue)
          g.ids.indices.filter(k => g.ts(k) < cutoff && g.ts(k) >= lo)
            .map(g.ids).toArray
        case None => g.ids
      })
    }.toMap
    if (tracer.enabled)
      versionsBefore = tables.map(g => Lake.versionCount(spark, lakePath(g.name))).sum
  }

  def op(i: Int): Op = {
    val report = tracer.span("pipeline.run")(ingest.run())
    val rows = report.results.collect { case (_, Right(n)) => n }.sum
    Op(rows, () => afterRound(report))
  }

  private def afterRound(report: RunReport): Boolean = {
    if (tracer.enabled) {
      rounds += 1
      failedTables += report.failed.size
      chunksAdded += tables.map(g =>
        Lake.versionCount(spark, lakePath(g.name))).sum - versionsBefore
    }
    tables.foreach { g =>
      val add = staged(g.name)
      val prev = if (g.wm.isEmpty) Map.empty[Long, Int]
        else landed.getOrElse(g.name, Map.empty)
      landed += g.name -> add.foldLeft(prev)((m, id) =>
        m.updated(id, m.getOrElse(id, 0) + 1))
      g.wm.foreach { _ =>
        val maxTs = g.ts.iterator.filter(_ < cutoff).max
        expectedWm += g.name -> (maxTs - LagUs)
      }
    }
    // per round: every table loaded exactly the rows its slice holds
    val counts = report.results.toMap
    report.failed.isEmpty && tables.forall(g =>
      counts.get(g.name).contains(Right(staged(g.name).length.toLong)))
  }

  /** The lake holds exactly the landed multiset of keys, and the
    * watermark store holds max(ts) − lag for every watermark table. */
  def finalCheck(): Boolean = tables.forall { g =>
    val key = if (g.wm.isDefined) "id" else "n_nationkey"
    val got = graft.operators.Versioned.read(spark, lakePath(g.name))
      .groupBy(col(key)).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
    val keysOk = got == landed.getOrElse(g.name, Map.empty)
    val wmOk = g.wm.forall { _ =>
      wmStore.lastLoad("offline", "sharestory", g.name)
        .map(t => t.getTime * 1000L + t.getNanos / 1000 % 1000)
        .contains(expectedWm(g.name))
    }
    if (!keysOk || !wmOk)
      System.err.println(s"ingest check failed for ${g.name}: keys=$keysOk wm=$wmOk")
    keysOk && wmOk
  }

  def spaceAmp(): Double = {
    val live = tables.map(g => Lake.liveBytes(spark, lakePath(g.name))).sum
    Lake.bytesUnder(spark, lakeBase).toDouble / live
  }

  def layers(): Map[String, Double] = Map(
    "pipeline.run_s" -> tracer.total("pipeline.run"),
    "pipeline.self_s" -> tracer.selfTime("pipeline.run"),
    "pipeline.tables_failed" -> failedTables.toDouble,
    "plan.chunks" -> chunksAdded.toDouble / math.max(1, rounds),
    "state.lookups" -> tracer.counter("state.lookups"),
    "state.lookup_s" -> tracer.total("state.lookup"),
    "state.commits" -> tracer.counter("state.commits"),
    "state.commit_s" -> tracer.total("state.commit"),
    "lake.commits" -> chunksAdded.toDouble)
}

object IngestWorkload {
  /** One generated source table: its watermark column, ids and
    * watermark instants (epoch micros), in generation order. */
  final case class Gen(name: String, wm: Option[String], ids: Array[Long],
      ts: Array[Long])

  /** Daily rounds after the chunked first load of each episode. */
  val Rounds = 2
  /** Rows a day adds, as a share of a table's history. */
  val DayPercent = 2
  /** Below every table's history and lineitem's history years, above
    * the other tables' years and every daily slice (lag overlap
    * included). */
  val BatchLimit = 2400L
  val DayUs = 86400L * 1000000L
  val LagUs = 80L * 3600L * 1000000L
  val HistoryStartUs = LocalDate.of(2022, 1, 1).toEpochDay * DayUs
  val HistoryEndUs = LocalDate.of(2024, 1, 1).toEpochDay * DayUs
  val RunDate = LocalDate.of(2024, 1, 1)
}
