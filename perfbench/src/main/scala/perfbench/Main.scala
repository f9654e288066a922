package perfbench

import org.apache.spark.SparkBus
import org.apache.spark.sql.SparkSession

/** The lake benchmark's JVM side: one workload, one seed, one run.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s>
  *                  --trace <0|1> --work <dir> --rev <git rev>
  *
  * It sets up [[Main.Setups]] times and keeps the last state, then runs
  * the first ops of the workload's op stream (at most a cycle) untimed
  * and uncounted, as a warm-up. Untraced, it then runs the stream's
  * next cycles closed loop from one driver thread, whole cycles until
  * `--seconds` have passed, and prints the end-to-end metrics. Traced, it runs the
  * workload's fixed traced op sequence after the warm-up with every
  * layer counted, and prints the per-layer metrics. Either way every
  * op's output is checked, the warm-up's too, and the last stdout line
  * is the result object.
  */
object Main {
  val Setups = 3

  val Workloads: Map[String, Ctx => Workload] = Map(
    "ingest_incremental" -> (c => new IngestWorkload(c)),
    "lake_upsert" -> (c => new UpsertWorkload(c)),
    "corpus_curate" -> (c => new CurateWorkload(c)))

  /** Every per-layer metric, with its unit. A workload that does not
    * reach a layer reports 0 for it. */
  val PerLayer: Seq[(String, String)] = Seq(
    "spark.actions" -> "count", "spark.jobs" -> "count",
    "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.executor_cpu_s" -> "s", "spark.executor_run_s" -> "s",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.input_bytes" -> "bytes",
    "spark.output_bytes" -> "bytes",
    "driver.analysis_s" -> "s", "driver.optimization_s" -> "s",
    "driver.planning_s" -> "s", "driver.other_s" -> "s",
    "fs.open" -> "count", "fs.create" -> "count", "fs.rename" -> "count",
    "fs.delete" -> "count", "fs.list" -> "count", "fs.status" -> "count",
    "fs.mkdirs" -> "count", "fs.manifest_open" -> "count",
    "fs.bytes_written" -> "bytes",
    "pipeline.run_s" -> "s", "pipeline.self_s" -> "s",
    "pipeline.tables_failed" -> "count", "plan.chunks" -> "count",
    "state.lookups" -> "count", "state.lookup_s" -> "s",
    "state.commits" -> "count", "state.commit_s" -> "s",
    "scan.files_total" -> "count", "scan.files_read" -> "count",
    "scan.files_read_ratio" -> "ratio", "scan.rows_read_per_result" -> "ratio",
    "lake.commits" -> "count", "lake.files_added" -> "count",
    "lake.files_removed" -> "count", "lake.live_files" -> "count",
    "lake.dv_rows" -> "count", "lake.bytes_rewritten_per_row_changed" -> "bytes",
    "upsert.merge_s" -> "s", "upsert.delete_s" -> "s", "upsert.update_s" -> "s",
    "upsert.scd2_s" -> "s", "upsert.read_s" -> "s",
    "upsert.maintenance_s" -> "s",
    "dedup.index_build_s" -> "s", "dedup.batch_s" -> "s",
    "dedup.flagged_ratio" -> "ratio", "ann.ingest_batch_s" -> "s",
    "ann.retrains" -> "count", "ann.compactions" -> "count",
    "ann.index_files" -> "count", "ann.probe_s" -> "s",
    "ann.recall_at_10" -> "ratio",
    "trace.ops" -> "count", "trace.latency_p50_s" -> "s")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = opts("work")
    val make = Workloads.getOrElse(name,
      sys.error(s"unknown workload $name (${Workloads.keys.mkString(", ")})"))
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = session(cores, work, traced)
    val startupS = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getUptime / 1000.0
    val counts = if (traced) Some(new Counts) else None
    counts.foreach { c =>
      spark.sparkContext.addSparkListener(c)
      spark.listenerManager.register(c)
    }
    val tracer = new Tracer(counts.map(_ => spark.sparkContext))
    val ctx = Ctx(spark, tracer, counts, s"$work/run", seed)
    val w = make(ctx)

    val setupTimes = ctx.outside {
      (0 until Setups).map { k =>
        val t0 = System.nanoTime()
        w.setup(s"$work/setup-$k")
        (System.nanoTime() - t0) / 1e9
      }
    }

    var failed = 0
    var attempted = 0
    var amp = Double.NaN
    /** Runs op `i` and its output check; returns its latency and rows. */
    def attempt(i: Int): (Double, Long) = {
      ctx.outside(w.prepare(i))
      tracer.setOp(i)
      val b0 = if (tracer.enabled) CountingFileSystem.bytesWritten() else 0L
      val t0 = System.nanoTime()
      val res =
        try Right(w.op(i))
        catch { case e: Exception => Left(e) }
      val t = (System.nanoTime() - t0) / 1e9
      if (tracer.enabled)
        tracer.add("fs.bytes_written",
          (CountingFileSystem.bytesWritten() - b0).toDouble)
      val ok = res match {
        case Right(o) =>
          ctx.outside(
            try o.check()
            catch { case e: Exception =>
              System.err.println(s"op $i check threw: $e"); false })
        case Left(e) =>
          System.err.println(s"op $i (${name}) failed: $e")
          e.printStackTrace()
          false
      }
      attempted += 1
      if (!ok) failed += 1
      if (i == w.spaceAmpAfter) amp = ctx.outside(w.spaceAmp())
      (t, res.map(_.rows).getOrElse(0L))
    }

    // an untimed, uncounted warm-up on the kept state, so timed ops run
    // plans that are already compiled and JIT-warm
    val warmStart = System.nanoTime()
    ctx.outside(tracer.quietly((0 until w.warmOps).foreach(attempt)))
    val warmS = (System.nanoTime() - warmStart) / 1e9

    val lat = scala.collection.mutable.ArrayBuffer.empty[Double]
    var rows = 0L
    val start = System.nanoTime()
    var i = w.cycle
    def more: Boolean =
      if (traced) i < w.cycle + w.tracedOps
      else i % w.cycle != 0 || i == w.cycle ||
        (System.nanoTime() - start) / 1e9 < seconds
    while (more) {
      val (t, r) = attempt(i)
      lat += t
      rows += r
      i += 1
    }
    counts.foreach(_ => SparkBus.drain(spark.sparkContext))
    val layerSnapshot: Map[String, Double] =
      if (traced) layerMetrics(ctx, w, lat.toSeq) else Map.empty
    val checkStart = System.nanoTime()
    val finalOk = ctx.outside {
      try w.finalCheck()
      catch { case e: Exception =>
        System.err.println(s"final check threw: $e"); e.printStackTrace(); false }
    }
    if (amp.isNaN) amp = ctx.outside(w.spaceAmp())
    if (!finalOk) { failed += 1; attempted += 1 }

    val sorted = lat.sorted
    val (tail, tailPct) = Stats.tail(sorted.toSeq)
    System.gc()
    val rt = Runtime.getRuntime
    val heapMb = (rt.totalMemory - rt.freeMemory) / 1048576.0
    val busy = lat.sum
    val metrics: Seq[(String, Double, String)] =
      if (traced) {
        PerLayer.map { case (n, u) => (n, layerSnapshot.getOrElse(n, 0.0), u) }
      } else Seq(
        ("setup_s", Stats.median(setupTimes.sorted), "s"),
        ("latency_p50_s", Stats.median(sorted.toSeq), "s"),
        ("latency_tail_s", tail, "s"),
        ("rows_per_s", rows / busy, "rows/s"),
        ("space_amp", amp, "ratio"),
        ("driver_heap_mb", heapMb, "MB"))
    counts.foreach(c => tracer.writeJson(s"$work/spans.json", c))
    val prov = Seq(
      "workload" -> Json.str(name), "seed" -> seed.toString,
      "nproc" -> cores.toString,
      "inputs" -> Json.str("generated from the seed"),
      "spark" -> Json.str(spark.version),
      "jvm" -> Json.str(System.getProperty("java.version")),
      "git_rev" -> Json.str(opts.getOrElse("rev", "unknown")),
      "traced" -> traced.toString, "ops" -> lat.size.toString,
      "tail_percentile" -> f"$tailPct%.4f",
      "setup_s" -> setupTimes.map(t => f"$t%.3f").mkString("[", ",", "]"),
      "warmup_s" -> f"$warmS%.3f",
      "latencies_s" -> lat.take(300).map(t => f"$t%.3f").mkString("[", ",", "]"),
      "measured_s" -> f"${(checkStart - start) / 1e9}%.3f",
      "final_check_s" -> f"${(System.nanoTime() - checkStart) / 1e9}%.3f",
      "jvm_start_s" -> f"$startupS%.3f")
    spark.stop()
    println(Json.obj(Seq("provenance" -> Json.obj(prov))))
    println(Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
  }

  private def session(cores: Int, work: String, traced: Boolean): SparkSession = {
    // graft.Bench's settings, on every core of this machine
    val b = SparkSession.builder()
      .appName("graft-perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.shuffle.enabled", "true")
      .config("spark.ui.enabled", "false")
      // keep every file the run makes inside its work directory
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    if (traced) b.config("spark.hadoop.fs.file.impl",
      classOf[CountingFileSystem].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (traced) {
      // a local filesystem cached before the session existed would
      // bypass the counting one
      org.apache.hadoop.fs.FileSystem.closeAll()
      val fs = new org.apache.hadoop.fs.Path(work)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(fs.isInstanceOf[CountingFileSystem],
        s"counting filesystem not installed: ${fs.getClass}")
      CountingFileSystem.context = Some(spark.sparkContext)
    }
    spark
  }

  /** The traced run's per-layer figures: Spark and filesystem counts
    * plus the workload's own. */
  private def layerMetrics(ctx: Ctx, w: Workload,
      lat: Seq[Double]): Map[String, Double] = {
    val c = ctx.counts.get
    import scala.jdk.CollectionConverters._
    val phases = c.phases.asScala.toSeq
    def phase(n: String) = phases.filter(_._1 == n).map(p => p._3 - p._2).sum / 1000.0
    val jobUnion = Stats.unionMs(c.jobIntervals.asScala.toSeq) / 1000.0
    val planning = Seq("analysis", "optimization", "planning").map(phase).sum
    val fs = CountingFileSystem.counts.map { case (k, v) =>
      s"fs.$k" -> v.get.toDouble }
    Map(
      "spark.actions" -> c.actions.get.toDouble,
      "spark.jobs" -> c.jobs.get.toDouble,
      "spark.stages" -> c.stages.get.toDouble,
      "spark.tasks" -> c.tasks.get.toDouble,
      "spark.executor_cpu_s" -> c.cpuNs.get / 1e9,
      "spark.executor_run_s" -> c.runMs.get / 1e3,
      "spark.shuffle_write_bytes" -> c.shuffleWrite.get.toDouble,
      "spark.shuffle_read_bytes" -> c.shuffleRead.get.toDouble,
      "spark.spill_bytes" -> c.spill.get.toDouble,
      "spark.input_bytes" -> c.input.get.toDouble,
      "spark.output_bytes" -> c.output.get.toDouble,
      "driver.analysis_s" -> phase("analysis"),
      "driver.optimization_s" -> phase("optimization"),
      "driver.planning_s" -> phase("planning"),
      "driver.other_s" -> math.max(0.0, lat.sum - jobUnion - planning),
      "fs.manifest_open" -> CountingFileSystem.manifestOpens.get.toDouble,
      "fs.bytes_written" -> ctx.tracer.counter("fs.bytes_written"),
      "trace.ops" -> lat.size.toDouble,
      "trace.latency_p50_s" -> Stats.median(lat.sorted)) ++ fs ++ w.layers()
  }
}

object Stats {
  def median(sorted: Seq[Double]): Double =
    if (sorted.isEmpty) Double.NaN
    else {
      val n = sorted.size
      if (n % 2 == 1) sorted(n / 2) else (sorted(n / 2 - 1) + sorted(n / 2)) / 2
    }

  /** The highest percentile with at least ten samples above it, and
    * that percentile. Below 21 samples that percentile would not reach
    * the median, so the tail is the maximum. */
  def tail(sorted: Seq[Double]): (Double, Double) = {
    val n = sorted.size
    if (n == 0) (Double.NaN, Double.NaN)
    else if (n <= 20) (sorted.last, 1.0)
    else (sorted(n - 11), (n - 10).toDouble / n)
  }

  /** Total length covered by a set of (start, end) intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else java.math.BigDecimal.valueOf(v).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
