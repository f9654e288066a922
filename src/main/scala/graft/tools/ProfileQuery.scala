package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Per-job wall-clock attribution for ONE declared query — the local
  * stand-in for the Spark UI's Jobs page (guide §1.1/§7.1; the bench
  * runs with the UI off). Runs the query's build + count() exactly as
  * the bench does, with a listener recording every job's duration and
  * description, then prints the breakdown. A second run in the same
  * JVM separates codegen/planning warmup from steady-state cost.
  *
  * Args: <sfDir> <queryName> [repeats]
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ProfileQuery <sfDir> <queryName> [repeats]")
    val sfDir = args(0)
    val name = args(1)
    val repeats = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.shuffle.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // same JVM warmup as the bench
    spark.range(1000000).selectExpr("sum(id)").collect()

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        // the last stage's name is the action's call site — the most
        // precise "which line of ours caused this job" signal available
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(_.nonEmpty)
          .orElse(js.stageInfos.lastOption.map(_.name))
          .getOrElse("")
        jobs.put(js.jobId, (desc, js.time))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(jobs.remove(je.jobId)).foreach { case (desc, t0) =>
          done.add((je.jobId, desc, je.time - t0))
        }
      }
      override def onStageCompleted(
          sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = for {
          a <- si.submissionTime; b <- si.completionTime
        } yield b - a
        if (wall.exists(_ > 150)) println(
          f"      stage ${si.stageId}%4d ${wall.get / 1000.0}%7.3f s " +
            f"tasks=${si.numTasks}%3d  ${si.name.take(80)}")
      }
    })

    // decompose driver-side time: per-action planning-phase totals
    val phaseMs = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    val actions = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit = {
          actions.incrementAndGet()
          qe.tracker.phases.foreach { case (phase, summary) =>
            phaseMs.synchronized {
              phaseMs.put(phase,
                phaseMs.getOrDefault(phase, 0L) + summary.durationMs)
            }
          }
        }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      })

    val fn = graft.SparkEntry.queries(name)
    for (r <- 1 to repeats) {
      done.clear(); phaseMs.clear(); actions.set(0)
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      // drain the async listener bus: every started job has ended once
      // count() returned, so poll until the in-flight map empties (the
      // fixed 800 ms sleep could attribute slow job-end events to the
      // next repeat or drop them — r19 ADVICE); bounded for safety
      val deadline = System.nanoTime() + 5000000000L
      while (!jobs.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      // then until `done` stops growing for a quiet 50 ms: a job-end can
      // still be on its way from the in-flight map to `done`
      var seen = -1
      while (done.size != seen && System.nanoTime() < deadline) {
        seen = done.size
        Thread.sleep(50)
      }
      println(f"== run $r: $name rows=$n wall=$sec%.3f s")
      val items = done.toArray(Array.empty[(Int, String, Long)]).sortBy(_._1)
      val total = items.map(_._3).sum
      items.foreach { case (id, desc, ms) =>
        println(f"  job $id%4d  ${ms / 1000.0}%7.3f s  ${desc.take(90)}")
      }
      println(f"  -- sum of jobs ${total / 1000.0}%7.3f s (gaps = driver/planning time)")
      val phases = phaseMs.entrySet().toArray(
        Array.empty[java.util.Map.Entry[String, Long]])
        .map(e => (e.getKey, e.getValue)).sortBy(-_._2)
      println(s"  -- ${actions.get()} tracked actions; planning phases: " +
        phases.map { case (p, ms) => f"$p=${ms / 1000.0}%.3fs" }
          .mkString(", "))
    }
    spark.stop()
  }
}
