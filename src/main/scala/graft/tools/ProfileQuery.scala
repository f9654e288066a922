package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

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
  private val FenceKey = "graft.profilequery.fence"

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ProfileQuery <sfDir> <queryName> [repeats]")
    val sfDir = args(0)
    val name = args(1)
    val repeats = if (args.length > 2) args(2).toInt else 2
    val spark = graft.LocalSession()
    // same JVM warmup as the bench
    spark.range(1000000).selectExpr("sum(id)").collect()

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Long)]()
    val fenceJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val fenced = new java.util.concurrent.Semaphore(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val props = Option(js.properties)
        if (props.exists(_.getProperty(FenceKey) != null))
          fenceJobs.add(js.jobId)
        else {
          // the last stage's name is the action's call site — the most
          // precise "which line of ours caused this job" signal available
          val desc = props
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .filter(_.nonEmpty)
            .orElse(js.stageInfos.lastOption.map(_.name))
            .getOrElse("")
          jobs.put(js.jobId, (desc, js.time))
        }
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        if (fenceJobs.remove(je.jobId)) fenced.release()
        else Option(jobs.remove(je.jobId)).foreach { case (desc, t0) =>
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
      // fence the async listener bus: one tagged one-task job, posted
      // after every job of the count(). The shared queue delivers events
      // in posting order, so once the fence's end is seen every earlier
      // job's start and end have been handled. It stays out of `done`.
      val sc = spark.sparkContext
      sc.setLocalProperty(FenceKey, "true")
      try sc.parallelize(Seq(0), 1).count()
      finally sc.setLocalProperty(FenceKey, null)
      if (!fenced.tryAcquire(10, java.util.concurrent.TimeUnit.SECONDS))
        System.err.println("WARN: listener fence not seen within 10 s; " +
          "this run's job breakdown may be incomplete")
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
