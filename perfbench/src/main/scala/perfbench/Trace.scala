package perfbench

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.SparkBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

/** One timed call into the program: name, wall interval, the span that
  * caused it and the workload op it belongs to. */
object Tracer {
  val SpanKey = "perfbench.span"
}

final case class Span(id: Int, parent: Int, name: String, op: Int,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans and counters of a traced run, all kept in memory and written
  * once at the end. With tracing off every call is a plain pass-through,
  * so the untraced run times the program alone.
  *
  * Load comes from one driver thread, so the open-span stack is a plain
  * field. The innermost open span's id rides the Spark local property
  * [[Tracer.SpanKey]], which Spark hands to every job the span starts
  * and to its tasks; [[Counts]] and [[CountingFileSystem]] key their
  * per-span counts by it.
  */
final class Tracer(sc: Option[org.apache.spark.SparkContext]) {
  private var muted = false
  /** True in the traced run, outside [[quietly]]. */
  def enabled: Boolean = sc.isDefined && !muted

  /** Runs `body` with recording off: no spans, no counters, and
    * `enabled` false, so workloads skip their own layer bookkeeping. */
  def quietly[A](body: => A): A = {
    val prev = muted
    muted = true
    try body finally muted = prev
  }
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  private var op = -1
  private val counters = mutable.LinkedHashMap.empty[String, Double]

  def setOp(i: Int): Unit = op = i

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      val t0 = System.nanoTime()
      stack = id :: stack
      sc.foreach(_.setLocalProperty(Tracer.SpanKey, id.toString))
      try body
      finally {
        stack = stack.tail
        sc.foreach(_.setLocalProperty(Tracer.SpanKey,
          stack.headOption.map(_.toString).orNull))
        spans += Span(id, parent, name, op, t0, System.nanoTime())
      }
    }

  def add(name: String, v: Double): Unit =
    if (enabled) counters(name) = counters.getOrElse(name, 0.0) + v

  def counter(name: String): Double = counters.getOrElse(name, 0.0)

  /** Ids of the spans named `name`. */
  def ids(name: String): Seq[Int] = spans.iterator.filter(_.name == name)
    .map(_.id).toSeq

  /** Total duration of spans named `name`. */
  def total(name: String): Double =
    spans.iterator.filter(_.name == name).map(_.seconds).sum

  /** Duration of spans named `name` minus the time their child spans
    * cover (children of one span never overlap: one thread). */
  def selfTime(name: String): Double = {
    val byParent = spans.groupBy(_.parent)
    spans.iterator.filter(_.name == name).map { s =>
      s.seconds - byParent.getOrElse(s.id, Nil).map(_.seconds).sum
    }.sum
  }

  /** Every span, with the counts attributed to it (its own, not its
    * children's). */
  def writeJson(path: String, counts: Counts): Unit = {
    val sb = new StringBuilder("[\n")
    spans.sortBy(_.startNs).zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      val own = (counts.bySpan(s.id.toString) ++
        CountingFileSystem.bySpan(s.id.toString)).toSeq.sortBy(_._1)
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""op":${s.op},"start_ns":${s.startNs},"end_ns":${s.endNs}""" +
        own.map { case (k, v) => s""","$k":$v""" }.mkString + "}")
    }
    sb.append("\n]\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      sb.toString.getBytes("UTF-8"))
  }
}

/** Spark-side counts of a traced run: jobs, stages, tasks and task
  * metrics from a [[SparkListener]], planning phases from a
  * [[QueryExecutionListener]]. Work the benchmark does for itself
  * (correctness checks, lake inspection) runs with the local property
  * [[Counts.Ignore]] set and is left out. */
final class Counts extends SparkListener with QueryExecutionListener {
  private val ignoredStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  val actions, jobs, stages, tasks = new AtomicLong
  val cpuNs, runMs, shuffleWrite, shuffleRead, spill, input, output =
    new AtomicLong
  /** (start ms, end ms) of each counted job, epoch clock. */
  val jobIntervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  private val jobStart =
    new java.util.concurrent.ConcurrentHashMap[Integer, java.lang.Long]()
  /** (phase, start ms, end ms) of each counted query's tracked phases. */
  val phases = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()
  @volatile var paused = false
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val perSpan = new java.util.concurrent.ConcurrentHashMap[(String, String), AtomicLong]()

  private def addTo(span: String, key: String, v: Long): Unit =
    if (span != null)
      perSpan.computeIfAbsent((span, key), _ => new AtomicLong).addAndGet(v)

  /** Jobs, tasks, executor CPU nanoseconds and input records of the
    * work span `id` started. */
  def bySpan(id: String): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    perSpan.asScala.collect { case ((`id`, k), v) => k -> v.get }.toMap
  }

  private def ignored(p: java.util.Properties): Boolean =
    p != null && p.getProperty(Counts.Ignore) == "true"

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (ignored(e.properties)) e.stageIds.foreach(ignoredStages.add)
    else {
      jobs.incrementAndGet()
      jobStart.put(e.jobId, e.time)
      val span = Option(e.properties).map(_.getProperty(Tracer.SpanKey)).orNull
      addTo(span, "jobs", 1)
      if (span != null) e.stageIds.foreach(stageSpan.put(_, span))
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val t0 = jobStart.remove(e.jobId)
    if (t0 != null) jobIntervals.add((t0.longValue, e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (!ignoredStages.contains(e.stageInfo.stageId)) stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (!ignoredStages.contains(e.stageId)) {
      tasks.incrementAndGet()
      val span = stageSpan.get(e.stageId)
      addTo(span, "tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        cpuNs.addAndGet(m.executorCpuTime)
        addTo(span, "executor_cpu_ns", m.executorCpuTime)
        addTo(span, "records_read", m.inputMetrics.recordsRead)
        runMs.addAndGet(m.executorRunTime)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        input.addAndGet(m.inputMetrics.bytesRead)
        output.addAndGet(m.outputMetrics.bytesWritten)
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = recordPhases(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = recordPhases(qe)

  private def recordPhases(qe: QueryExecution): Unit =
    if (!paused) {
      actions.incrementAndGet()
      qe.tracker.phases.foreach { case (name, p) =>
        phases.add((name, p.startTimeMs, p.endTimeMs))
      }
    }
}

object Counts {
  val Ignore = "perfbench.ignore"

  /** Run the benchmark's own work outside the counts: jobs are tagged
    * through a local property, filesystem calls and planning phases
    * through the pause flags. */
  def outside[A](spark: SparkSession, c: Option[Counts])(body: => A): A =
    c match {
      case None => body
      case Some(counts) =>
        val sc = spark.sparkContext
        val prev = sc.getLocalProperty(Ignore)
        val (prevPaused, prevFsPaused) = (counts.paused, CountingFileSystem.paused)
        // events of the counted work before this block must be seen
        // unpaused
        SparkBus.drain(sc)
        sc.setLocalProperty(Ignore, "true")
        counts.paused = true
        CountingFileSystem.paused = true
        try body
        finally {
          // planning phases arrive on the listener bus after the action
          // returns: let them land while still paused
          SparkBus.drain(sc)
          counts.paused = prevPaused
          CountingFileSystem.paused = prevFsPaused
          sc.setLocalProperty(Ignore, prev)
        }
    }
}

/** The local filesystem with every call counted: installed as
  * `fs.file.impl` through the Hadoop configuration in the traced run
  * only. Calls made from inside another counted call (a create that
  * probes the parent dir, say) count once, as the outer call. */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem._

  private def counted[A](kind: String, path: Path)(body: => A): A = {
    val d = depth.get
    if (d == 0 && !paused) {
      counts(kind).incrementAndGet()
      // a task sees the span through its task context, a driver thread
      // through the context's thread-local properties
      val tc = org.apache.spark.TaskContext.get()
      val span =
        if (tc != null) tc.getLocalProperty(Tracer.SpanKey)
        else context.map(_.getLocalProperty(Tracer.SpanKey)).orNull
      if (span != null)
        spanCounts.computeIfAbsent((span, s"fs_$kind"), _ => new AtomicLong)
          .incrementAndGet()
      if (kind == "open" && path.toString.contains("/_graft_log/"))
        manifestOpens.incrementAndGet()
    }
    depth.set(d + 1)
    try body finally depth.set(d)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    counted("open", f)(super.open(f, bufferSize))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    counted("create", f)(super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))
  override def rename(src: Path, dst: Path): Boolean =
    counted("rename", src)(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    counted("delete", f)(super.delete(f, recursive))
  override def listStatus(f: Path): Array[FileStatus] =
    counted("list", f)(super.listStatus(f))
  override def getFileStatus(f: Path): FileStatus =
    counted("status", f)(super.getFileStatus(f))
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    counted("mkdirs", f)(super.mkdirs(f, permission))
  override def mkdirs(f: Path): Boolean =
    counted("mkdirs", f)(super.mkdirs(f))
}

object CountingFileSystem {
  val Kinds = Seq("open", "create", "rename", "delete", "list", "status",
    "mkdirs")
  val counts: Map[String, AtomicLong] = Kinds.map(_ -> new AtomicLong).toMap
  val manifestOpens = new AtomicLong
  @volatile var paused = false
  /** The session whose local properties name the open span. */
  @volatile var context: Option[org.apache.spark.SparkContext] = None
  private val spanCounts =
    new java.util.concurrent.ConcurrentHashMap[(String, String), AtomicLong]()

  /** Filesystem calls made under span `id`. */
  def bySpan(id: String): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    spanCounts.asScala.collect { case ((`id`, k), v) => k -> v.get }.toMap
  }
  private val depth = ThreadLocal.withInitial[Int](() => 0)

  /** Bytes written through the local filesystem so far (Hadoop's own
    * per-scheme statistics, checksum files included). */
  def bytesWritten(): Long = {
    val s = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics
      .get("file")
    if (s == null) 0L
    else Option(s.getLong("bytesWritten")).map(_.longValue).getOrElse(0L)
  }
}
