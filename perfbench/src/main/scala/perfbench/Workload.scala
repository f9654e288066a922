package perfbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** What every workload gets: the session, the tracer (a pass-through
  * when tracing is off), the Spark counts (traced run only), its own
  * work directory and the seed its inputs come from. */
final case class Ctx(spark: SparkSession, tracer: Tracer,
    counts: Option[Counts], work: String, seed: Long) {
  /** Benchmark-side work (checks, lake inspection), kept out of the
    * traced counts. */
  def outside[A](body: => A): A = Counts.outside(spark, counts)(body)
}

/** One op of a workload: the rows it changed or returned, and its
  * output check. */
final case class Op(rows: Long, check: () => Boolean)

/** A closed-loop workload: a seeded, endless op stream against state
  * built by `setup`. Ops are numbered from 0; op `i` is the same on
  * every run with the same seed. */
trait Workload {
  /** Build the workload's state under `dir` (timed as `setup_s`). The
    * benchmark sets up several times and keeps the last. */
  def setup(dir: String): Unit

  /** Untimed preparation of op `i` (benchmark bookkeeping). */
  def prepare(i: Int): Unit = ()

  /** Run op `i` (timed). */
  def op(i: Int): Op

  /** Ops per cycle of the stream. The first cycle is an untimed
    * warm-up; the untraced run then times whole cycles until `--seconds`
    * have passed, so every run measures the same mix of op kinds. */
  def cycle: Int

  /** Ops of the first cycle run as the warm-up; the rest of that cycle
    * is skipped. */
  def warmOps: Int = cycle

  /** Ops in the traced run after the warm-up: a fixed count, so its
    * counts repeat. */
  def tracedOps: Int = cycle

  /** Op after which `space_amp` is taken: a fixed point of the stream
    * past the warm-up, so the figure does not depend on how fast the
    * loop ran. */
  def spaceAmpAfter: Int

  /** Bytes under the lake roots over bytes of live data. */
  def spaceAmp(): Double

  /** Whole-state check at the end of the run. */
  def finalCheck(): Boolean

  /** Per-layer figures of this workload (traced run). */
  def layers(): Map[String, Double]
}

object Lake {
  private def fs(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Bytes of every file under `root`, metadata and garbage included. */
  def bytesUnder(spark: SparkSession, root: String): Long = {
    val f = fs(spark, root)
    val p = new Path(root)
    if (!f.exists(p)) 0L
    else {
      val it = f.listFiles(p, true)
      var n = 0L
      while (it.hasNext) n += it.next().getLen
      n
    }
  }

  /** Bytes of the data files of a snapshot table's latest version. */
  def liveBytes(spark: SparkSession, table: String): Long = {
    val f = fs(spark, table)
    graft.operators.Versioned.versionFiles(spark, table)
      .map(p => f.getFileStatus(new Path(p)).getLen).sum
  }

  /** Bytes of the visible parquet data files of a plain parquet table
    * (hidden `_`/`.` files and dirs excluded, as Spark reads it). */
  def parquetBytes(spark: SparkSession, dir: String): Long = {
    val f = fs(spark, dir)
    def walk(p: Path): Long = f.listStatus(p).iterator.map { st =>
      val n = st.getPath.getName
      if (n.startsWith("_") || n.startsWith(".")) 0L
      else if (st.isDirectory) walk(st.getPath)
      else if (n.endsWith(".parquet")) st.getLen
      else 0L
    }.sum
    walk(new Path(dir))
  }

  def versionCount(spark: SparkSession, table: String): Int =
    graft.operators.Versioned.versions(spark, table).size

  def latestVersion(spark: SparkSession, table: String): Long =
    graft.operators.Versioned.versions(spark, table).lastOption.getOrElse(-1L)
}
