package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}

/** Per-file column statistics for [[Versioned]] manifests — the
  * data-skipping half of the lake format (Delta stores the same
  * min/max/nullCount per file in its log; the reference leans on that
  * for partition-scoped reads). Stats are harvested from the parquet
  * FOOTERS of freshly committed segments — one footer read per file,
  * never a data scan — and ride the manifest line of the file they
  * describe, so a version's skipping metadata is committed atomically
  * with its file list and costs one manifest read to load.
  *
  * At 100 TB the point is that read planning under a selective filter
  * is O(matching files): a query on one day of an append-only table
  * opens the manifests, drops every segment whose [min,max] window
  * excludes the predicate, and scans only the survivors — no
  * footer-probing of a million files at plan time, no full scan. The
  * same bounds answer `max(col)` outright when every live file has one
  * (`Versioned.statsMax`): ingest's watermark commit starts no job.
  *
  * Manifest encoding (backward compatible — a file line without a tab
  * is a plain path, older manifests parse unchanged):
  *
  * {{{
  *   <relpath>\trows=<n>[\t<col>:<t>:<min>:<max>:<nulls>]...
  * }}}
  *
  * where `t` is the ordering class: `l` integer-ordered (int/long/
  * date/timestamp-as-micros), `s` UTF-8 binary-ordered string,
  * `b` boolean, `d` floating (bounds recorded, NEVER used for
  * range pruning — NaN never enters parquet min/max, so bounds are
  * unsound for Spark's NaN-is-largest ordering; null counts still
  * prune), `x` present-but-unprunable (decimal, unsigned, nested —
  * null counts only). `min`/`max` are `v`-prefixed URL-encoded values
  * (empty = unknown); a column MISSING from a stats-bearing line means
  * the file predates the column entirely (schema evolution), i.e.
  * reads as all-NULL — which is itself prunable.
  */
object SegmentStats {

  /** One column's footer stats, values kept in their serialized string
    * form (parsed per ordering class at evaluation time). */
  final case class ColStats(tag: Char, min: Option[String],
      max: Option[String], nulls: Option[Long])

  /** One file's stats; `cols` is keyed by LOWERCASED column name.
    * `bytes` is the file length (None on pre-bytes manifests): having
    * it in the manifest is what lets size-thresholded OPTIMIZE and
    * DESCRIBE DETAIL plan WITHOUT one file-status RPC per file — on
    * an object store, a 100k-file table would otherwise pay 100k
    * round trips before deciding what to compact. */
  final case class FileStats(rows: Long, cols: Map[String, ColStats],
      bytes: Option[Long] = None)

  // ---------------------------------------------------------------- collect

  /** Harvest stats for freshly written segment files (absolute paths),
    * returning the serialized manifest suffix per file. Best-effort by
    * contract: a footer that cannot be read or a shape this walker
    * does not understand yields NO suffix for that file (the commit
    * must never fail, and readers treat missing stats as
    * unprunable). Serial — kept for tests and as the no-session
    * fallback; commits go through the session-aware overload. */
  def collect(conf: Configuration, absFiles: Seq[String]): Map[String, String] =
    absFiles.flatMap { f =>
      try Some(f -> serialize(readFooterStats(conf, new Path(f))))
      catch { case scala.util.control.NonFatal(_) => None }
    }.toMap

  /** How many files a commit may harvest on the driver before the
    * harvest becomes a Spark job. Small enough that a chunk-sized
    * commit never pays job-scheduling overhead; large enough that a
    * backfill's thousands of footers are read by executors. */
  private[operators] val ExecutorHarvestThreshold = 32

  /** Commit-time harvest: footer reads must NOT be a serial driver
    * loop — on an object store each open is a round-trip, so a
    * 10k-file backfill commit would pay 10k sequential RPCs (minutes)
    * before it can write its manifest. Small commits read their
    * handful of footers on the driver CONCURRENTLY (bounded pool, no
    * job overhead); anything larger becomes a Spark job over the file
    * list, so harvest wall-time scales with cluster width like the
    * write that produced the files did (Delta sidesteps the problem by
    * computing stats inside the write tasks; harvesting at commit
    * keeps the writer path stock — same stats, one footer read per
    * file, executor-side). */
  def collect(spark: org.apache.spark.sql.SparkSession,
      absFiles: Seq[String]): Map[String, String] = {
    val n = absFiles.size
    if (n == 0) Map.empty
    else if (n <= ExecutorHarvestThreshold) {
      val conf = spark.sparkContext.hadoopConfiguration
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(n, 8))
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try {
        val fs = absFiles.map { f =>
          Future {
            try Some(f -> serialize(readFooterStats(conf, new Path(f))))
            catch { case scala.util.control.NonFatal(_) => None }
          }
        }
        Await.result(Future.sequence(fs), Duration.Inf).flatten.toMap
      } finally pool.shutdown()
    } else {
      val sc = spark.sparkContext
      val bc = sc.broadcast(
        new org.apache.spark.util.SerializableConfiguration(
          sc.hadoopConfiguration))
      val slices = math.min(n, math.max(sc.defaultParallelism, 1))
      try sc.parallelize(absFiles, slices).flatMap { f =>
        try Some(f -> serialize(readFooterStats(bc.value.value, new Path(f))))
        catch { case scala.util.control.NonFatal(_) => None }
      }.collect().toMap
      finally bc.destroy()
    }
  }

  /** Read one parquet footer into FileStats. Every TOP-LEVEL field of
    * the file schema is recorded (primitives with their ordering class,
    * groups as `x`), so "column missing from the map" is unambiguous:
    * the file genuinely predates that column. */
  private[operators] def readFooterStats(conf: Configuration,
      file: Path): FileStats = {
    val input = HadoopInputFile.fromPath(file, conf)
    val reader = ParquetFileReader.open(input)
    try {
      val footer = reader.getFooter
      val schema = footer.getFileMetaData.getSchema
      val blocks = footer.getBlocks
      import scala.jdk.CollectionConverters._
      val rows = blocks.asScala.map(_.getRowCount).sum
      // per top-level leaf column: the chunks across all row groups
      val chunks = blocks.asScala
        .flatMap(_.getColumns.asScala)
        .filter(_.getPath.toArray.length == 1)
        .groupBy(_.getPath.toArray.apply(0))
      val cols = schema.getFields.asScala.flatMap { field =>
        val name = field.getName
        val cs =
          if (!field.isPrimitive) ColStats('x', None, None, None)
          else {
            val prim = field.asPrimitiveType()
            val tag = orderingClass(prim)
            val fileChunks = chunks.getOrElse(name, Seq.empty)
            fold(tag, prim, fileChunks.toSeq
              .map(_.getStatistics.asInstanceOf[Statistics[_]]))
          }
        // lowercase key; drop colliding names outright (never guess)
        Some(name.toLowerCase -> cs)
      }.toMap
      val lowered = schema.getFields.asScala.map(_.getName.toLowerCase)
      val safe = if (lowered.distinct.size == lowered.size) cols
        else cols.view.filterKeys(k => lowered.count(_ == k) == 1).toMap
      FileStats(rows, safe, Some(input.getLength))
    } finally reader.close()
  }

  /** Ordering class of a primitive parquet type under SPARK's reading
    * of it. Anything whose byte order, logical order, or engine order
    * could diverge is `x` — stats pruning must be conservative, never
    * clever. */
  private def orderingClass(prim: PrimitiveType): Char = {
    import PrimitiveType.PrimitiveTypeName._
    import LogicalTypeAnnotation._
    val logical = prim.getLogicalTypeAnnotation
    prim.getPrimitiveTypeName match {
      case BOOLEAN => 'b'
      case FLOAT | DOUBLE => 'd'
      case INT32 | INT64 => logical match {
        case null => 'l'
        case i: IntLogicalTypeAnnotation => if (i.isSigned) 'l' else 'x'
        case _: DateLogicalTypeAnnotation => 'l'
        case t: TimestampLogicalTypeAnnotation => t.getUnit match {
          // micros is Spark's catalyst unit; millis rescales exactly.
          // Nanos (legacy external files) would need a lossy floor —
          // stay out.
          case LogicalTypeAnnotation.TimeUnit.MICROS => 'l'
          case LogicalTypeAnnotation.TimeUnit.MILLIS => 'l'
          case _ => 'x'
        }
        case _ => 'x'
      }
      case BINARY => logical match {
        case _: StringLogicalTypeAnnotation => 's'
        case _: EnumLogicalTypeAnnotation => 's'
        case _ => 'x'
      }
      case _ => 'x' // INT96, FIXED_LEN_BYTE_ARRAY
    }
  }

  /** Micros-per-unit multiplier for timestamp columns (1 for
    * everything else) so serialized longs are always in catalyst's
    * unit. */
  private def tsScale(prim: PrimitiveType): Long =
    prim.getLogicalTypeAnnotation match {
      case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
          if t.getUnit == LogicalTypeAnnotation.TimeUnit.MILLIS => 1000L
      case _ => 1L
    }

  /** Fold row-group chunk statistics into one per-file ColStats. A
    * single chunk with unusable stats makes the whole bound unknown
    * (sound: unknown never prunes). */
  private def fold(tag: Char, prim: PrimitiveType,
      stats: Seq[Statistics[_]]): ColStats = {
    if (stats.isEmpty) return ColStats(tag, None, None, Some(0L))
    val nulls =
      if (stats.forall(s => s != null && s.isNumNullsSet))
        Some(stats.map(_.getNumNulls).sum)
      else None
    def bounds(isMin: Boolean): Option[String] = {
      if (tag == 'x') return None
      val vs = stats.map(boundValue(tag, prim, _, isMin))
      if (vs.exists(_.isEmpty)) None else Some(pickBound(tag, vs.map(_.get), isMin))
    }
    ColStats(tag, bounds(isMin = true), bounds(isMin = false), nulls)
  }

  private def pickBound(tag: Char, vs: Seq[String], isMin: Boolean): String =
    tag match {
      case 'l' => val ls = vs.map(_.toLong)
        (if (isMin) ls.min else ls.max).toString
      case 'd' => val ds = vs.map(_.toDouble)
        (if (isMin) ds.min else ds.max).toString
      case 'b' => if (isMin) vs.min else vs.max // "0" < "1"
      case 's' =>
        val us = vs.map(org.apache.spark.unsafe.types.UTF8String.fromString)
        val best = if (isMin) us.min else us.max
        best.toString
      case _ => vs.head
    }

  /** One chunk's min or max as a serialized string, None if absent or
    * out of contract (NaN, oversized string). */
  private def boundValue(tag: Char, prim: PrimitiveType, st: Statistics[_],
      isMin: Boolean): Option[String] = {
    if (st == null || !st.hasNonNullValue) return None
    val v = if (isMin) st.genericGetMin else st.genericGetMax
    tag match {
      case 'l' => v match {
        case i: java.lang.Integer => Some((i.longValue * tsScale(prim)).toString)
        case l: java.lang.Long => Some((l.longValue * tsScale(prim)).toString)
        case _ => None
      }
      case 'd' => v match {
        case f: java.lang.Float if !f.isNaN => Some(f.doubleValue.toString)
        case d: java.lang.Double if !d.isNaN => Some(d.toString)
        case _ => None
      }
      case 'b' => v match {
        case b: java.lang.Boolean => Some(if (b) "1" else "0")
        case _ => None
      }
      case 's' => v match {
        case b: org.apache.parquet.io.api.Binary =>
          val s = b.toStringUsingUTF8
          // oversized bounds bloat every manifest read; drop them
          // (footer stats for huge strings are often truncated or
          // absent upstream anyway)
          if (s.length <= 96) Some(s) else None
        case _ => None
      }
      case _ => None
    }
  }

  // ------------------------------------------------------ (de)serialization

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")
  /** Bounds are `v`-prefixed before URL-encoding so an absent bound
    * (empty field) is distinguishable from an empty-string value. */
  private def encBound(b: Option[String]): String =
    b.map(v => "v" + enc(v)).getOrElse("")
  private def decBound(f: String): Option[String] =
    if (f.isEmpty) None else Some(dec(f.drop(1)))

  /** The tab-separated manifest suffix for one file. The optional
    * `bytes=` field rides immediately after `rows=` (older manifests
    * without it parse unchanged; readers treat absence as "probe the
    * filesystem"). */
  def serialize(fs: FileStats): String = {
    val cols = fs.cols.toSeq.sortBy(_._1).map { case (name, c) =>
      val n = c.nulls.map(_.toString).getOrElse("")
      s"${enc(name)}:${c.tag}:${encBound(c.min)}:${encBound(c.max)}:$n"
    }
    val head = s"rows=${fs.rows}" +:
      fs.bytes.map(b => s"bytes=$b").toSeq
    (head ++ cols).mkString("\t")
  }

  /** Parse a manifest stats suffix; None for anything malformed (a
    * manifest edited by hand must degrade to "no stats", not fail the
    * read). */
  def parse(suffix: String): Option[FileStats] = {
    val parts = suffix.split('\t')
    if (parts.isEmpty || !parts(0).startsWith("rows=")) return None
    try {
      val rows = parts(0).stripPrefix("rows=").toLong
      val (byteF, colF) = parts.drop(1).partition(_.startsWith("bytes="))
      val bytes = byteF.headOption.map(_.stripPrefix("bytes=").toLong)
      val cols = colF.map { p =>
        val f = p.split(":", -1)
        require(f.length == 5 && f(1).length == 1)
        dec(f(0)) -> ColStats(f(1).charAt(0), decBound(f(2)), decBound(f(3)),
          if (f(4).isEmpty) None else Some(f(4).toLong))
      }.toMap
      Some(FileStats(rows, cols, bytes))
    } catch { case scala.util.control.NonFatal(_) => None }
  }
}
