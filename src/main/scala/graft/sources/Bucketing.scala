package graft.sources

import graft.operators.Versioned
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** The V2 function half of storage-partitioned joins: Spark only
  * treats two KeyGroupedPartitioning reports as co-partitioned when
  * both resolve `bucket(n, col)` through a FunctionCatalog to the SAME
  * canonical function — this object IS that function. Its semantics
  * are exactly the write-side layout hash of
  * [[graft.operators.Versioned.commitBucketed]]:
  * `pmod(murmur3_32(key, seed=42), n)`, i.e. Spark's own `hash()`
  * column function, so a runtime evaluation (partition filters,
  * partially-clustered distribution) can never disagree with where the
  * writer actually put the rows. Iceberg's `bucket` transform plays
  * the identical role in its SPJ support (public precedent; different
  * hash, same architecture). */
object GraftBucketFunction extends UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(n, col) — pmod(murmur3(col), n), the layout hash of " +
      "bucketed graft snapshot tables"
  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 2,
      s"bucket takes (numBuckets, key), got ${inputType.catalogString}")
    require(inputType.fields(0).dataType == IntegerType,
      s"numBuckets must be int, got ${inputType.fields(0).dataType}")
    val keyType = inputType.fields(1).dataType
    require(Seq(IntegerType, LongType, StringType, DateType,
      TimestampType).contains(keyType),
      s"unsupported bucket key type ${keyType.catalogString}")
    new BoundBucket(keyType)
  }
}

/** Bound `bucket(n, key)` for one key type. canonicalName carries the
  * key type: an int-keyed and a long-keyed bucketing hash the same
  * value differently, so they must never be judged co-partitioned. */
private[sources] final class BoundBucket(keyType: DataType)
    extends ScalarFunction[Integer] {
  override def inputTypes(): Array[DataType] = Array(IntegerType, keyType)
  override def resultType(): DataType = IntegerType
  override def isResultNullable: Boolean = false
  override def name(): String = "bucket"
  override def canonicalName(): String =
    s"graft.bucket(${keyType.catalogString})"
  override def produceResult(input: InternalRow): Integer = {
    // the function is user-callable through the FunctionCatalog:
    // bucket(NULL, k) reads the null slot as 0 and a non-positive n
    // would divide by zero mid-query — refuse with the argument named
    if (input.isNullAt(0)) throw new IllegalArgumentException(
      "bucket(n, key): n must not be NULL")
    val n = input.getInt(0)
    require(n > 0, s"bucket(n, key): n must be positive, got $n")
    // matches catalyst Murmur3Hash: null contributes the seed unchanged
    val h: Int =
      if (input.isNullAt(1)) 42
      else keyType match {
        case IntegerType | DateType =>
          Murmur3_x86_32.hashInt(input.getInt(1), 42)
        case LongType | TimestampType =>
          Murmur3_x86_32.hashLong(input.getLong(1), 42)
        case StringType =>
          val u = input.getUTF8String(1)
          Murmur3_x86_32.hashUnsafeBytes(
            u.getBaseObject, u.getBaseOffset, u.numBytes, 42)
        case t => throw new IllegalStateException(s"unbindable type $t")
      }
    ((h % n) + n) % n
  }
}

/** Bucket pruning: an equality/IN constraint on the bucket column can
  * only match rows in the buckets its literals hash to, so the scan
  * drops every other bucket's files at PLAN time — the hash-layout
  * counterpart of partition pruning (Hive bucket pruning, Iceberg
  * bucket transform pruning are the public precedents). At 100 TB a
  * point lookup on a 1024-bucket table reads 1/1024th of the files
  * before stats are even consulted. Works for both Catalyst plan-time
  * filters and source-level runtime (DPP) filters; any uncertainty —
  * type mismatch with the layout hash, non-literal operands —
  * disables pruning rather than risking a wrong bucket. */
private[sources] object BucketPruning {
  import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, Literal, Murmur3Hash}
  import org.apache.spark.sql.catalyst.expressions.{EqualTo => CEqualTo, In => CIn, InSet => CInSet}
  import org.apache.spark.sql.{sources => sf}

  /** Shared resolve step for both pruning paths: find the bucket
    * column's schema field (case-insensitively) and hand (name, type,
    * n) to the path-specific target computation. */
  def resolve(bucket: Option[(String, Int)], schema: StructType)(
      f: (String, DataType, Int) => Option[Set[Int]]): Option[Set[Int]] =
    bucket.flatMap { case (c, n) =>
      schema.fields.find(_.name.equalsIgnoreCase(c))
        .flatMap(fd => f(c, fd.dataType, n))
    }

  /** The bucket a literal lands in, iff its type matches the layout
    * hash's input type exactly (hashInt(5) != hashLong(5L): a
    * mistyped literal must disable pruning, not misroute it). */
  private def bucketOf(l: Literal, colType: DataType, n: Int): Option[Int] =
    if (l.dataType != colType) None
    else colType match {
      case IntegerType | DateType | LongType | TimestampType | StringType =>
        val h = new Murmur3Hash(Seq(l), 42).eval(null).asInstanceOf[Int]
        Some(((h % n) + n) % n)
      case _ => None
    }

  /** Plan-time Catalyst filters → reachable bucket ids (None = no
    * usable constraint on the bucket column). */
  def targets(filters: Seq[Expression], col: String, colType: DataType,
      n: Int): Option[Set[Int]] =
    filters.flatMap {
      case CEqualTo(a: Attribute, l: Literal) if a.name.equalsIgnoreCase(col) =>
        bucketOf(l, colType, n).map(Set(_))
      case CEqualTo(l: Literal, a: Attribute) if a.name.equalsIgnoreCase(col) =>
        bucketOf(l, colType, n).map(Set(_))
      case CIn(a: Attribute, vs) if a.name.equalsIgnoreCase(col) &&
          vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
        val bs = vs.map(v => bucketOf(v.asInstanceOf[Literal], colType, n))
        if (bs.forall(_.isDefined)) Some(bs.flatten.toSet) else None
      // the optimizer rewrites IN lists at/above
      // spark.sql.optimizer.inSetConversionThreshold (default 10) to
      // InSet over CATALYST values — exactly the many-key lookup shape
      // bucket pruning exists for
      case CInSet(a: Attribute, hset) if a.name.equalsIgnoreCase(col) &&
          hset.nonEmpty =>
        val bs = hset.toSeq.map(v => bucketOf(Literal(v, colType), colType, n))
        if (bs.forall(_.isDefined)) Some(bs.flatten.toSet) else None
      case _ => None
    }.reduceOption(_ intersect _)

  /** Source-level filters (the runtime/DPP re-prune path) → reachable
    * bucket ids. Values are re-wrapped as literals OF THE COLUMN TYPE,
    * so the hash is the layout hash by construction; a value
    * Literal.create cannot convert disables pruning for that filter
    * instead of failing the scan (pruning is never a gate). */
  def targetsSource(filters: Seq[sf.Filter], col: String,
      colType: DataType, n: Int): Option[Set[Int]] = {
    def lit(v: Any): Option[Literal] =
      scala.util.Try(Literal.create(v, colType)).toOption
    filters.flatMap {
      case sf.EqualTo(a, v) if a.equalsIgnoreCase(col) =>
        lit(v).flatMap(bucketOf(_, colType, n)).map(Set(_))
      case sf.In(a, vs) if a.equalsIgnoreCase(col) && vs.nonEmpty =>
        val bs = vs.toSeq.map(v => lit(v).flatMap(bucketOf(_, colType, n)))
        if (bs.forall(_.isDefined)) Some(bs.flatten.toSet) else None
      case _ => None
    }.reduceOption(_ intersect _)
  }

  /** Keep a file iff its bucket id is reachable (files outside bucket
    * dirs are kept — pruning is an optimization, never a gate). */
  def keeps(keep: Option[Set[Int]])(file: String): Boolean =
    keep.forall(ks =>
      graft.operators.Versioned.bucketIdOf(file).forall(ks.contains))
}

/** Re-keys a parquet Batch's splits by bucket: one partition PER
  * SPLIT, each carrying its file's bucket id as the partition key —
  * the shape `SupportsReportPartitioning` promises. Split planning
  * stays Spark's (a split never crosses files, so never crosses
  * buckets); Spark's own `BatchScanExec.groupPartitions` then merges
  * same-key splits into one task in the default mode, and with
  * `spark.sql.sources.v2.bucketing.partiallyClusteredDistribution
  * .enabled` keeps a skewed bucket's splits as SEPARATE tasks,
  * replicating the other side's matching partition across them — at
  * 100 TB a hot key's bucket can be 100× the median, and split-level
  * parallelism on it is the difference between one straggler task and
  * a balanced stage. (Pre-grouping here, as before r6, silently
  * capped every bucket at one task and made that conf inert.) Reader
  * creation unwraps back to the inner FilePartition, so the
  * vectorized parquet readers run untouched. */
private[sources] final class BucketGroupedBatch(inner: Batch)
    extends Batch {
  private lazy val parts: Array[InputPartition] = {
    val files = inner.planInputPartitions().flatMap {
      case fp: FilePartition => fp.files
      case other => throw new IllegalStateException(
        s"bucketed scan expected FilePartition, got ${other.getClass}")
    }
    files.map { pf =>
      val bucket = Versioned.bucketIdOf(pf.filePath.toPath.toString)
        .getOrElse(throw new IllegalStateException(
          s"unbucketed file in bucketed scan: ${pf.filePath}"))
      (bucket, pf)
    }.sortBy(_._1)
      .zipWithIndex
      .map { case ((bucket, pf), i) =>
        new BucketKeyedPartition(bucket, FilePartition(i, Array(pf)))
      }.toArray[InputPartition]
  }
  override def planInputPartitions(): Array[InputPartition] = parts
  override def createReaderFactory(): PartitionReaderFactory =
    new UnwrapReaderFactory(inner.createReaderFactory())
}

private[sources] final class BucketKeyedPartition(bucket: Int,
    private[sources] val inner: FilePartition)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucket))
  override def preferredLocations(): Array[String] =
    inner.preferredLocations()
}

/** Bytes a graft DSv2 scan PLANNED to read, summed from its input
  * partitions' file lengths — the v2 counterpart of the v1 scan's
  * `filesSize` metric (which the ParquetScan delegate does not
  * surface), so `PlanMetrics.bytesRead` can attribute bucket pruning in
  * bytes on snapshot-table probes. */
private[graft] object ScanBytes {
  def plannedBytes(p: org.apache.spark.sql.execution.SparkPlan)
      : Option[Long] = p match {
    case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
        if b.scan.getClass.getName.startsWith("graft.") =>
      Some(b.inputPartitions.map {
        case bk: BucketKeyedPartition => bk.inner.files.map(_.length).sum
        case fp: FilePartition => fp.files.map(_.length).sum
        case _ => 0L
      }.sum)
    case _ => None
  }
}

private[sources] final class UnwrapReaderFactory(
    inner: PartitionReaderFactory) extends PartitionReaderFactory {
  private def unwrap(p: InputPartition): FilePartition =
    p.asInstanceOf[BucketKeyedPartition].inner
  override def createReader(p: InputPartition)
      : PartitionReader[InternalRow] = inner.createReader(unwrap(p))
  override def createColumnarReader(p: InputPartition)
      : PartitionReader[ColumnarBatch] = inner.createColumnarReader(unwrap(p))
  override def supportColumnarReads(p: InputPartition): Boolean =
    inner.supportColumnarReads(unwrap(p))
}
