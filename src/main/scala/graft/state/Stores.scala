package graft.state

import graft.model.{ConfigValue, TableLoadDetail}
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Dataset, Encoder, SaveMode, SparkSession}
import java.sql.Timestamp

/** Parquet-backed state stores with MERGE semantics (SURVEY.md §2.1
  * S9/S10, §2.8 C6). Delta is not on the offline classpath, so MERGE is
  * implemented as read-modify-overwrite through a staging directory with
  * an atomic directory swap — same visible semantics for the
  * single-writer control plane (the reference's MERGE is also a
  * single-writer pattern; its MAX(id)+1 key generation at `Ingest:368`
  * would race under concurrency, which is why ids here are
  * deterministic hashes of the logical key).
  *
  * Scale note: these are control tables (hundreds of rows), not data
  * tables; full-rewrite cost is constant. Data-plane writes never go
  * through this path. Each store keeps a driver-side copy of its rows,
  * valid while the table's file signature — the sorted (name, length,
  * mtime) of its visible data files — is unchanged. A lookup costs one
  * status call and one LIST and starts no Spark job; a miss re-reads
  * the table in one job; a commit is one write job. Every
  * Spark write lands new UUID-named part files, so a write by another
  * store instance or process is seen on the next lookup.
  */
object ParquetMerge {
  /** Overwrite `path` with `ds` via write-new + swap (best-effort atomic
    * on a local/posix fs; on an object store use a manifest instead).
    * Staging/backup use hidden sibling names (ignored by Spark's
    * FileIndex) and a crash between the two renames — table only at the
    * backup — is repaired on the next overwrite, same contract as
    * [[graft.operators.DataMerge.stagedOverwrite]]. Returns the
    * [[signature]] of what landed, listed in staging before the swap (a
    * rename keeps names, lengths and mtimes). */
  def overwrite[T](ds: Dataset[T], path: String): Seq[(String, Long, Long)] = {
    import graft.operators.DataMerge.hiddenSibling
    val tmp = new Path(hiddenSibling(path, ".staging"))
    ds.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    val fs = FileSystem.get(
      new java.net.URI(path), ds.sparkSession.sparkContext.hadoopConfiguration)
    val landed = signature(fs, tmp).getOrElse(Nil)
    val dst = new Path(path)
    val bak = new Path(hiddenSibling(path, ".old"))
    if (fs.exists(bak) && !fs.exists(dst)) fs.rename(bak, dst) // crash repair
    if (fs.exists(bak)) fs.delete(bak, true)
    if (fs.exists(dst)) fs.rename(dst, bak)
    fs.rename(tmp, dst)
    fs.delete(bak, true)
    landed
  }

  /** Sorted (name, length, mtime) of the entries a reader of `dir` sees
    * (Spark's FileIndex skips `_`- and `.`-prefixed names); None when
    * `dir` does not exist. */
  private[state] def signature(fs: FileSystem,
      dir: Path): Option[Seq[(String, Long, Long)]] =
    try Some(signatureOf(fs.listStatus(dir).toSeq))
    catch { case _: java.io.FileNotFoundException => None }

  private[state] def signatureOf(
      files: Seq[FileStatus]): Seq[(String, Long, Long)] =
    files.map(s => (s.getPath.getName, s.getLen, s.getModificationTime))
      .filterNot(f => f._1.startsWith("_") || f._1.startsWith(".")).sorted
}

/** The driver-side copy of one control table's rows that a parquet
  * store reads and commits through, keyed by the table's
  * [[ParquetMerge.signature]]. One per store instance; its lock
  * serializes the store's read-modify-overwrite commits. */
private final class ControlSnapshot[T <: Product : Encoder](
    spark: SparkSession, path: String) {
  private var copy: Option[(Option[Seq[(String, Long, Long)]], Seq[T])] = None

  /** The table's rows; re-read (one job) only when its files changed. */
  def rows(): Seq[T] = synchronized {
    val fs = FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val dir = new Path(path)
    // crash repair BEFORE the listing: after a crash inside a prior
    // overwrite's commit window the table lives only at the hidden .old
    // backup — a listing alone would read EMPTY, and the next commit
    // would then write just its own row, permanently wiping the rest
    val present = fs.exists(dir) ||
      graft.operators.DataMerge.recoverStagedOverwrite(spark, path)
    copy = copy match {
      case _ if !present => Some((None, Nil))
      case Some((sig, _)) if sig == ParquetMerge.signature(fs, dir) => copy
      case _ => Some(read()) // a cold copy needs no listing of its own
    }
    copy.get._2
  }

  /** The rows with the signature of the files the read's own index
    * listed: one LIST, one job. */
  private def read(): (Option[Seq[(String, Long, Long)]], Seq[T]) = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
      LogicalRelation, PartitioningAwareFileIndex}
    val df = spark.read.schema(implicitly[Encoder[T]].schema).parquet(path)
    val files = df.queryExecution.analyzed.collectFirst {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r.location
    }.collect { case i: PartitioningAwareFileIndex => i.allFiles() }
      .getOrElse(Nil)
    (Some(ParquetMerge.signatureOf(files)), df.as[T].collect().toSeq)
  }

  /** Read-modify-overwrite: `f` maps the current rows to the new table,
    * or to None when nothing changes. Synchronized: parallel table loads
    * (Ingest.run(parallelism)) commit DIFFERENT rows through the same
    * file — interleaved rewrites would lose updates. */
  def update(f: Seq[T] => Option[Seq[T]]): Unit = synchronized {
    f(rows()).foreach { next =>
      copy = None // a failed overwrite must not leave the old copy valid
      val landed = ParquetMerge.overwrite(spark.createDataset(next), path)
      copy = Some((Some(landed), next))
    }
  }
}

/** Store contracts — the parquet-backed stores below serve the offline
  * harness; [[JdbcConfigStore]]/[[JdbcWatermarkStore]] persist the same
  * state into a JDBC metastore the way the reference writes its
  * PostgreSQL `configurations.*` tables. */
trait ConfigStoreApi {
  def activeGroup(group: String): Map[String, String]
  def value(group: String, name: String): Option[String]
  def upsert(row: ConfigValue): Unit
  /** Every row, driver-side — config tables are control-plane small. */
  def allValues(): Seq[ConfigValue]
}

trait WatermarkStoreApi {
  def lastLoad(systemType: String, db: String, table: String): Option[Timestamp]
  def commit(systemType: String, db: String, table: String,
      lastLoad: Timestamp, insertIfMissing: Boolean): Unit
}

/** Key-value config store (`configurations.configvalues`,
  * `Ingest:68-130`; SURVEY §1.1). */
final class ConfigStore(spark: SparkSession, path: String)
    extends ConfigStoreApi {
  import spark.implicits._
  private val snapshot = new ControlSnapshot[ConfigValue](spark, path)

  def all(): Dataset[ConfigValue] = spark.createDataset(allValues())

  def allValues(): Seq[ConfigValue] = snapshot.rows()

  /** Active values of a group as name->value (the `rdd.collectAsMap()`
    * pattern at `Ingest:97,104` — config tables are tiny by contract). */
  def activeGroup(group: String): Map[String, String] =
    // case-insensitive like `value` and the JDBC backend — the two
    // ConfigStoreApi implementations must agree on row matching
    allValues().filter(c => c.is_active && c.group_name.equalsIgnoreCase(group))
      .map(c => c.config_name -> c.config_value).toMap

  /** Single config value; case-insensitive name match (P11,
    * `Config:114`). Missing-config is an error, as `Ingest:78-79`. */
  def value(group: String, name: String): Option[String] =
    allValues().find(c => c.is_active &&
        c.group_name.equalsIgnoreCase(group) &&
        c.config_name.equalsIgnoreCase(name))
      .map(_.config_value)

  /** Insert-or-update on (group_name, config_name) — S10/C8 semantics
    * (`Config:106-140`). */
  def upsert(row: ConfigValue): Unit =
    snapshot.update(rows => Some(rows.filterNot(c =>
      c.group_name.equalsIgnoreCase(row.group_name) &&
        c.config_name.equalsIgnoreCase(row.config_name)) :+ row))
}

/** Watermark state store (`configurations.TableLoadDetails`,
  * `Ingest:366-415`; SURVEY §2.8 C3/C6). */
final class WatermarkStore(spark: SparkSession, path: String)
    extends WatermarkStoreApi {
  import spark.implicits._
  private val snapshot = new ControlSnapshot[TableLoadDetail](spark, path)

  private def key(systemType: String, db: String, table: String): Long = {
    // deterministic id for the logical key (replaces MAX(id)+1)
    val s = s"${systemType.toLowerCase}|${db.toLowerCase}|${table.toLowerCase}"
    java.util.UUID.nameUUIDFromBytes(s.getBytes("UTF-8"))
      .getMostSignificantBits & Long.MaxValue
  }

  private def matches(systemType: String, db: String, table: String)(
      d: TableLoadDetail): Boolean =
    d.systemType.equalsIgnoreCase(systemType) &&
      d.databaseName.equalsIgnoreCase(db) &&
      d.tableName.equalsIgnoreCase(table)

  def all(): Dataset[TableLoadDetail] = spark.createDataset(snapshot.rows())

  /** `GetMaxTimestampUsingPython` equivalent (C3, `Ingest:453-459`). */
  def lastLoad(systemType: String, db: String, table: String): Option[Timestamp] =
    snapshot.rows().find(matches(systemType, db, table)).flatMap(_.lastLoadDate)

  /** MERGE WHEN MATCHED THEN UPDATE / WHEN NOT MATCHED AND insertConfig
    * THEN INSERT (`Ingest:373-415`). The reference only inserts on the
    * chunked path (`insertconfig`, `Ingest:426,431`) — same flag here.
    * `lastLoad` is already lagged by the caller (−80h, F4). */
  def commit(systemType: String, db: String, table: String,
      lastLoad: Timestamp, insertIfMissing: Boolean): Unit =
    snapshot.update { existing =>
      val now = new Timestamp(System.currentTimeMillis())
      val hit = matches(systemType, db, table) _
      // rewrite only when the merge changed something: matched rows are
      // updated, or an insert happens (no-match + !insertIfMissing is the
      // one no-op path)
      if (existing.exists(hit))
        Some(existing.map(d =>
          if (hit(d)) d.copy(lastLoadDate = Some(lastLoad), sqlUpdatedDate = Some(now))
          else d))
      else if (insertIfMissing)
        Some(existing :+ TableLoadDetail(
          key(systemType, db, table), systemType, db, table.toLowerCase,
          Some(lastLoad), now, None))
      else None
    }
}
