package perfbench

import graft.operators.{Scd2, Versioned}
import graft.sources.ScanProbe
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** `lake_upsert`: a seeded stream of CDC-style DML against lake tables
  * staged in set-up, each op followed by a read-after-write.
  *
  *  - `orders`, a snapshot table read and written through a
  *    [[graft.sources.GraftCatalog]]: SQL `MERGE INTO` (updates plus
  *    inserts), `DELETE` and `UPDATE`, with compaction
  *    (`Versioned.compactSmall`) and `Versioned.vacuum` every
  *    [[UpsertWorkload.Cycle]] ops;
  *  - `customers`, an SCD2 history in a partitioned parquet table,
  *    changed through `Scd2.applyToTable` (some changes move a key to
  *    another partition).
  *
  * The benchmark keeps its own model of both tables, applies every op
  * to it, and checks each read-after-write against it; the final check
  * compares the whole tables.
  */
final class UpsertWorkload(ctx: Ctx) extends Workload {
  import UpsertWorkload._
  private val spark = ctx.spark
  private val tracer = ctx.tracer
  import spark.implicits._

  private var root: String = _
  private def ordersPath = s"$root/lake/orders"
  private def customersPath = s"$root/scd/customers"
  private val orders = mutable.LongMap.empty[(Long, String, Long)]
  // SCD2 model: every history row, and the index of each key's current row
  private val history = mutable.ArrayBuffer.empty[Cust]
  private val current = mutable.LongMap.empty[Int]
  private var nextOrder = 0L
  private var nextCust = 0L
  private var filesAdded = 0L
  private var filesRemoved = 0L
  private var commits = 0L
  private var bytesAdded = 0L
  private var rowsChanged = 0L
  private var filesRead, filesTotal = 0L

  def cycle: Int = Cycle
  // just before the first timed maintenance
  def spaceAmpAfter: Int = 2 * Cycle - 2

  def setup(dir: String): Unit = {
    root = dir
    val rnd = new scala.util.Random(ctx.seed)
    orders.clear(); history.clear(); current.clear()
    (0L until Orders).foreach { k =>
      orders(k) = (rnd.nextInt(Customers).toLong, Statuses(rnd.nextInt(3)),
        rnd.nextInt(10000000).toLong)
    }
    nextOrder = Orders
    // four appends of key-ordered rows: a multi-file, multi-version table
    // whose per-file key ranges are disjoint
    orders.toSeq.sortBy(_._1).grouped(((Orders + 3) / 4).toInt).foreach { part =>
      Versioned.commit(part.map { case (k, (c, s, p)) => (k, c, s, p) }
        .toDF("o_orderkey", "o_custkey", "o_status", "o_price").coalesce(1),
        ordersPath, "append")
    }
    (0L until Customers).foreach { c =>
      current(c) = history.size
      history += Cust(c, rnd.nextInt(Regions), Segments(rnd.nextInt(4)),
        rnd.nextInt(1000000).toLong, T0, None)
    }
    nextCust = Customers
    customerFrame(history.toSeq).write.partitionBy("c_region")
      .parquet(customersPath)
    spark.conf.set("spark.sql.catalog.bench",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.bench.root", root)
  }

  private def customerFrame(rows: Seq[Cust]): DataFrame =
    rows.map(c => (c.key, c.region, c.segment, c.balance,
        new java.sql.Timestamp(c.from / 1000),
        c.to.map(t => new java.sql.Timestamp(t / 1000))))
      .toDF("c_custkey", "c_region", "c_segment", "c_balance", "valid_from",
        "valid_to")

  def kind(i: Int): String = Pattern(i % Cycle)

  private var filesBefore: Set[String] = Set.empty
  private var versionBefore = -1L
  private var next: () => Op = _

  /** Draws op `i`'s inputs (from its own seed, so op i is the same on
    * every run however far the previous run got) and leaves the timed
    * part in `next`. */
  override def prepare(i: Int): Unit = {
    if (tracer.enabled) {
      filesBefore = Versioned.versionFiles(spark, ordersPath).toSet
      versionBefore = Lake.latestVersion(spark, ordersPath)
    }
    val rnd = new scala.util.Random(ctx.seed * 1000003L + i)
    next = kind(i) match {
      case "merge" => merge(rnd)
      case "delete" => delete(rnd)
      case "update" => update(rnd)
      case "scd2" => scd2(rnd, i)
      case "maintenance" => maintenance()
    }
  }

  def op(i: Int): Op = next()

  private def merge(rnd: scala.util.Random): () => Op = {
    val keys = orders.keys.toArray.sorted
    val upd = rnd.shuffle(keys.toSeq).take(MergeUpdates).map { k =>
      (k, rnd.nextInt(Customers).toLong, Statuses(rnd.nextInt(3)),
        rnd.nextInt(10000000).toLong)
    }
    val ins = (0 until MergeInserts).map { j =>
      (nextOrder + j, rnd.nextInt(Customers).toLong, "N",
        rnd.nextInt(10000000).toLong)
    }
    nextOrder += MergeInserts
    val changes = upd ++ ins
    changes.toDF("o_orderkey", "o_custkey", "o_status", "o_price")
      .createOrReplaceTempView("bench_changes")
    () => {
      tracer.span("upsert.merge") {
        spark.sql("""MERGE INTO bench.lake.orders AS t USING bench_changes AS s
          ON t.o_orderkey = s.o_orderkey
          WHEN MATCHED THEN UPDATE SET *
          WHEN NOT MATCHED THEN INSERT *""").collect()
      }
      readOrders("merge", changes.size, () => {
        changes.foreach { case (k, c, s, p) => orders(k) = (c, s, p) }
        true
      })
    }
  }

  private def delete(rnd: scala.util.Random): () => Op = {
    val c = rnd.nextInt(Customers).toLong
    () => {
      val n = tracer.span("upsert.delete") {
        spark.sql(s"DELETE FROM bench.lake.orders WHERE o_custkey = $c")
          .as[Long].head()
      }
      readOrders("delete", n, () => {
        val gone = orders.collect { case (k, (`c`, _, _)) => k }.toSeq
        gone.foreach(orders.remove)
        n == gone.size
      })
    }
  }

  private def update(rnd: scala.util.Random): () => Op = {
    val lo = rnd.nextInt(nextOrder.toInt).toLong
    val hi = lo + UpdateSpan - 1
    () => {
      val n = tracer.span("upsert.update") {
        spark.sql(s"""UPDATE bench.lake.orders
          SET o_status = 'U', o_price = o_price + 100
          WHERE o_orderkey BETWEEN $lo AND $hi""").as[Long].head()
      }
      readOrders("update", n, () => {
        val hit = orders.keys.filter(k => k >= lo && k <= hi).toSeq
        hit.foreach { k =>
          val (c, _, p) = orders(k)
          orders(k) = (c, "U", p + 100)
        }
        n == hit.size
      })
    }
  }

  /** Read-after-write: after `apply` brings the model up to date, the
    * table's count and checksums read right after the change must equal
    * the model's. */
  private def readOrders(kind: String, changed: Long,
      apply: () => Boolean): Op = {
    val got = tracer.span("upsert.read")(spark.sql(ReadSql).head())
    Op(changed, () => {
      if (tracer.enabled) {
        lakeDelta(changed)
        scanDelta()
      }
      val applied = apply()
      val want = (orders.size.toLong, orders.valuesIterator.map(_._3).sum,
        orders.valuesIterator.map(_._1).sum,
        orders.valuesIterator.count(_._2 == "U").toLong)
      val ok = applied && (got.getLong(0), got.getLong(1), got.getLong(2),
        got.getLong(3)) == want
      if (!ok) System.err.println(s"$kind read-after-write: got $got want $want")
      ok
    })
  }

  private def scd2(rnd: scala.util.Random, i: Int): () => Op = {
    val ts = T0 + (i + 1) * 3600L * 1000000L
    val keys = current.keys.toArray.sorted
    val picked = rnd.shuffle(keys.toSeq).take(Scd2Changes + Scd2Same)
    val changes = picked.zipWithIndex.map { case (k, j) =>
      val c = history(current(k))
      if (j < Scd2Same) c
      else if (j % 3 == 0) // moves to another region partition
        c.copy(region = (c.region + 1 + rnd.nextInt(Regions - 1)) % Regions,
          balance = rnd.nextInt(1000000).toLong)
      else c.copy(segment = Segments(rnd.nextInt(4)),
        balance = rnd.nextInt(1000000).toLong)
    } ++ (0 until Scd2New).map { j =>
      Cust(nextCust + j, rnd.nextInt(Regions), Segments(rnd.nextInt(4)),
        rnd.nextInt(1000000).toLong, ts, None)
    }
    nextCust += Scd2New
    val updates = changes.map(c => (c.key, c.region, c.segment, c.balance,
        new java.sql.Timestamp(ts / 1000)))
      .toDF("c_custkey", "c_region", "c_segment", "c_balance", "ts")
    () => {
      tracer.span("upsert.scd2") {
        Scd2.applyToTable(spark, customersPath, updates, Seq("c_custkey"),
          Seq("c_region", "c_segment", "c_balance"), "ts", Seq("c_region"))
      }
      val got = tracer.span("upsert.read") {
        spark.read.parquet(customersPath).agg(count(lit(1)),
          sum(when(col("valid_to").isNull, 1).otherwise(0)),
          sum(when(col("valid_to").isNull, col("c_balance"))),
          sum(col("c_region"))).head()
      }
      Op(changes.size, () => {
        applyScd2(changes, ts)
        if (tracer.enabled) rowsChanged += changes.size
        val live = current.valuesIterator.map(history).toSeq
        val want = (history.size.toLong, live.size.toLong,
          live.map(_.balance).sum, history.map(_.region.toLong).sum)
        val ok = (got.getLong(0), got.getLong(1), got.getLong(2),
          got.getLong(3)) == want
        if (!ok) System.err.println(s"scd2 read-after-write: got $got want $want")
        ok
      })
    }
  }

  /** SCD2 on the model: a changed key closes its current row and opens
    * a new one, a new key opens one, an unchanged key is left alone. */
  private def applyScd2(changes: Seq[Cust], ts: Long): Unit =
    changes.foreach { u =>
      current.get(u.key) match {
        case Some(idx) =>
          val c = history(idx)
          if ((c.region, c.segment, c.balance) != (u.region, u.segment, u.balance)) {
            history(idx) = c.copy(to = Some(ts))
            current(u.key) = history.size
            history += u.copy(from = ts, to = None)
          }
        case None =>
          current(u.key) = history.size
          history += u.copy(from = ts, to = None)
      }
    }

  private def maintenance(): () => Op = () => {
    tracer.span("upsert.maintenance") {
      Versioned.compactSmall(spark, ordersPath, CompactBelowBytes)
      Versioned.vacuum(spark, ordersPath)
    }
    readOrders("maintenance", 0, () => true)
  }

  /** Lake-side effect of the op on `orders`: commits, files added and
    * removed, bytes added. */
  private def lakeDelta(changed: Long): Unit = {
    val after = Versioned.versionFiles(spark, ordersPath).toSet
    val fs = new org.apache.hadoop.fs.Path(ordersPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val added = after -- filesBefore
    commits += Lake.latestVersion(spark, ordersPath) - versionBefore
    filesAdded += added.size
    filesRemoved += (filesBefore -- after).size
    bytesAdded += added.iterator.map(p =>
      fs.getFileStatus(new org.apache.hadoop.fs.Path(p)).getLen).sum
    rowsChanged += changed
  }

  /** Files the read-after-write's scan reads after pruning
    * (`ScanProbe.scannedFiles`) against the files of the version it reads
    * (`Versioned.fileStats`). The probe reads scan nodes out of the
    * executed plan, which adaptive execution wraps, so the query is
    * planned again (not run) with adaptive execution off. */
  private def scanDelta(): Unit = {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try filesRead += ScanProbe.scannedFiles(spark.sql(ReadSql)).getOrElse(0)
    finally spark.conf.set(key, prev)
    filesTotal += Versioned.fileStats(spark, ordersPath).size
  }

  def finalCheck(): Boolean = {
    val gotOrders = spark.table("bench.lake.orders")
      .as[(Long, Long, String, Long)].collect()
      .map { case (k, c, s, p) => k -> (c, s, p) }.toMap
    val ordersOk = gotOrders == orders.toMap
    val gotCust = spark.read.parquet(customersPath)
      .select("c_custkey", "c_region", "c_segment", "c_balance", "valid_from",
        "valid_to").collect().map { r =>
        Cust(r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3),
          micros(r, 4).get, micros(r, 5))
      }.toSeq.sortBy(c => (c.key, c.from))
    val custOk = gotCust == history.toSeq.sortBy(c => (c.key, c.from))
    if (!ordersOk || !custOk)
      System.err.println(s"upsert final check: orders=$ordersOk customers=$custOk")
    ordersOk && custOk
  }

  private def micros(r: Row, i: Int): Option[Long] =
    if (r.isNullAt(i)) None
    else {
      val t = r.getTimestamp(i)
      Some(t.getTime * 1000L + t.getNanos / 1000 % 1000)
    }

  def spaceAmp(): Double = {
    val live = Lake.liveBytes(spark, ordersPath) +
      Lake.parquetBytes(spark, customersPath)
    (Lake.bytesUnder(spark, s"$root/lake") +
      Lake.bytesUnder(spark, s"$root/scd")).toDouble / live
  }

  def layers(): Map[String, Double] = {
    val dv = Versioned.dvDeletedCounts(spark, ordersPath).values.sum
    Map(
      "lake.commits" -> commits.toDouble,
      "lake.files_added" -> filesAdded.toDouble,
      "lake.files_removed" -> filesRemoved.toDouble,
      "lake.live_files" -> Versioned.versionFiles(spark, ordersPath).size.toDouble,
      "lake.dv_rows" -> dv.toDouble,
      "lake.bytes_rewritten_per_row_changed" ->
        bytesAdded.toDouble / math.max(1L, rowsChanged),
      "scan.files_total" -> filesTotal.toDouble,
      "scan.files_read" -> filesRead.toDouble,
      "scan.files_read_ratio" -> filesRead.toDouble / math.max(1L, filesTotal),
      // each read-after-write returns one row
      "scan.rows_read_per_result" -> {
        val reads = tracer.ids("upsert.read")
        reads.map(id => ctx.counts.map(_.bySpan(id.toString)
          .getOrElse("records_read", 0L)).getOrElse(0L)).sum.toDouble /
          math.max(1, reads.size)
      },
      "upsert.merge_s" -> tracer.total("upsert.merge"),
      "upsert.delete_s" -> tracer.total("upsert.delete"),
      "upsert.update_s" -> tracer.total("upsert.update"),
      "upsert.scd2_s" -> tracer.total("upsert.scd2"),
      "upsert.read_s" -> tracer.total("upsert.read"),
      "upsert.maintenance_s" -> tracer.total("upsert.maintenance"))
  }
}

/** One SCD2 history row; instants in epoch micros. */
final case class Cust(key: Long, region: Int, segment: String, balance: Long,
    from: Long, to: Option[Long])

object UpsertWorkload {
  /** sf0.1's orders and customers / 8. */
  val Orders = 150000L / 8
  val Customers = 15000 / 8
  val Regions = 5
  /** Change rates per op: MERGE updates 1% of `orders` and inserts
    * 0.5%; UPDATE covers 0.5% of the key range; DELETE drops one
    * customer's orders (~10). SCD2 changes 4% of customers, resends 1%
    * unchanged and adds 1% new. */
  val MergeUpdates = (Orders / 100).toInt
  val MergeInserts = (Orders / 200).toInt
  val UpdateSpan = Orders / 200
  val Scd2Changes = Customers * 4 / 100
  val Scd2Same = Customers / 100
  val Scd2New = Customers / 100
  /** AutoCompact's default small-file threshold. */
  val CompactBelowBytes = 8L << 20
  val Statuses = Array("O", "F", "P")
  val Segments = Array("AUTO", "BUILD", "FURN", "HOUSE")
  val T0 = java.time.LocalDate.of(2024, 1, 1).toEpochDay * 86400L * 1000000L
  val Pattern = Array("merge", "update", "scd2", "delete", "maintenance")
  val Cycle = Pattern.length
  /** The read-after-write: count and checksums of `orders`. */
  val ReadSql = """SELECT count(*), sum(o_price), sum(o_custkey),
      sum(CASE WHEN o_status = 'U' THEN 1 ELSE 0 END)
    FROM bench.lake.orders"""
}
