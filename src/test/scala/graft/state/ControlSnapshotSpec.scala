package graft.state

import graft.SparkSpec
import graft.model.ConfigValue
import java.sql.Timestamp
import org.apache.hadoop.fs.Path

/** The parquet stores serve lookups from a driver-side copy keyed by the
  * table's file signature: warm reads start no Spark job, commits start
  * one, and any write that changes the files is seen on the next read. */
class ControlSnapshotSpec extends SparkSpec {
  import spark.implicits._

  private val t1 = Timestamp.valueOf("2026-01-01 00:00:00")
  private val t2 = Timestamp.valueOf("2026-02-01 00:00:00")

  private def fs(path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Spark jobs `body` starts on this thread. Suites share the session
    * and run concurrently, so only jobs carrying this call's job group
    * count; a marker job in a second group closes the window (the
    * listener bus is FIFO). */
  private def jobsIn(body: => Unit): Int = {
    val id = java.util.UUID.randomUUID().toString
    val (group, marker) = (s"snap-$id", s"snap-marker-$id")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val closed = new java.util.concurrent.CountDownLatch(1)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet(); ()
          case Some(`marker`) => closed.countDown()
          case _ =>
        }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      spark.sparkContext.setJobGroup(group, "control snapshot probe")
      body
      spark.sparkContext.setJobGroup(marker, "control snapshot marker")
      spark.sparkContext.parallelize(Seq(1), 1).count()
      assert(closed.await(30, java.util.concurrent.TimeUnit.SECONDS))
      jobs.get
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(l)
    }
  }

  test("warm lookups start no Spark job; a commit starts exactly one") {
    val cfg = new ConfigStore(spark, tmpDir("snapcfg") + "/config")
    cfg.upsert(ConfigValue("g", "a", "1", is_active = true))
    assert(jobsIn {
      assert(cfg.value("g", "a").contains("1"))
      assert(cfg.activeGroup("g") == Map("a" -> "1"))
      assert(cfg.allValues().size == 1)
    } == 0)
    assert(jobsIn(cfg.upsert(ConfigValue("g", "b", "2", is_active = true))) == 1)
    assert(jobsIn(assert(cfg.value("g", "b").contains("2"))) == 0)

    val wmPath = tmpDir("snapwm") + "/wm"
    val wm = new WatermarkStore(spark, wmPath)
    wm.commit("sys", "db", "t", t1, insertIfMissing = true)
    assert(jobsIn(assert(wm.lastLoad("sys", "db", "t").contains(t1))) == 0)
    assert(jobsIn(wm.commit("sys", "db", "t", t2, insertIfMissing = false)) == 1)
    // the no-op merge (no match, no insert) writes nothing
    assert(jobsIn(wm.commit("sys", "db", "u", t2, insertIfMissing = false)) == 0)
    assert(jobsIn(assert(wm.lastLoad("SYS", "DB", "T").contains(t2))) == 0)
    // a cold instance over the same table pays one read, then is warm
    val cold = new WatermarkStore(spark, wmPath)
    assert(jobsIn(assert(cold.lastLoad("sys", "db", "t").contains(t2))) == 1)
    assert(jobsIn(assert(cold.lastLoad("sys", "db", "t").contains(t2))) == 0)
  }

  test("a second store instance's commit is seen by the first's next lookup") {
    val cfgPath = tmpDir("snapcfg2") + "/config"
    val cfg = new ConfigStore(spark, cfgPath)
    cfg.upsert(ConfigValue("g", "a", "1", is_active = true))
    assert(cfg.value("g", "a").contains("1"))
    // stands in for ConfigAdmin run from another process
    new ConfigStore(spark, cfgPath).upsert(ConfigValue("g", "a", "2", is_active = true))
    assert(cfg.value("g", "a").contains("2"))
    // and the first instance's next upsert builds on the seen rows
    cfg.upsert(ConfigValue("g", "b", "3", is_active = true))
    assert(new ConfigStore(spark, cfgPath).activeGroup("g") ==
      Map("a" -> "2", "b" -> "3"))

    val wmPath = tmpDir("snapwm2") + "/wm"
    val wm = new WatermarkStore(spark, wmPath)
    wm.commit("sys", "db", "t", t1, insertIfMissing = true)
    assert(wm.lastLoad("sys", "db", "t").contains(t1))
    new WatermarkStore(spark, wmPath)
      .commit("sys", "db", "t", t2, insertIfMissing = false)
    assert(wm.lastLoad("sys", "db", "t").contains(t2))
  }

  test("an outside overwrite of the table's files is seen") {
    val path = tmpDir("snapout") + "/config"
    val cfg = new ConfigStore(spark, path)
    cfg.upsert(ConfigValue("g", "a", "1", is_active = true))
    assert(cfg.value("g", "a").contains("1"))
    Seq(ConfigValue("g", "a", "9", is_active = true),
        ConfigValue("g", "z", "8", is_active = false))
      .toDS().write.mode("overwrite").parquet(path)
    assert(cfg.value("g", "a").contains("9"))
    assert(cfg.allValues().size == 2)
    assert(cfg.all().count() == 2)
  }

  test("a deleted table dir reads as empty") {
    val cfgPath = tmpDir("snapdel") + "/config"
    val cfg = new ConfigStore(spark, cfgPath)
    cfg.upsert(ConfigValue("g", "a", "1", is_active = true))
    assert(cfg.value("g", "a").nonEmpty)
    assert(fs(cfgPath).delete(new Path(cfgPath), true))
    assert(cfg.value("g", "a").isEmpty)
    assert(cfg.allValues().isEmpty)

    val wmPath = tmpDir("snapdel") + "/wm"
    val wm = new WatermarkStore(spark, wmPath)
    wm.commit("sys", "db", "t", t1, insertIfMissing = true)
    assert(wm.lastLoad("sys", "db", "t").nonEmpty)
    assert(fs(wmPath).delete(new Path(wmPath), true))
    assert(wm.lastLoad("sys", "db", "t").isEmpty)
    assert(wm.all().count() == 0)
  }

  test("a warm store still recovers the crash-window backup") {
    val path = tmpDir("snapcrash") + "/wm"
    val wm = new WatermarkStore(spark, path)
    wm.commit("sys", "db", "a", t1, insertIfMissing = true)
    wm.commit("sys", "db", "b", t2, insertIfMissing = true)
    assert(wm.lastLoad("sys", "db", "a").contains(t1)) // warm
    // simulate the window: table only at the hidden .old backup
    assert(fs(path).rename(new Path(path), new Path(
      graft.operators.DataMerge.hiddenSibling(path, ".old"))))
    assert(wm.lastLoad("sys", "db", "b").contains(t2))
    assert(fs(path).exists(new Path(path)), "the read restored the table")
    wm.commit("sys", "db", "c", t2, insertIfMissing = true)
    val fresh = new WatermarkStore(spark, path)
    assert(Seq("a", "b", "c").forall(t => fresh.lastLoad("sys", "db", t).nonEmpty))
  }
}
