package graft.operators

import graft.SparkSpec
import org.apache.hadoop.fs.Path

/** The sidecar write/read contract — in particular the r17 judge
  * finding: `FileContext.rename(OVERWRITE)` is delete-then-rename on
  * the local FS (and non-atomic on most object stores), so an
  * identical-bytes rewrite of an existing sidecar opens a
  * reader-visible missing-file window. Content-addressed writes must
  * therefore SKIP when the destination exists, and manifest-referenced
  * reads get a bounded existence retry for the non-content-addressed
  * rewrite paths. */
class SidecarsSpec extends SparkSpec {

  test("content-addressed rewrite: an existing destination is never " +
    "touched — a hammering writer storm leaves zero reader-visible " +
    "missing-file windows") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val dir = tmpDir("sidecar-race")
    val p = new Path(dir, "_ivf_codebook-deadbeef.txt")
    val content = "0:" + (0 until 32).map(_ => "1.0").mkString(",")
    Sidecars.write(spark, p, content)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mtime0 = fs.getFileStatus(p).getModificationTime
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val misses = new java.util.concurrent.atomic.AtomicInteger(0)
    try {
      // 4 writers rewriting the SAME content-addressed sidecar as fast
      // as they can — the r17 storm's retrain shape, where every
      // retrain converges on the same seed codebook and fingerprint
      val writers = (0 until 4).map { _ =>
        Future {
          var n = 0
          while (!stop.get() && n < 2000) {
            Sidecars.write(spark, p, content)
            n += 1
          }
        }
      }
      // 1 reader polling raw existence (no retry — the point is that
      // the FILE never vanishes, not that a retry would paper over it)
      val reader = Future {
        var reads = 0
        while (!stop.get() && reads < 20000) {
          if (Sidecars.read(spark, p).isEmpty) misses.incrementAndGet()
          reads += 1
        }
        reads
      }
      Await.result(Future.sequence(writers), 120.seconds)
      stop.set(true)
      assert(Await.result(reader, 60.seconds) > 0)
      assert(misses.get() == 0,
        s"reader saw ${misses.get()} missing-file windows during a " +
          "content-addressed rewrite storm — the skip-on-exists guard " +
          "is not closing the rename window")
      assert(fs.getFileStatus(p).getModificationTime == mtime0,
        "a content-addressed rewrite touched an existing destination")
      assert(Sidecars.read(spark, p).contains(content))
    } finally { stop.set(true); pool.shutdown() }
  }

  test("content-addressed CREATION race: writers racing to create the " +
    "same NEW fingerprint never un-create it — once a reader sees the " +
    "file, it never vanishes (the no-overwrite rename refuses the " +
    "losers instead of delete-then-renaming the winner)") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val dir = tmpDir("sidecar-create")
    val content = "0:" + (0 until 16).map(_ => "2.0").mkString(",")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // many rounds: each round is a fresh never-written fingerprint
      // that 4 writers race to create while a reader polls for the
      // seen-then-missing transition the old OVERWRITE rename allowed
      (0 until 50).foreach { round =>
        val p = new Path(dir, s"_ivf_codebook-create$round.txt")
        val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
        val unCreated = new java.util.concurrent.atomic.AtomicInteger(0)
        val reader = Future {
          var seen = false
          while (!stop.get()) {
            val there = Sidecars.read(spark, p).isDefined
            if (seen && !there) unCreated.incrementAndGet()
            seen = seen || there
          }
          seen
        }
        val writers = (0 until 4).map { _ =>
          Future { Sidecars.write(spark, p, content) }
        }
        Await.result(Future.sequence(writers), 60.seconds)
        stop.set(true)
        assert(Await.result(reader, 30.seconds),
          s"round $round: reader never saw the file")
        assert(unCreated.get() == 0,
          s"round $round: the file vanished after creation " +
            s"${unCreated.get()} times — a losing creator " +
            "delete-then-renamed the winner's file")
        assert(Sidecars.read(spark, p).contains(content))
      }
    } finally pool.shutdown()
  }

  test("readRetrying absorbs a transient rename window and still " +
    "reports a genuine out-of-band deletion") {
    val dir = tmpDir("sidecar-retry")
    val p = new Path(dir, "_mirror")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // transient: the file appears 60 ms after the first miss — the
    // bounded retry (3 x 50 ms) must pick it up
    val writer = new Thread(() => {
      Thread.sleep(60)
      Sidecars.write(spark, p, "late")
    })
    writer.start()
    try assert(Sidecars.readRetrying(spark, p).contains("late"))
    finally writer.join()
    // genuine deletion: retries drain and the caller sees None
    fs.delete(p, false)
    val t0 = System.nanoTime()
    assert(Sidecars.readRetrying(spark, p).isEmpty)
    val ms = (System.nanoTime() - t0) / 1e6
    assert(ms >= 140, s"retries drained too fast ($ms ms) — the " +
      "bounded retry is not actually sleeping")
  }
}
