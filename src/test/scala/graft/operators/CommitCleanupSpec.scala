package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Every losing commit outcome cleans up after itself: a staged data
  * segment (`data/<uuid>`) or deletion-vector sidecar (`dv/<uuid>`)
  * that no committed manifest references must not survive a refused,
  * abandoned or retried commit — VACUUM's orphan sweep is the crash
  * backstop, not the normal path. Plus compactSmall's conflict path: a
  * commit interleaved between its staging and its CAS forces a
  * recompute that keeps the interleaved file, and a storm that never
  * relents ends in [[Versioned.CommitRaceExhausted]].
  */
class CommitCleanupSpec extends SparkSpec {
  import spark.implicits._

  /** Staged dirs under the table that no committed manifest names. The
    * tables here stay far below the gzip-checkpoint size, so every
    * manifest is plain text. */
  private def orphans(t: String): Set[String] = {
    val root = new java.io.File(t)
    def dirs(sub: String): Set[String] =
      Option(new java.io.File(root, sub).listFiles).toSeq.flatten
        .filter(_.isDirectory).map(d => s"$sub/${d.getName}").toSet
    val log = new java.io.File(root, Versioned.LogDir).listFiles
      .filter(_.getName.endsWith(".manifest"))
      .map(f => new String(java.nio.file.Files.readAllBytes(f.toPath),
        "UTF-8"))
      .mkString("\n")
    (dirs("data") ++ dirs("dv"))
      .filterNot(d => log.contains(s"$d/") || log.contains(s"$d:"))
  }

  private def rows(k0: Int, n: Int) =
    (k0 until k0 + n).map(i => (i.toLong, s"r$i")).toDF("k", "v")

  private def keys(t: String): Set[Long] =
    Versioned.read(spark, t).select($"k").as[Long].collect().toSet

  /** Install `hook` through `set`, firing `f` once and only on the
    * calling thread: suites share one session and run concurrently. */
  private def onceOnThisThread(set: (() => Unit) => Unit)(f: => Unit)
      : Unit = {
    val self = Thread.currentThread()
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    set(() => if ((Thread.currentThread() eq self) &&
      fired.compareAndSet(false, true)) f)
  }

  test("commitIf on a stale base returns None and leaves no segment") {
    val t = tmpDir("cc-if") + "/t"
    Versioned.commit(rows(0, 4), t) // v0
    Versioned.commit(rows(10, 2), t, "append") // v1: the base moved
    assert(Versioned.commitIf(rows(20, 3), t, "overwrite", Map.empty,
      expectedBase = 0L).isEmpty)
    assert(orphans(t).isEmpty, s"abandoned staging left ${orphans(t)}")
    assert(Versioned.versions(spark, t).max == 1L)
    assert(keys(t) == ((0L until 4L) ++ (10L until 12L)).toSet)
  }

  test("commitIfAppendRebase refusing an interleave leaves no segment") {
    val t = tmpDir("cc-rebase") + "/t"
    Versioned.commit(rows(0, 4), t) // v0
    // no guard = the operation's key domain is unknown: any appended
    // file may hold rows it should have seen, so the rebase refuses
    onceOnThisThread(Versioned.rebaseTestHook = _) {
      Versioned.commit(rows(100, 1), t, "append")
    }
    try assert(Versioned.commitIfAppendRebase(rows(50, 3), t,
      Map("operation" -> "merge"), expectedBase = 0L).isEmpty)
    finally Versioned.rebaseTestHook = () => ()
    assert(orphans(t).isEmpty, s"refused rebase left ${orphans(t)}")
    assert(keys(t) == ((0L until 4L) :+ 100L).toSet)
  }

  test("a losing create throws CreateConflict and leaves no segment") {
    val t = tmpDir("cc-create") + "/t"
    // the winner lands version 0 after the loser's fast-path check
    onceOnThisThread(Versioned.commitTestHook = _) {
      Versioned.commit(rows(0, 2), t, "create")
    }
    try intercept[Versioned.CreateConflict] {
      Versioned.commit(rows(10, 2), t, "create")
    } finally Versioned.commitTestHook = () => ()
    assert(orphans(t).isEmpty, s"lost create left ${orphans(t)}")
    assert(Versioned.versions(spark, t) == Seq(0L))
    assert(keys(t) == Set(0L, 1L))
  }

  test("a bucketed append over a concurrent rebucket throws " +
    "BucketLayoutChanged and leaves no segment") {
    val t = tmpDir("cc-bucket") + "/t"
    Versioned.commitBucketed(rows(0, 8), t, "k", 4) // v0: 4 buckets
    // the rebucket lands after the append checked the 4-bucket layout
    onceOnThisThread(Versioned.commitTestHook = _) {
      Versioned.commitBucketed(rows(0, 8), t, "k", 8)
    }
    try intercept[Versioned.BucketLayoutChanged] {
      Versioned.commitBucketed(rows(100, 4), t, "k", 4, "append")
    } finally Versioned.commitTestHook = () => ()
    assert(orphans(t).isEmpty, s"refused append left ${orphans(t)}")
    assert(Versioned.bucketSpec(spark, t).contains(("k", 8)))
    assert(keys(t) == (0L until 8L).toSet)
  }

  test("an InvariantViolation on staged rows leaves no segment or " +
    "sidecar (append and merge-on-read update)") {
    val t = tmpDir("cc-inv") + "/t"
    Versioned.commit(rows(0, 4), t, "overwrite",
      Invariants.encode(Seq(Invariants.NotNull("v"))))
    intercept[InvariantViolation] {
      Versioned.commit(Seq((9L, null: String)).toDF("k", "v"), t, "append")
    }
    assert(orphans(t).isEmpty, s"violating append left ${orphans(t)}")
    intercept[InvariantViolation] {
      Versioned.updateWithDv(spark, t, _ => true, col("k") === 1L,
        _.withColumn("v", lit(null).cast("string")))
    }
    assert(orphans(t).isEmpty, s"violating DV update left ${orphans(t)}")
    assert(Versioned.versions(spark, t).max == 0L)
  }

  test("a merge-on-read conflict abandons its sidecar and post-image " +
    "segment, and the recompute lands") {
    val t = tmpDir("cc-mor") + "/t"
    Versioned.commit(rows(0, 6).coalesce(1), t) // one file
    val computes = new java.util.concurrent.atomic.AtomicInteger(0)
    val self = Thread.currentThread()
    // a COW rewrite of the SAME file changes its manifest line, so the
    // first attempt's (file, row-index) sidecar is stale: recompute
    Versioned.dvTestHook = () => if (Thread.currentThread() eq self) {
      if (computes.incrementAndGet() == 1)
        Versioned.rewrite(spark, t, _ => true, col("k") === 5L,
          _.where(col("k") =!= 5L), Map("operation" -> "delete"))
    }
    try assert(Versioned.updateWithDv(spark, t, _ => true,
      col("k") === 2L, _.withColumn("v", lit("updated"))) == 1L)
    finally Versioned.dvTestHook = () => ()
    assert(computes.get() == 2, "the conflict must force a recompute")
    assert(orphans(t).isEmpty, s"abandoned DV attempt left ${orphans(t)}")
    val out = Versioned.read(spark, t).as[(Long, String)].collect().toMap
    assert(out == (0L until 6L).filter(_ != 5L)
      .map(k => k -> (if (k == 2L) "updated" else s"r$k")).toMap)
  }

  /** v0..v2: three one-row files, all under any threshold above a few
    * hundred bytes. */
  private def smallFilesTable(prefix: String): String = {
    val t = tmpDir(prefix) + "/t"
    Versioned.commit(rows(0, 1), t)
    Versioned.commit(rows(1, 1), t, "append")
    Versioned.commit(rows(2, 1), t, "append")
    t
  }

  test("compactSmall under a commit interleaved between staging and CAS " +
    "recomputes and keeps the interleaved file") {
    val t = smallFilesTable("cc-compact")
    val minBytes = 4096L
    // incompressible rows: one file well above the threshold, so the
    // recompute must CARRY it rather than fold it
    val big = (0 until 5000).map(i => (1000L + i, java.util.UUID
      .randomUUID().toString)).toDF("k", "v").coalesce(1)
    var bigFile = ""
    onceOnThisThread(Versioned.compactTestHook = _) {
      Versioned.commit(big, t, "append")
      bigFile = Versioned.versionFiles(spark, t)
        .diff(Versioned.versionFiles(spark, t, Some(2L))).head
    }
    val r = try Versioned.compactSmall(spark, t, minBytes)
    finally Versioned.compactTestHook = () => ()
    assert(bigFile.nonEmpty, "the interleave never fired")
    assert(Versioned.fileStats(spark, t)(bigFile).bytes.exists(_ >= minBytes))
    val (v, rewritten, carried) = r.getOrElse(fail("compaction refused"))
    assert(v == 4L && rewritten == 3L && carried == 1L, s"got $r")
    assert(Versioned.versionFiles(spark, t).contains(bigFile),
      "the interleaved append's file must survive the compaction")
    assert(orphans(t).isEmpty, s"abandoned compaction left ${orphans(t)}")
    assert(keys(t) == ((0L until 3L) ++ (1000L until 6000L)).toSet)
  }

  test("compactSmall that loses every attempt ends in " +
    "CommitRaceExhausted and leaves no segment") {
    val t = smallFilesTable("cc-storm")
    val self = Thread.currentThread()
    var k = 100
    Versioned.compactTestHook = () => if (Thread.currentThread() eq self) {
      Versioned.commit(rows(k, 1), t, "append"); k += 1
    }
    try intercept[Versioned.CommitRaceExhausted] {
      Versioned.compactSmall(spark, t, 1L << 20)
    } finally Versioned.compactTestHook = () => ()
    assert(k == 105, s"expected 5 attempts, saw ${k - 100}")
    assert(orphans(t).isEmpty, s"exhausted compaction left ${orphans(t)}")
    assert(keys(t) == ((0L until 3L) ++ (100L until 105L)).toSet)
  }
}
